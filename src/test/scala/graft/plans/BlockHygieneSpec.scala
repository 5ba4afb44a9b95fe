package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GraphLoader

/** Round-10 verdict finding #2: nothing in src/main ever called
  * `unpersist`, so every superstep checkpoint persisted blocks for the
  * session lifetime — the driver's 135-query bench session accumulated
  * thousands of stranded blocks and late queries paid eviction/GC
  * (q01 2.8x in-suite vs 0.88x standalone, identical plan). The fix is
  * two-layered: iterative loops release each superseded round's state
  * via `Supersteps.cut(df, superseded)` the moment the next checkpoint
  * materializes, and Bench/Verify sweep whatever remains after each
  * query. This spec gates the first layer: an N-round iterative
  * operator must leave O(1) persisted RDDs behind, not O(rounds) —
  * and its RESULT must still be fully consumable afterwards (releases
  * must only ever drop blocks with no remaining consumer).
  */
class BlockHygieneSpec extends SparkSpec {

  private lazy val g = GraphLoader.snb(spark, sf0001)

  private def persistedCount(): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Run `op`, fully consume its result, and return (result rows,
    * persisted RDDs added while running). */
  private def leakOf(op: => org.apache.spark.sql.DataFrame): (Long, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = op.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before).size
    // leave the session clean for other suites
    Supersteps.sweep(spark, before)
    (rows, added)
  }

  test("connectedComponents leaves O(1) persisted RDDs, not O(rounds)") {
    // smallGraphRows = 0: the distributed superstep loop, not the
    // driver escape sf0.001 would otherwise take
    val (rows, added) = leakOf(
      graft.analytics.Iterative.connectedComponents(g, smallGraphRows = 0L))
    assert(rows > 0)
    // loop-constant edge/vertex checkpoints + the final state — the
    // per-round superseded states must all have been released. The
    // bound is deliberately loose (≤ 6) so a refactor adding one
    // loop-constant frame doesn't flake it, while the old behavior
    // (one stranded RDD per round, ~10+ here) still fails loudly.
    assert(added <= 6, s"connectedComponents stranded $added persisted RDDs")
  }

  test("distributed kCore and labelPropagation leave O(1) persisted RDDs") {
    import graft.analytics.Iterative
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kCore" -> (() => Iterative.kCore(g, 3, Set("KNOWS"), smallGraphRows = 0L)),
      "labelPropagation" -> (() =>
        Iterative.labelPropagation(g, 5, Set("KNOWS"), smallGraphRows = 0L))
    ).foreach { case (name, op) =>
      val (rows, added) = leakOf(op())
      assert(rows > 0, name)
      // the escape's edge and vertex checkpoints + the final state
      assert(added <= 4, s"$name stranded $added persisted RDDs")
    }
  }

  test("distributed maximalIndependentSet keeps only its per-round winners") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mis = graft.analytics.Iterative.maximalIndependentSet(g, Set("KNOWS"),
      smallGraphRows = 0L)
    val rounds = mis.agg(max(col("mis_round"))).head().getInt(0)
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before).size
    Supersteps.sweep(spark, before)
    assert(rounds > 1)
    // each round's winners are the result; the superseded active
    // subgraphs are released: escape inputs + final state + winners
    assert(added <= 3 + rounds,
      s"maximalIndependentSet stranded $added persisted RDDs over $rounds rounds")
  }

  test("pageRank leaves O(1) persisted RDDs over 20 rounds") {
    val (rows, added) = leakOf(graft.analytics.Iterative.pageRank(g))
    assert(rows > 0)
    assert(added <= 6, s"pageRank stranded $added persisted RDDs")
  }

  test("sccAssignments consumers leave O(1) persisted RDDs") {
    val (rows, added) = leakOf(
      graft.analytics.Iterative.condensationLayers(g, Set("KNOWS")))
    assert(rows > 0)
    // SCC peel (outer rounds x 2 fixpoints) + condensation + the layer
    // loop — the deepest composed iteration in the engine.
    assert(added <= 8, s"condensationLayers stranded $added persisted RDDs")
  }

  test("released loop state cannot break the returned frame") {
    // The result must be re-consumable AFTER the loop released its
    // intermediate blocks (release must never drop a live leaf).
    val cc = graft.analytics.Iterative.connectedComponents(g)
    val n1 = cc.count()
    val n2 = cc.select(countDistinct(col("component_id"))).head().getLong(0)
    assert(n1 > 0 && n2 > 0 && n2 <= n1)
  }

  test("pin exempts a frame from release") {
    import spark.implicits._
    val df = SessionMemo.frame(spark, "BlockHygieneSpec.pin")(Seq(1, 2, 3).toDF("x"))
    assert(!Supersteps.release(df), "release must skip pinned leaves")
    assert(df.count() == 3)
  }

  test("BPE training leaves O(1) persisted RDDs over 8 rounds") {
    import spark.implicits._
    val docs = Seq("low low low lower lower newest newest newest widest",
      "new newer newest wide wider widest low").toDF("text")
    val (rows, added) = leakOf(graft.ext.Bpe.bpeMerges(docs, rounds = 8))
    assert(rows > 0)
    assert(added <= 4, s"bpeMerges stranded $added persisted RDDs")
  }

  test("dedupClusters leaves O(1) persisted RDDs") {
    import spark.implicits._
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "the quick brown fox jumps over it"
        else s"unique text number $i with different words entirely"))
      .toDF("doc_id", "text")
    val (rows, added) = leakOf(graft.ext.Dedup.dedupClusters(docs))
    assert(rows > 0)
    assert(added <= 4, s"dedupClusters stranded $added persisted RDDs")
  }

  test("incremental components fold releases each superseded state") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // getPersistentRDDs holds its RDDs weakly, so a GC can drop a state
    // the fold never released before the count below sees it. Holding
    // every persisted RDD seen at each job start leaves an explicit
    // release as the only way out of the map.
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(holder)
    val added = try {
      // smallGraphRows = 0: the distributed fold, one
      // mergeComponentsBatch per batch, over three batches
      val state = graft.analytics.Iterative.incrementalComponents(
        (1L to 10L).toDF("id"),
        Seq(Seq((1L, 2L)), Seq((2L, 3L)), Seq((4L, 5L))).map(_.toDF("src", "dst")),
        smallGraphRows = 0)
      assert(state.where(col("component") === 1L).count() == 3)
      sc.getPersistentRDDs.keySet.diff(before).size
    } finally sc.removeSparkListener(holder)
    Supersteps.sweep(spark, before)
    // per-fold growth must not accumulate: only the LIVE state may
    // remain after 3 folds (plus one spare); each superseded state the
    // fold fails to release adds one more
    assert(added <= 2, s"incremental components fold stranded $added persisted RDDs")
  }
}
