package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlShims, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}

/** Superstep checkpoint discipline.
  *
  * Every iterative loop in this engine (min-label components, BFS
  * frontiers, k-core peels, LPA, PageRank, the e29 dedup-cluster loop)
  * carries its state through `Dataset.localCheckpoint` so lineage stays
  * linear. Spark 4's `localCheckpoint`, however, cuts only the LINEAGE:
  * `LogicalRDD.fromDataset` rewrites the parent plan's ESTIMATED
  * statistics onto the checkpointed leaf
  * (`rewriteStatsAndConstraints`, sql/core ExistingRDD.scala), and
  * Catalyst's size-only join estimate is the PRODUCT of the children's
  * `sizeInBytes`. A superstep whose round references the loop state r
  * times therefore compounds the estimate geometrically — after n
  * rounds the `BigInt` carries on the order of r^n digits. The decimal
  * expansion itself becomes the cost: computing the next round's stats
  * is a driver-side `BigInteger` multiply over those digits, which
  * crosses from nanoseconds to MINUTES within ~10 rounds at r >= 3
  * (observed: the q49 incremental-components fold, 3 batches x ~4
  * pointer-jump rounds at r = 4, wedged the bench driver for >15 min
  * inside `SizeInBytesOnlyStatsPlanVisitor` Toom-Cook multiplies). An
  * unbounded streaming fold (`Streams.ComponentsMaintainer`) makes the
  * cut mandatory rather than cosmetic: digits would otherwise grow
  * with stream length.
  *
  * [[cut]] checkpoints and then re-wraps the persisted RDD through the
  * public `createDataFrame(RDD[Row], schema)` entry, which builds a
  * fresh `LogicalRDD` with NO carried statistics — the leaf reports the
  * session default again, exactly like a round-1 frame. The price is
  * one Row <-> InternalRow conversion per downstream evaluation, a
  * narrow map over the persisted blocks — noise next to the per-round
  * shuffle, and independent of round count. Broadcast decisions lose
  * the (by then astronomically wrong) estimate and fall to AQE, which
  * re-plans from ACTUAL shuffle sizes at runtime — the correct signal
  * for loop state whose size the planner cannot know anyway.
  *
  * One-shot frames (edge sets, seed frontiers) keep plain
  * `localCheckpoint`: their stats are computed once from real leaves,
  * stay small, and remain useful to the planner.
  */
object Supersteps {

  /** `localCheckpoint` that cuts lineage AND statistics — use for any
    * frame that feeds back into the next round of a loop. Eager: the
    * checkpoint materializes (and fires any attached `Observation`)
    * before this returns.
    *
    * `superseded`: prior-round state frames to release once the new
    * checkpoint is live. A loop only ever needs its LAST state, but
    * every `localCheckpoint` persists blocks for the session lifetime —
    * across a long session (the driver's 135-query bench) that is a
    * memory leak measured in thousands of stranded blocks (round-10
    * verdict finding #2), and on a real cluster it evicts working
    * memory. Because the cut is eager, by the time it returns every
    * partition of the NEW state is materialized and the old blocks have
    * no remaining consumer — releasing them here is safe even though
    * localCheckpoint truncates lineage. Callers that genuinely keep all
    * round states (e.g. GloVe's trainStates history face) simply don't
    * pass them. */
  def cut(df: DataFrame, superseded: Seq[DataFrame] = Nil): DataFrame = {
    val ck = df.localCheckpoint()
    superseded.foreach(release)
    // Zero-copy form: swap the checkpointed leaf for a stats-free twin
    // (same InternalRow RDD, same partitioning). The createDataFrame
    // fallback pays a Row <-> InternalRow conversion per downstream
    // evaluation and forgets partitioning — measured ~2x across the SNB
    // superstep queries at sf0.1 — so it only covers non-leaf plans,
    // which localCheckpoint never produces in practice.
    org.apache.spark.sql.GraftSqlShims.statsFreeLogicalRddCopy(ck)
      .getOrElse(ck.sparkSession.createDataFrame(ck.rdd, ck.schema))
  }

  /** Release the persisted blocks under every checkpointed leaf of a
    * [[cut]]/`localCheckpoint` result (or a projection over one). Only
    * pass frames whose persisted leaves are ALL superseded and fully
    * consumed — never a frame that still joins a live loop-constant
    * checkpoint (e.g. the edge set). [[pin]]ned leaves are always
    * skipped, so a memoized input threaded into a loop state can never
    * be torn down by the loop's own release. */
  def release(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftSqlShims.unpersistLeafRdd(df,
      skip = isPinned)

  // Session-lifetime memos (e.g. the queries layer's shared SCC
  // assignments) hold checkpointed frames whose lineage is truncated —
  // a block-cleanup sweep (Bench/Verify release new blocks after each
  // query) that unpersisted them would leave LATER consumers nothing to
  // recompute from. Memo owners pin; sweeps skip pinned ids.
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Mark a cut/checkpointed frame's persisted RDD as session-lifetime:
    * block-cleanup sweeps must not release it. Returns `df`. */
  def pin(df: DataFrame): DataFrame = {
    org.apache.spark.sql.GraftSqlShims.leafRddIds(df).foreach(pinned.add(_))
    df
  }

  /** Whether an RDD id is exempt from block-cleanup sweeps. */
  def isPinned(rddId: Int): Boolean = pinned.contains(rddId)

  private val escapeTag = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The fixpoint family's SIZE-ADAPTIVE escape, under the row cap
    * [[graft.analytics.Iterative.DefaultSmallGraphRows]]: below it an
    * operator collects its bounded inputs and replays its loop on the
    * driver (`driver`), above it runs the distributed superstep loop
    * (`distributed`) unchanged.
    *
    * Each input is materialized ONCE (`localCheckpoint`), its row count
    * observed on that same action, so the path above the cap never
    * computes a shuffle-fed input twice; the distributed loop receives
    * the materialized frames with their row counts. A frame that
    * already reads only materialized rows (a checkpoint, or a
    * projection/union over one) is taken as is and counted in one job.
    * When the TOTAL across all inputs is at most `cap` (and `cap > 0`;
    * `0` forces the distributed path), the inputs are collected in one
    * job with every column cast to bigint — the coercion the
    * distributed arithmetic applies — the checkpoints this call made
    * are released, and `driver` gets each input's rows in order. */
  def escape[T](inputs: Seq[DataFrame], cap: Long)(
      driver: Seq[Array[Row]] => T)(
      distributed: (Seq[DataFrame], Seq[Long]) => T): T = {
    // the checkpoints are independent: they run on driver threads, so a
    // call pays one action's latency floor, not one per input
    import scala.concurrent.ExecutionContext.Implicits.global
    val mat = inputs.map { df =>
      scala.concurrent.Future {
        if (GraftSqlShims.readsMaterialized(df)) (df, None)
        else {
          val obs = new Observation(s"escape_${escapeTag.incrementAndGet()}")
          val ck = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
          (ck, Some(obs.get("n").asInstanceOf[Long]))
        }
      }
    }.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    val frames = mat.map(_._1)
    val unknown = mat.indices.filter(mat(_)._2.isEmpty)
    val counted = if (unknown.isEmpty) Array.emptyLongArray
      else unknown.map(i => frames(i).select(lit(i).as("_i")))
        .reduce(_.unionAll(_)).rdd
        .aggregate(new Array[Long](inputs.size))(
          (n, r) => { n(r.getInt(0)) += 1L; n },
          (a, b) => { b.indices.foreach(i => a(i) += b(i)); a })
    val rows = mat.indices.map(i => mat(i)._2.getOrElse(counted(i)))
    if (cap <= 0 || rows.sum > cap) return distributed(frames, rows)
    val width = frames.map(_.columns.length).max
    val collected = frames.zipWithIndex.map { case (f, i) =>
      f.select(lit(i).as("_i") +: (0 until width).map { c =>
        (if (c < f.columns.length) col(s"`${f.columns(c)}`") else lit(null))
          .cast("bigint").as(s"_c$c")
      }: _*)
    }.reduce(_.unionAll(_)).collect()
    mat.foreach { case (f, n) => if (n.isDefined) release(f) }
    val parts = frames.map(_ => Array.newBuilder[Row])
    collected.foreach { r =>
      val i = r.getInt(0)
      parts(i) += Row.fromSeq(r.toSeq.slice(1, 1 + frames(i).columns.length))
    }
    driver(parts.map(_.result()))
  }
}
