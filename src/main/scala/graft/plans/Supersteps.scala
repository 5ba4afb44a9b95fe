package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Observation, Row, SparkSession}
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
  * inside `SizeInBytesOnlyStatsPlanVisitor` Toom-Cook multiplies). That
  * fold makes the cut mandatory rather than cosmetic: its state is
  * carried across batches, so without the cut the digits would grow
  * with the number of batches.
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
  *
  * THE LOOP CONTRACT. Every distributed superstep loop runs through
  * one of two drivers: [[rounds]] (each round replaces the state) or
  * [[closure]] (semi-naive: each round finds the fresh rows and
  * `visited ∪= fresh`). The driver owns the round counter, the [[cut]]
  * of each new state, the progress count, the release of superseded
  * state and the stop rule, so a loop body is only its round's plan:
  *  - one action per round: the progress count is an `Observation`
  *    on the round's own cut, never a separate `count`/`isEmpty` job
  *    (the closure's union cut is its second, data-carrying action);
  *  - seed ownership: the seed belongs to the caller and is never
  *    released; every later state is released once its successor's
  *    cut is live, unless a result still reads it lazily (the drain
  *    loops' emitted frames, `keepStates`);
  *  - stop rules: a round whose progress is zero ends the loop.
  *    At the round cap the loop either throws "… did not converge in N
  *    rounds" ([[Converge]]) or returns the bounded state ([[Bounded]]);
  *    each call site fixes which by its algorithm's contract.
  */
object Supersteps {

  /** `localCheckpoint` that cuts lineage AND statistics — use for any
    * frame that feeds back into the next round of a loop. Eager: the
    * checkpoint materializes (and fires any attached `Observation`)
    * before this returns.
    *
    * `superseded`: prior-round state frames to release once the new
    * checkpoint is live. Every `localCheckpoint` persists blocks for the
    * session lifetime — across a long session (the driver's 135-query
    * bench) thousands of stranded blocks (round-10 verdict finding #2).
    * The cut is eager, so when it returns the old blocks have no
    * remaining consumer and releasing them is safe. */
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
    * checkpoint (e.g. the edge set). [[isPinned]] leaves are always
    * skipped, so a memoized input threaded into a loop state can never
    * be torn down by the loop's own release. */
  def release(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftSqlShims.unpersistLeafRdd(df,
      skip = isPinned)

  /** Whether an RDD id is exempt from block-cleanup sweeps: a persisted
    * leaf of a frame a [[SessionMemo]] entry holds. */
  def isPinned(rddId: Int): Boolean = SessionMemo.held.contains(rddId)

  /** Unpersist every RDD persisted since `before` (the session's
    * persisted ids when a query started) except pinned ones. Superstep
    * checkpoints persist blocks for the session lifetime; a long
    * session that never sweeps strands thousands of blocks and later
    * queries pay eviction/GC (round-10 finding #2). Call it once the
    * query's result has landed, when those blocks have no consumer. */
  def sweep(spark: SparkSession, before: collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id) && !isPinned(id)) rdd.unpersist(blocking = false)
    }

  /** What a loop returns when its round cap arrives while its rounds
    * still make progress. */
  private[graft] sealed trait AtCap

  /** The result is a fixpoint or nothing: at the cap, throw "`what` did
    * not converge in N rounds; raise `knob`". */
  private[graft] final case class Converge(what: String, knob: String)
      extends AtCap

  /** The cap is part of the result (a bounded peel, a fixed iteration
    * count, Gremlin's dropped traversers): return the capped state. */
  private[graft] case object Bounded extends AtCap

  /** One round of a [[rounds]] loop, as its body sees it: `n` counts
    * from 1. */
  private[graft] final class Round private[plans] (val n: Int) {
    private[plans] var observed: Option[Observation] = None

    /** `df` with the aggregate `changed` observed on this round's cut:
      * zero ends the loop. A body that never calls it runs to the cap. */
    def progress(df: DataFrame, changed: Column): DataFrame = {
      val obs = new Observation()
      observed = Some(obs)
      df.observe(obs, changed.as("p"))
    }
  }

  /** The observed progress of a finished cut. No metrics row (a null
    * sum, or AQE pruning an empty plan together with its metrics node)
    * means nothing changed. */
  private def progressOf(obs: Observation): Long =
    obs.get.get("p") match {
      case Some(n: Long) => n
      case _ => 0L
    }

  private def stop(atCap: AtCap, cap: Int, progress: Long): Unit =
    atCap match {
      case Converge(what, knob) => require(progress == 0L,
        s"$what did not converge in $cap rounds (the last round's " +
          s"progress count was $progress); raise $knob")
      case Bounded =>
    }

  /** State-replacing rounds: round n cuts `step(state, round)` as the
    * next state, releasing the one it replaces. Returns the last state
    * (the seed itself only when `cap` is 0). `keepStates`: the caller's
    * results read every state lazily, so none is released. */
  private[graft] def rounds(seed: DataFrame, cap: Int, atCap: AtCap,
      keepStates: Boolean = false)(
      step: (DataFrame, Round) => DataFrame): DataFrame = {
    var state = seed
    var progress = -1L // unknown until a body observes it
    var n = 0
    while (n < cap && progress != 0L) {
      n += 1
      val round = new Round(n)
      val next = cut(step(state, round),
        superseded = if (keepStates || (state eq seed)) Nil else Seq(state))
      progress = round.observed.fold(-1L)(progressOf)
      state = next
    }
    stop(atCap, cap, progress)
    state
  }

  /** Semi-naive closure: round n cuts `fresh(delta, visited, n)` — the
    * rows the last round's delta reaches that `visited` lacks (the
    * body's anti-join) — counting them on that cut; zero ends the loop,
    * otherwise `visited ∪= fresh` is cut and the fresh rows become the
    * next delta. The seed is round 0's delta and visited set. Returns
    * the visited set (the seed when nothing was found) and the number
    * of rounds that found rows. */
  private[graft] def closure(seed: DataFrame, cap: Int, atCap: AtCap)(
      fresh: (DataFrame, DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var visited = seed
    var delta = seed
    var found = 0
    var progress = -1L
    while (found < cap && progress != 0L) {
      val obs = new Observation()
      val f = cut(fresh(delta, visited, found + 1)
        .observe(obs, count(lit(1)).as("p")))
      progress = progressOf(obs)
      if (progress == 0L) release(f)
      else {
        visited = cut(visited.unionByName(f),
          superseded = Seq(visited, delta).filterNot(_ eq seed))
        delta = f
        found += 1
      }
    }
    // the last delta's rows are in `visited` now
    if (!(delta eq seed)) release(delta)
    stop(atCap, cap, progress)
    (visited, found)
  }

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
          val obs = new Observation()
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
