package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.slf4j.LoggerFactory

/** Skew-mitigation utilities for supernode frontiers (SURVEY.md §7.4
  * risk 5: at 100 TB a hot key — a celebrity vertex, a boilerplate
  * shingle — funnels one shuffle partition).
  *
  * First line of defense is AQE's runtime skew-join splitting; explicit
  * salting is the structural fix when a single key exceeds what AQE can
  * split (it rewrites the join key space itself). The reference's
  * analogue was segment splitting in its adjacency lists
  * (TorcEdgeList.java:223-306).
  */
object Skew {

  /** Salted equi-join: the big (skewed) side gets a deterministic salt in
    * [0, salts) derived from row identity, the small side is replicated
    * once per salt value, and the join key becomes (key, salt) — hot keys
    * spread over `salts` reducers. Result equals
    * `big.join(small, bigKey === smallKey, "inner")` with `small`'s
    * columns appended.
    *
    * Use when one side is small enough to replicate `salts` times but too
    * big (or too mismatched) to broadcast outright.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, salts: Int): DataFrame = {
    require(salts > 0)
    // Deterministic per-row salt: hash of the whole row spreads rows of
    // the SAME hot key across salt values (a key-derived salt would not).
    val salted = big.withColumn("_salt",
      pmod(hash(big.columns.map(col): _*), lit(salts)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated,
        salted(bigKey) === replicated(smallKey) &&
        salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Frequency-cap filter: drop join keys hotter than `maxCount` (the
    * stop-shingle / supernode cutoff for similarity self-joins, where a
    * universal key contributes O(n^2) pairs and no signal). Returns the
    * filtered frame; the dropped hot keys are available via
    * [[hotKeys]] for logging. */
  def capFrequency(df: DataFrame, key: String, maxCount: Long): DataFrame = {
    val hot = hotKeys(df, key, maxCount)
    df.join(hot, Seq(key), "left_anti")
  }

  def hotKeys(df: DataFrame, key: String, maxCount: Long): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") > maxCount).select(key)

  /** Default member cap for LSH band buckets: a bucket of m members
    * contributes m(m-1)/2 candidate pairs, so 1000 bounds any single
    * bucket to ~500k pairs. Fixture buckets are two orders of magnitude
    * below this, so the cap never fires on oracle data. */
  val DefaultBucketCap = 1000L

  private val log = LoggerFactory.getLogger(getClass)
  private val obsSeq = new AtomicLong()

  /** Log observed hot-bucket drops once per completed query. Installed
    * once per session, as a memoized entry. */
  private def ensureDropLogger(spark: SparkSession): Unit =
    graft.plans.SessionMemo(spark, "skew.dropLogger") {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft.skew.") && row.getLong(0) > 0)
              log.warn(s"$name: dropped ${row.getLong(0)} member row(s) in " +
                s"over-cap buckets (largest bucket: ${row.getLong(1)})")
          }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }

  /** Frequency-cap a banded self-join input on a composite bucket key:
    * rows in buckets with more than `maxCount` members are dropped
    * before the join (the stop-shingle / degenerate-band cutoff — a
    * universal bucket contributes O(n^2) candidate pairs and no
    * signal). Implemented as a window count over the bucket key, NOT an
    * aggregate + anti-join: the window's shuffle partitions by exactly
    * the key the downstream band join hashes on, so the join reuses the
    * exchange instead of recomputing the (expensive) band input for a
    * separate hot-key aggregation. The drop count is observed IN-PLAN
    * (`Dataset.observe` before the filter, no extra job) and logged on
    * query completion via a per-session listener, so the cap stays
    * fully lazy.
    *
    * `maxCount = Long.MaxValue` disables capping and returns `df`
    * unchanged. */
  def capBuckets(df: DataFrame, keys: Seq[String], maxCount: Long,
      what: String = "bucket"): DataFrame = {
    if (maxCount == Long.MaxValue) return df
    require(maxCount > 0, s"bucket cap must be positive, got $maxCount")
    ensureDropLogger(df.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    df.withColumn("_cnt", count(lit(1)).over(w))
      // Unique observation name per call-site instance: duplicate names
      // in one plan are an analysis error (e.g. a union of two capped
      // frames).
      .observe(s"graft.skew.$what.${obsSeq.incrementAndGet()}",
        coalesce(sum(when(col("_cnt") > maxCount, lit(1L))), lit(0L)).as("hot_rows"),
        coalesce(max(when(col("_cnt") > maxCount, col("_cnt"))), lit(0L)).as("max_hot_bucket"))
      .where(col("_cnt") <= maxCount)
      .drop("_cnt")
  }
}
