package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.SessionMemo

/** Session-scoped reader memo for the READ-ONLY fixture tables.
  *
  * `spark.read.parquet(path)` re-runs file listing + footer schema
  * inference on every call — measured **~84 ms per call** on this host
  * (a `GraphLoader.tpch` build pays it six times = ~450 ms, most of the
  * per-query driver floor; the bench constructs every query 4× per
  * sweep, so the suite re-infers the same six immutable schemas
  * thousands of times). Real deployments put this metadata in a catalog
  * or manifest precisely so readers never re-list (guide §6); this memo
  * is the path-based equivalent: ONE analyzed `DataFrame` per
  * (session, path), reused across queries.
  *
  * Scope contract: fixture inputs only — paths queries never write.
  * Paths written in-session (q14's persist target, Verify output dirs)
  * must NOT go through this memo: their file sets change between reads
  * and a cached `InMemoryFileIndex` would serve stale (deleted) splits.
  * Nothing is cached but driver-side METADATA (file list + schema) —
  * every action still scans the parquet bytes; results are never
  * memoized.
  */
object Tables {

  /** The memoized batch reader. Thread-safe; one entry per
    * (session, path). */
  def read(spark: SparkSession, path: String): DataFrame =
    SessionMemo(spark, ("parquet", path))(spark.read.parquet(path))

  /** Scan parallelism below which [[readWide]] fans the frame out —
    * a small single-row-group parquet file can never scan wider than
    * one task (splits are row-group-bounded), so every compute-heavy
    * expression ABOVE the scan (vector math, tokenize/gram explodes,
    * md5 hashing) runs on one core of the machine. */
  val WideFloor = 16

  /** [[read]] plus a SCALE-ADAPTIVE scan fan-out for compute-heavy
    * consumers: when the planned scan parallelism is under
    * min([[WideFloor]], cores) — the unsplittable-input case the
    * optimization guide's skew section names ("one huge unsplittable
    * file … repartition immediately after the read") — the frame is
    * round-robin repartitioned to the session's default parallelism so
    * per-row work above the scan uses the whole machine. A corpus-scale
    * input already scans at thousands of partitions and passes through
    * UNTOUCHED — the added exchange exists only where the scan could
    * not parallelize anyway, and it carries the one-file input once.
    * The partition-count probe plans the scan (driver-only, no job) and
    * is memoized with the frame. */
  def readWide(spark: SparkSession, path: String): DataFrame =
    SessionMemo(spark, ("wide", path)) {
      val df = read(spark, path)
      val target = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= math.min(WideFloor, target)) df
      else df.repartition(target)
    }
}
