package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The event-time queries (e12 tumbling, e14 sessions, e33 enrichment)
  * on a hand-made events table whose windows, sessions and join misses
  * are known exactly. */
class EventWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** A fixture directory holding these five events and a customer table
    * that knows user 7 only. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events").toString
    Seq(
      (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
      (2L, ts("2024-01-01 10:20:00"), 7L, "click", 2.0),
      (3L, ts("2024-01-01 10:59:00"), 8L, "view", 3.0),
      (4L, ts("2024-01-01 11:01:00"), 7L, "click", 4.0),
      (5L, ts("2024-01-01 12:30:00"), 7L, "click", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$d/events.parquet")
    Seq((7L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    d
  }

  test("e12 tumbling windows: hour buckets") {
    val out = Extensions.e12_window_tumbling(spark, dir)
      .select(col("window_start").cast("string"), col("event_type"), col("cnt"))
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 10:00:00", "view", 1L),
      ("2024-01-01 11:00:00", "click", 1L),
      ("2024-01-01 12:00:00", "click", 1L)))
  }

  test("e14 sessions: a 30 min gap splits sessions") {
    val out = Extensions.e14_sessionize(spark, dir)
      .select(col("user_id"), col("n_events"))
      .as[(Long, Long)].collect().toSeq
    // user 7: 10:05,10:20,11:01 merge (gaps 15m, 41m -> 41m>30m splits!)
    //   sessions: {10:05,10:20}, {11:01}, {12:30}; user 8: {10:59}
    assert(out == Seq((7L, 2L), (7L, 1L), (7L, 1L), (8L, 1L)))
  }

  test("e33 enrichment: facts with no dimension row pass through unmatched") {
    val out = Extensions.e33_stream_enrich(spark, dir)
      .as[(Option[String], String, Long, Double)].collect().toSeq
    assert(out == Seq(
      (None, "view", 1L, 3.0),
      (Some("BUILDING"), "click", 4L, 12.0)))
  }
}
