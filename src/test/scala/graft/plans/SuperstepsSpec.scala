package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fixpoint family's size-adaptive escape ([[Supersteps.escape]]):
  * which branch a size takes, and how often the input is computed. */
class SuperstepsSpec extends SparkSpec {

  private val cap = 50L

  /** A `(_s, _d)` frame of `n` rows whose every row evaluation passes a
    * counting UDF, with the accumulator it counts into. */
  private def counted(n: Long) = {
    val acc = spark.sparkContext.longAccumulator
    val touch = udf { (x: Long) => acc.add(1L); x }
    (spark.range(n).select(touch(col("id")).as("_s"), (col("id") + 1).as("_d")),
      acc)
  }

  test("exactly cap rows take the driver branch and leave no persisted RDD") {
    val (df, acc) = counted(cap)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Supersteps.escape[Seq[Long]](Seq(df), cap) {
      case Seq(rows) => rows.map(_.getLong(0)).sorted.toSeq
    } { (_, _) => fail("cap rows must take the driver branch") }
    assert(got == (0L until cap))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(acc.value == cap)
  }

  test("cap + 1 rows take the distributed branch over one materialization") {
    val (df, acc) = counted(cap + 1)
    val n = Supersteps.escape[Long](Seq(df), cap) { _ =>
      fail("cap + 1 rows must take the distributed branch")
    } { case (Seq(f), Seq(rows)) =>
      assert(rows == cap + 1)
      f.select(sum(col("_s"))).head().getLong(0)
      f.count()
    }
    assert(n == cap + 1)
    assert(acc.value == cap + 1,
      s"the input was computed ${acc.value} row times, not once")
  }

  test("the cap applies to the total across inputs, cast to bigint") {
    import spark.implicits._
    val a = Seq((1, 2), (3, 4)).toDF("x", "y")
    val b = Seq(5, 6, 7).toDF("z")
    val small = Supersteps.escape[Seq[Long]](Seq(a, b), 5L) {
      case Seq(ra, rb) =>
        ra.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSeq ++
          rb.map(_.getLong(0)).toSeq
    } { (_, _) => fail("5 rows under a cap of 5 take the driver branch") }
    assert(small.sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val rows = Supersteps.escape[Seq[Long]](Seq(a, b), 4L) { _ =>
      fail("5 rows over a cap of 4 take the distributed branch")
    } { (_, n) => n }
    assert(rows == Seq(2L, 3L))
  }

  test("a frame the caller already checkpointed is not materialized again") {
    val ck = spark.range(10).toDF("_v").localCheckpoint()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Supersteps.escape[Unit](Seq(ck), 0L) { _ => fail("cap 0 is distributed") } {
      case (Seq(f), Seq(n)) => assert((f eq ck) && n == 10L)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    Supersteps.release(ck)
  }
}
