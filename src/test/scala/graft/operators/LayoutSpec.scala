package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.InterleaveBitsExpr

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Per-partition (min, max) spans of two columns — one partition is
    * one output file, so the spans measure a layout's skipping power. */
  private def fileSpans(df: org.apache.spark.sql.DataFrame, xCol: String,
      yCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("_f", spark_partition_id())
      .groupBy("_f")
      .agg(min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))

  test("interleave kernel matches a bit-by-bit reference on edge and random values") {
    def reference(x: Int, y: Int): Long = {
      val ux = (x ^ Int.MinValue).toLong & 0xffffffffL
      val uy = (y ^ Int.MinValue).toLong & 0xffffffffL
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((ux >> i) & 1L) << (2 * i)
        z |= ((uy >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rng = new scala.util.Random(42)
    val cases = Seq(0, 1, -1, Int.MinValue, Int.MaxValue, 12345, -98765) ++
      Seq.fill(200)(rng.nextInt())
    for (x <- cases; y <- cases.take(20))
      assert(InterleaveBitsExpr.interleave(x, y) == reference(x, y), s"($x, $y)")
  }

  test("expression evaluates through codegen identically to the kernel") {
    val df = Seq((0, 0), (1, 2), (-5, 7), (Int.MaxValue, Int.MinValue),
      (123456, -654321)).toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.functions.interleaveBits(col("x"), col("y")).as("z"))
      .as[(Int, Int, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == InterleaveBitsExpr.interleave(x, y))
    }
    // z-order locality: nearby points share high bits (same quadrant)
    val a = InterleaveBitsExpr.interleave(10, 10)
    val b = InterleaveBitsExpr.interleave(11, 11)
    val far = InterleaveBitsExpr.interleave(10, 1 << 30)
    assert(java.lang.Long.numberOfLeadingZeros(a ^ b) >
      java.lang.Long.numberOfLeadingZeros(a ^ far))
  }

  test("z-order layout balances per-file spans across BOTH dimensions") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_partkey").cast("int").as("x"),
        col("l_suppkey").cast("int").as("y"))
    val files = 16
    // Mean normalized per-file span of each dimension = the expected
    // fraction of files a single-dimension point predicate must READ
    // (a file is skippable iff its [min, max] misses the point). The
    // box AREA is ~1/files for any balanced layout — the z-order win is
    // that NEITHER dimension's span stays at 1.0.
    def meanSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = fileSpans(df, "x", "y")
        .select(col("x_max") - col("x_min"), col("y_max") - col("y_min"))
        .as[(Int, Int)].collect()
      val (rx, ry) = (
        li.agg(max("x") - min("x")).as[Int].head().toDouble,
        li.agg(max("y") - min("y")).as[Int].head().toDouble)
      (spans.map(_._1 / rx).sum / spans.length,
        spans.map(_._2 / ry).sum / spans.length)
    }
    // single-column sort: x-files are tight in x but span ALL of y —
    // a y-only predicate reads EVERY file
    val xSorted = li.repartitionByRange(files, col("x"))
      .sortWithinPartitions("x")
    val zOrdered = Layout.zorderBy(li, "x", "y", files)
    val (sxX, sxY) = meanSpans(xSorted)
    val (szX, szY) = meanSpans(zOrdered)
    assert(sxY > 0.9, s"x-sort should span ~full y per file, got $sxY")
    assert(szY < sxY / 2, s"z-order y-span $szY not < half of x-sort's $sxY")
    assert(szX < 0.5, s"z-order x-span $szX lost x locality")

    // and the layout is lossless: same multiset of rows
    assert(zOrdered.count() == li.count())
    assert(zOrdered.exceptAll(li).isEmpty && li.exceptAll(zOrdered).isEmpty)
  }
}
