package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level helper functions for the graft engine.
  *
  * All helpers compose built-in, codegen-friendly Catalyst expressions —
  * no Scala UDFs on hot paths (SURVEY.md §7.3).
  */
package object functions {

  /** 128-bit unsigned id as `struct<hi: bigint, lo: bigint>`.
    * Orderable: Spark struct ordering compares fields in sequence, which
    * matches unsigned order as long as both halves are non-negative (true
    * for all ids we mint: hi = label-space id, lo = natural key).
    * Reference semantics: UInt128.java:34-41.
    */
  def uint128(hi: Column, lo: Column): Column =
    struct(hi.cast("bigint").as("hi"), lo.cast("bigint").as("lo"))

  /** Cosine similarity between two float-array columns, computed as a
    * sequential left fold in double precision (deterministic order) by
    * the native codegen'd [[DotProductExpr]] (norms = dot(v, v)). */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))

  /** Dot product of two float-array columns in double precision — the
    * native codegen'd [[DotProductExpr]] (bitwise-identical to the
    * zip_with + aggregate fold it replaces, ~100x faster: tight
    * primitive loop inside whole-stage codegen vs interpreted
    * higher-order functions). */
  def dotProduct(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    column(DotProductExpr(expression(a), expression(b)))
  }

  /** 64-bit polynomial rolling hash of a string column — a native
    * codegen'd Catalyst expression ([[RollingHash64Expr]]). */
  def rollingHash64(c: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      RollingHash64Expr(org.apache.spark.sql.GraftSqlShims.expression(c)))

  /** `a * x + b` on a long column with 64-bit wraparound (ANSI-safe) —
    * the universal-hash permutation ([[MulAddWrapExpr]]). */
  def mulAddWrap(c: Column, a: Long, b: Long): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      MulAddWrapExpr(org.apache.spark.sql.GraftSqlShims.expression(c), a, b))

  /** Z-order (Morton) key of two int columns — a native codegen'd
    * Catalyst expression ([[InterleaveBitsExpr]]). */
  def interleaveBits(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      InterleaveBitsExpr(
        org.apache.spark.sql.GraftSqlShims.expression(x),
        org.apache.spark.sql.GraftSqlShims.expression(y)))
}
