package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Eighth-bit integer Shannon entropy of a string's CODE-POINT
  * distribution:
  *
  *   entropy8 = Σ_c cnt_c · (log8 N − log8 cnt_c)  div  N
  *
  * with `log8 x = 8·(bitlen(x)−1) + ((x·8) >> (bitlen(x)−1)) − 8` — the
  * engine's established `⌊8·log2⌋` integer log
  * ([[graft.ext.Retrieval.log8Sql]]), evaluated here in one native pass
  * so the arithmetic is bit-identical to the SQL oracle's replay.
  * Empty input scores 0 (callers drop it; DuckDB's 1..length unnest
  * yields no rows there).
  *
  * A native Catalyst `Expression` with `doGenCode` (preference order
  * (b)): the first cut of this operator was a relational
  * explode/groupBy (a needless corpus×doc_len shuffle for a per-row
  * computation), the second an array-HOF projection whose duplicated
  * lambda subtrees evaluated interpreted (measured 80 s at sf0.1).
  * This kernel is one O(n) loop over a stack histogram — it inlines
  * into whole-stage codegen and never shuffles. ASCII (the overwhelming
  * case) takes a 128-slot array; anything higher falls into a small
  * open-address map keyed by code point, so multilingual text stays one
  * pass too.
  */
final case class CharEntropy8Expr(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_entropy8 requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "char_entropy8"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy8Expr.entropy8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharEntropy8Expr.entropy8($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy8Expr =
    copy(child = newChild)
}

object CharEntropy8Expr {

  /** `⌊8·log2 x⌋`-granular integer log for x >= 1 — the log8Sql kernel. */
  private def log8(x: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    8L * e + ((x * 8) >> e) - 8
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def entropy8(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    if (len == 0) return 0L
    // ASCII fast path + open-address spill for higher code points
    val ascii = new Array[Long](128)
    var spillK: Array[Int] = null
    var spillV: Array[Long] = null
    var spillMask = 0
    var spillUsed = 0
    var n = 0L
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (spillK == null) {
          spillK = Array.fill(256)(-1); spillV = new Array[Long](256)
          spillMask = 255
        }
        var h = (cp * 0x9e3779b1) >>> 24 & spillMask
        while (spillK(h) != -1 && spillK(h) != cp) h = (h + 1) & spillMask
        if (spillK(h) == -1) {
          // quarter-full resize keeps probes short; the occupancy count
          // is maintained incrementally (a rescan here would be O(k^2)
          // per document in distinct code points — CJK/multilingual
          // docs with thousands of distinct chars would feel it)
          if (spillUsed * 4 >= spillK.length) {
            val (ok, ov) = (spillK, spillV)
            spillK = Array.fill(ok.length * 2)(-1)
            spillV = new Array[Long](ok.length * 2)
            spillMask = spillK.length - 1
            var j = 0
            while (j < ok.length) {
              if (ok(j) != -1) {
                var g = (ok(j) * 0x9e3779b1) >>> 24 & spillMask
                while (spillK(g) != -1) g = (g + 1) & spillMask
                spillK(g) = ok(j); spillV(g) = ov(j)
              }
              j += 1
            }
            h = (cp * 0x9e3779b1) >>> 24 & spillMask
            while (spillK(h) != -1 && spillK(h) != cp) h = (h + 1) & spillMask
          }
          spillK(h) = cp
          spillUsed += 1
        }
        spillV(h) += 1
      }
    }
    val l8n = log8(n)
    var sum = 0L
    var c = 0
    while (c < 128) {
      val cc = ascii(c)
      if (cc > 0) sum += cc * (l8n - log8(cc))
      c += 1
    }
    if (spillK != null) {
      var j = 0
      while (j < spillK.length) {
        if (spillK(j) != -1) sum += spillV(j) * (l8n - log8(spillV(j)))
        j += 1
      }
    }
    sum / n
  }
}
