package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `explain(formatted)` for named queries (all if none
  * given) so plan quality (PushedFilters, broadcast joins, WholeStageCodegen
  * spans) can be reviewed — SURVEY.md's "iterate until it's the plan you'd
  * want". The dump is [[normalize]]d, so dumps of two commits diff
  * directly:
  * {{{
  * sbt "runMain graft.Explain q36_snb_replies" > a.txt   # one commit
  * sbt "runMain graft.Explain q36_snb_replies" > b.txt   # the other
  * diff a.txt b.txt
  * }}} */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n================ $name ================")
      println(formatted(SparkEntry.queries(name)(spark, sfDir)))
    }
    spark.stop()
  }

  /** `df`'s formatted plan, [[normalize]]d. */
  def formatted(df: DataFrame): String =
    normalize(df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  /** A plan dump with the numbers that differ between two runs of the
    * same plan replaced by `N`: expression ids (`#123`), `plan_id`s,
    * operator and codegen ids (which shift when one operator is added),
    * RDD ids, source line numbers, and the lambda names and identity
    * hashes of objects a plan prints (`[J@1ad5da90`). */
  def normalize(plan: String): String = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "(?m)^\\(\\d+\\) " -> "(N) ",
    "(?m) \\(\\d+\\)$" -> " (N)",
    "(operator id[:=]? )\\d+" -> "$1N",
    "(codegen id : )\\d+" -> "$1N",
    "RDD\\[\\d+\\]" -> "RDD[N]",
    "\\.scala:\\d+" -> ".scala:N",
    "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda",
    "@[0-9a-f]{4,}\\b" -> "@N"
  ).foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }
}
