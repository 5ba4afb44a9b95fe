package graft

/** Dev tool: dump `explain(formatted)` for named queries (all if none
  * given) so plan quality (PushedFilters, broadcast joins, WholeStageCodegen
  * spans) can be reviewed — SURVEY.md's "iterate until it's the plan you'd
  * want". */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n================ $name ================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
