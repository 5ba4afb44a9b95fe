package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Reference recording, run once when the workloads change: writes each
  * catalog query's result as Parquet for the DuckDB comparison, its
  * digest, the digest of the operator's other path for the fixpoint
  * queries, and the oracle SQL. `tools/record_refs.py` turns these into
  * `ref/<workload>.tsv`. */
object Record {
  def run(spark: SparkSession, spec: Catalog.Spec, data: String, out: String): Unit = {
    graft.sources.GraphLoader.declareTpchRi(spark, data)
    Catalog.writeReplicas(spark, spec, data, s"$out/tables")
    val dirs = Catalog.dirs(spec, data, s"$out/tables")
    val digests = Seq.newBuilder[String]
    val others = Seq.newBuilder[String]
    spec.queries.foreach { q =>
      val t0 = System.nanoTime()
      val fn = graft.SparkEntry.queries(q.name)
      val dir = dirs(q.replicas)
      digests += s"${q.label}\t${Catalog.digest(fn(spark, dir))}"
      Catalog.otherPath(q.name, spark, dir, distributed = q.replicas == 1) match {
        case Some(df) => others += s"${q.label}\t${Catalog.digest(df)}"
        case None =>
          fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/results/${q.label}")
      }
      System.err.println(f"[record] ${q.label} done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val oracles = spec.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q.name).map(q -> _))
    Files.writeString(Paths.get(out, "digests.tsv"), digests.result().mkString("", "\n", "\n"))
    Files.writeString(Paths.get(out, "other_path.tsv"), others.result().mkString("", "\n", "\n"))
    Files.writeString(Paths.get(out, "oracles.json"), Json.obj(oracles.map { case (q, sql) =>
      q.label -> Json.obj(Seq("sql" -> Json.str(sql), "tables" -> Json.str(dirs(q.replicas))))
    }))
  }
}
