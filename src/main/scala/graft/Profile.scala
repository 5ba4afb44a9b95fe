package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Dev profiler: job count + per-job wall time + per-job stage/task
  * totals for one named query (arg 1; default q49). Not part of the
  * driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sfDir)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    // jobId -> (stages, tasks) accumulated from stage submissions
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts.put(j.jobId, System.nanoTime())
        j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val jid = stageJob.getOrDefault(s.stageInfo.stageId, -1)
        jobStages.merge(jid, (1, s.stageInfo.numTasks),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.get(j.jobId)
        if (s != 0L) durs.add((j.jobId, (System.nanoTime() - s) / 1000000))
      }
    })
    val name = args.headOption.getOrElse("q49_snb_components_inc")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
    durs.clear(); jobStages.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val d = durs.asScala.toSeq.sortBy(_._1)
    val st = jobStages.asScala
    println(s"PROFILE $name total=${"%.2f".format(total)}s jobs=${d.size} " +
      s"jobMs=${d.map(_._2).sum} stages=${st.values.map(_._1).sum} " +
      s"tasks=${st.values.map(_._2).sum}")
    d.foreach { case (id, ms) =>
      val (ns, nt) = st.getOrElse(id, (0, 0))
      println(s"  job $id: ${ms} ms stages=$ns tasks=$nt")
    }
    spark.stop()
  }
}
