package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark harness. One run: set up, measure for `--seconds`,
  * check outputs, write the result JSON. `run.py` builds and launches it.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <fixture dir> --replicas <replica dir> --work <scratch dir>
  *   --refs <digest dir> --out <result.json> --spans <trace.jsonl>
  * or: Main --workload catalog --data <dir> --work <dir> --prepare <replica dir>
  * or: Main --workload catalog --data <dir> --work <dir> --record <dir>
  */
object Main {

  /** The sf0.1 fixtures take every fixpoint's driver escape; the 3x
    * replica puts q42's edge set above the 200k-row escape cap, so the
    * same query runs the distributed superstep loop. */
  val CatalogSpec = Catalog.Spec("catalog", Seq(
    Catalog.Query("e29_dedup_clusters", 1),
    Catalog.Query("q42_snb_components", 1),
    Catalog.Query("q42_snb_components", 3)))
  val Catalogs: Map[String, Catalog.Spec] = Map(CatalogSpec.name -> CatalogSpec)

  /** Every per-layer metric, in `BENCHMARK.json` order. A traced run
    * prints all of them; one that does not apply to its workload reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "graph.load_s" -> "s", "setup.warm_cycle_s" -> "s", "jvm.gc_ms" -> "ms") ++
    Interactive.Classes.map(c => s"op.$c.p50_ms" -> "ms") ++ Seq(
    "dsl.build_ms" -> "ms", "graph.mutate_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "spark.execute_ms" -> "ms", "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "sources.scan_bytes_per_op" -> "bytes", "sources.rows_read_per_row_returned" -> "ratio",
    "pass_s" -> "s", "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "spark.execute_jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "sources.scan_bytes" -> "bytes",
    "plans.persisted_rdds" -> "count", "plans.range_sort_exchanges" -> "count") ++
    CatalogSpec.queries.flatMap { q =>
      Seq(s"${q.label}.ms" -> "ms", s"${q.label}.build_ms" -> "ms", s"${q.label}.jobs" -> "count")
    }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started: set-up is charged from process start. */
  private def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Driver live heap: the least heap in use after each of several forced
    * collections, so objects Spark's cleaner threads release between them
    * do not count. */
  private def liveHeapMb: Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, or the
    * maximum when that percentile would not be above the median (fewer
    * than 21 samples): (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = if (s.length > 20) s.length - 11 else s.length - 1
    (s(i), 100.0 * (i + 1) / s.length, s.length)
  }

  /** Counts every op or query attempted and every one that failed or
    * returned a wrong answer; clients call it from their own threads. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    def attempt(): Unit = synchronized { attempted += 1 }
    def fail(what: String): Unit = synchronized { failed += 1; failures += what }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val data = opts("data")
    val work = opts("work")
    require(workload == "interactive" || Catalogs.contains(workload),
      s"unknown workload $workload")

    val cpus = Runtime.getRuntime.availableProcessors().min(4).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None

    val res = new Result
    (opts.get("record"), opts.get("prepare")) match {
      case (Some(dir), _) => Record.run(spark, Catalogs(workload), data, dir)
      case (_, Some(dir)) => Catalog.writeReplicas(spark, Catalogs(workload), data, dir)
      case _ =>
        val seed = opts("seed").toLong
        val seconds = opts("seconds").toDouble
        if (workload == "interactive") runInteractive(spark, data, seed, seconds, tracer, res)
        else runCatalog(spark, Catalogs(workload), data, opts("replicas"), opts("refs"), seed,
          seconds, tracer, res)
        res.endToEnd("heap_mb") = (liveHeapMb, "MB")
        tracer.foreach(_.writeJsonLines(Paths.get(opts("spans"))))
        writeResult(Paths.get(opts("out")), res, trace)
    }
    spark.stop()
  }

  private def writeResult(path: java.nio.file.Path, res: Result, trace: Boolean): Unit = {
    val ms =
      if (!trace) res.endToEnd
      else PerLayer.map { case (k, unit) => k -> (res.layers.getOrElse(k, 0.0), unit) }
    def metric(kv: (String, (Double, String))) =
      kv._1 -> Json.obj(Seq("value" -> Json.num(kv._2._1), "unit" -> Json.str(kv._2._2)))
    val json = Json.obj(Seq(
      "correct" -> (if (res.failed == 0 && res.attempted > 0) "true" else "false"),
      "attempted" -> Json.num(res.attempted),
      "failed" -> Json.num(res.failed),
      "metrics" -> Json.obj(ms.toSeq.map(metric)),
      "report" -> Json.obj(Seq(
        "end_to_end" -> Json.obj(res.endToEnd.toSeq.map(metric)),
        "notes" -> Json.arr(res.notes.map(Json.str).toSeq),
        "failures" -> Json.arr(res.failures.take(20).map(Json.str).toSeq)))))
    Files.writeString(path, json)
  }

  // ---------------------------------------------------------------- interactive

  private def runInteractive(spark: SparkSession, data: String, seed: Long,
      seconds: Double, tr: Option[Tracer], res: Result): Unit = {
    import Interactive._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    // The twin and the two clients' graphs load concurrently.
    val twinF = Future(new Twin(spark, data))
    val loadT0 = System.nanoTime()
    val clients = Await.result(Future.sequence(Seq.fill(2)(Future {
      val s = spark.newSession()
      graft.sources.GraphLoader.declareTpchRi(s, data)
      tr.fold(new Client(s, data))(_.span("graph.load")(new Client(s, data)))
    })), Inf)
    val loadS = (System.nanoTime() - loadT0) / 1e9
    val twin = Await.result(twinF, Inf)

    final case class Sample(cls: String, ms: Double, rows: Int)
    def runOp(c: Client, op: Op, traced: Option[Tracer]): (Double, Seq[org.apache.spark.sql.Row]) = {
      def go() = {
        val df = build(c, op, traced)
        traced.fold(df.queryExecution.executedPlan)(_.span("catalyst.plan")(df.queryExecution.executedPlan))
        traced.fold(df.collect())(_.span("spark.execute")(df.collect())).toSeq
      }
      val t = System.nanoTime()
      val rows = traced.fold(go())(_.span(s"op:${op.cls}")(go()))
      ((System.nanoTime() - t) / 1e6, rows)
    }
    def check(op: Op, rows: Seq[org.apache.spark.sql.Row]): Boolean = {
      res.attempt()
      val ok = canonRows(rows) == twin.expected(op)
      if (!ok) res.fail(s"$op: got ${canonRows(rows).take(3)} want ${twin.expected(op).take(3)}")
      ok
    }

    // Warm-up, untimed and checked: every op class once, the classes split
    // between the clients, which run concurrently as they later do. The
    // graph loads already filled each session's reader memos; code
    // generation and JIT state are shared by the JVM.
    val warmT0 = System.nanoTime()
    val warmRnd = new scala.util.Random(seed ^ 0x5eedL)
    val warmOps = Classes.map(draw(_, twin, warmRnd))
    val warm = clients.zipWithIndex.map { case (c, i) =>
      val ops = warmOps.zipWithIndex.collect { case (op, j) if j % clients.size == i => op }
      new Thread(() => ops.foreach(op => check(op, runOp(c, op, None)._2)))
    }
    warm.foreach(_.start())
    warm.foreach(_.join())
    res.notes += f"setup: graph load $loadS%.1f s, warm-up ${(System.nanoTime() - warmT0) / 1e9}%.1f s"
    val setupS = sinceStart

    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    // Rounds of one mix block, split between the clients by position;
    // both finish a round before either checks the clock, so every run
    // measures whole blocks of exactly the mix. At least two rounds, so
    // the read tail has ten samples beyond it.
    val blocks = stream(twin, new scala.util.Random(seed))
    val round = new java.util.concurrent.CyclicBarrier(clients.size)
    @volatile var block: Seq[Op] = blocks.next()
    @volatile var running = true
    var rounds = 0
    val roundEnds = mutable.ArrayBuffer(System.nanoTime())
    val threads = clients.zipWithIndex.map { case (c, i) =>
      new Thread(() => {
        var go = true
        while (go) {
          val mine = block.zipWithIndex.collect { case (op, j) if j % clients.size == i => op }
          mine.foreach { op =>
            try {
              val (ms, rows) = runOp(c, op, tr)
              if (check(op, rows)) samples.add(Sample(op.cls, ms, rows.size))
            } catch { case e: Exception =>
              res.attempt()
              res.fail(s"$op: ${e.getMessage.take(200)}")
            }
          }
          round.await()
          if (i == 0) {
            roundEnds += System.nanoTime()
            rounds += 1
            running = rounds < 2 || System.nanoTime() < deadline
            if (running) block = blocks.next()
          }
          round.await()
          go = running
        }
      }, s"client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs - gc0

    val all = samples.asScala.toSeq
    res.notes += "round_s " + roundEnds.sliding(2).map(p => f"${(p(1) - p(0)) / 1e9}%.2f").mkString(" ")
    val reads = all.filterNot(s => Writes(s.cls)).map(_.ms)
    val writes = all.filter(s => Writes(s.cls)).map(_.ms)
    res.notes += "read_ms " + reads.sorted.map(r => f"$r%.0f").mkString(" ")
    val (tailMs, tailPct, tailN) = tail(reads)
    res.endToEnd("setup_s") = (setupS, "s")
    res.endToEnd("read_p50_ms") = (median(reads), "ms")
    res.endToEnd("read_tail_ms") = (tailMs, "ms")
    res.endToEnd("ops_per_s") = (all.size / wallS, "1/s")
    res.notes += f"read_tail_ms is p$tailPct%.1f of $tailN read samples"
    res.notes += f"write_p50_ms ${median(writes)}%.2f ms over ${writes.size} add_knows ops"
    res.notes += f"error_rate ${res.failed.toDouble / math.max(1L, res.attempted)}%.4f"
    Interactive.Classes.foreach { cls =>
      res.notes += f"$cls: ${all.count(_.cls == cls)} ops, p50 ${median(all.filter(_.cls == cls).map(_.ms))}%.1f ms"
    }

    res.layers("graph.load_s") = loadS
    res.layers("jvm.gc_ms") = gc.toDouble
    tr.foreach { t =>
      val spans = t.drained()
      Classes.foreach { cls =>
        res.layers(s"op.$cls.p50_ms") = median(all.filter(_.cls == cls).map(_.ms))
      }
      val ops = spans.filter(s => s.name.startsWith("op:") && s.startNs >= t0)
      def family(op: Span): Seq[Span] = op +: spans.filter(_.parent.exists(_ eq op))
      def perOp(name: String) = median(ops.map(o => family(o).filter(_.name == name).map(_.ms).sum))
      res.layers("dsl.build_ms") = perOp("dsl.build")
      res.layers("graph.mutate_ms") = median(ops.filter(_.name == "op:add_knows")
        .map(o => family(o).filter(_.name == "graph.mutate").map(_.ms).sum))
      res.layers("catalyst.plan_ms") = perOp("catalyst.plan")
      res.layers("spark.execute_ms") = perOp("spark.execute")
      val fams = ops.map(family)
      def mean(f: Span => Long) = fams.map(_.map(f).sum).sum.toDouble / math.max(1, fams.size)
      res.layers("spark.jobs_per_op") = mean(_.jobs)
      res.layers("spark.tasks_per_op") = mean(_.tasks)
      res.layers("sources.scan_bytes_per_op") = mean(_.scanBytes)
      res.layers("sources.rows_read_per_row_returned") =
        fams.map(_.map(_.scanRecords).sum).sum.toDouble / math.max(1, all.map(_.rows).sum)
    }
  }

  // ---------------------------------------------------------------- catalog

  private def readRefs(dir: String, workload: String): Map[String, String] = {
    val p = Paths.get(dir, s"$workload.tsv")
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t"); f(0) -> f(1)
    }.toMap
  }

  private def runCatalog(spark: SparkSession, spec: Catalog.Spec, data: String,
      replicas: String, refsDir: String, seed: Long, seconds: Double, tr: Option[Tracer],
      res: Result): Unit = {
    val refs = readRefs(refsDir, spec.name)
    graft.sources.GraphLoader.declareTpchRi(spark, data)
    val dirs = Catalog.dirs(spec, data, replicas)

    val rnd = new scala.util.Random(seed)
    // Warm cycle, untimed: fills the session memos and checks every output.
    val w0 = System.nanoTime()
    rnd.shuffle(spec.queries).foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      res.attempt()
      try {
        val got = Catalog.digest(graft.SparkEntry.queries(q.name)(spark, dirs(q.replicas)))
        if (!refs.get(q.label).contains(got))
          res.fail(s"${q.label}: digest $got, reference ${refs.get(q.label)}")
      } catch { case e: Exception => res.fail(s"${q.label}: ${e.getMessage.take(200)}") }
      Catalog.sweep(spark, before)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceStart

    val gc0 = gcMs
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val deadline = t0 + (seconds * 1e9).toLong
    val cycles = mutable.ArrayBuffer.empty[Seq[Catalog.QueryRun]]
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    while (cycles.isEmpty || System.nanoTime() < deadline) {
      val c0 = System.nanoTime()
      cycles += rnd.shuffle(spec.queries).map { q =>
        res.attempt()
        try Catalog.timedRun(spark, dirs(q.replicas), q, tr)
        catch { case e: Exception =>
          res.fail(s"${q.label}: ${e.getMessage.take(200)}")
          Catalog.QueryRun(q, 0, 0, 0, 0, 0)
        }
      }
      cycleMs += (System.nanoTime() - c0) / 1e6
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs - gc0
    val runs = cycles.flatten.toSeq
    val (tailMs, tailPct, tailN) = tail(runs.map(_.ms))
    res.endToEnd("setup_s") = (setupS, "s")
    // A cycle runs three different queries, so a median over single query
    // runs jumps between them; the median cycle per query does not.
    res.endToEnd("read_p50_ms") = (median(cycleMs.toSeq) / spec.queries.size, "ms")
    res.endToEnd("read_tail_ms") = (tailMs, "ms")
    res.endToEnd("ops_per_s") = (runs.size / wallS, "1/s")
    res.notes += f"pass_s ${median(cycleMs.toSeq) / 1e3}%.3f s, median of ${cycleMs.size} timed cycles"
    res.notes += "cycle_s " + cycleMs.map(c => f"${c / 1e3}%.2f").mkString(" ")
    res.notes += "query_ms " + runs.map(r => f"${r.query.label}=${r.ms}%.0f").mkString(" ")
    res.notes += f"read_tail_ms is p$tailPct%.1f of $tailN query runs"
    res.notes += f"median query run ${median(runs.map(_.ms))}%.1f ms"
    res.notes += f"error_rate ${res.failed.toDouble / math.max(1L, res.attempted)}%.4f"

    res.layers("setup.warm_cycle_s") = warmS
    res.layers("jvm.gc_ms") = gc.toDouble
    res.layers("pass_s") = median(cycleMs.toSeq) / 1e3
    tr.foreach { t =>
      val spans = t.drained().filter(_.startNs >= t0)
      // per cycle: sum each phase's counts over the cycle, median over
      // cycles; query spans are sequential, so cycles cut by position
      val querySpans = spans.filter(_.name.startsWith("query:"))
      val byCycle = querySpans.grouped(spec.queries.size).toSeq
      require(byCycle.size == cycles.size, "trace lost a query span")
      def kids(q: Span, phase: String) = spans.filter(s => s.parent.exists(_ eq q) && s.name == phase)
      def cycleSum(f: Span => Double, phases: String*) =
        median(byCycle.map(_.map(q => phases.flatMap(kids(q, _)).map(f).sum).sum))
      val all3 = Seq("queries.build", "catalyst.plan", "spark.execute")
      res.layers("queries.build_ms") = cycleSum(_.ms, "queries.build")
      res.layers("queries.build_jobs") = cycleSum(_.jobs.toDouble, "queries.build")
      res.layers("catalyst.plan_ms") = cycleSum(_.ms, "catalyst.plan")
      res.layers("spark.execute_ms") = cycleSum(_.ms, "spark.execute")
      res.layers("spark.execute_jobs") = cycleSum(_.jobs.toDouble, "spark.execute")
      res.layers("spark.stages") = cycleSum(_.stages.toDouble, all3: _*)
      res.layers("spark.tasks") = cycleSum(_.tasks.toDouble, all3: _*)
      res.layers("spark.shuffle_write_bytes") = cycleSum(_.shuffleWrite.toDouble, all3: _*)
      res.layers("spark.shuffle_read_bytes") = cycleSum(_.shuffleRead.toDouble, all3: _*)
      res.layers("spark.spill_bytes") = cycleSum(_.spill.toDouble, all3: _*)
      res.layers("sources.scan_bytes") = cycleSum(_.scanBytes.toDouble, all3: _*)
      res.layers("plans.persisted_rdds") = median(cycles.toSeq.map(_.map(_.persisted.toDouble).sum))
      res.layers("plans.range_sort_exchanges") = median(cycles.toSeq.map(_.map(_.rangeExchanges.toDouble).sum))
      spec.queries.map(_.label).foreach { q =>
        val mine = querySpans.filter(_.name == s"query:$q")
        res.layers(s"$q.ms") = median(mine.map(_.ms))
        res.layers(s"$q.build_ms") = median(mine.flatMap(kids(_, "queries.build")).map(_.ms))
        res.layers(s"$q.jobs") = median(mine.map(s => all3.flatMap(kids(s, _)).map(_.jobs).sum.toDouble))
        val phases = mine.map(s => all3.flatMap(kids(s, _)).map(_.ms).sum / s.ms)
        res.notes += f"$q: build+plan+execute covers ${100 * median(phases)}%.2f%% of its wall time"
      }
      res.notes += s"jobs outside any span in the timed cycles: ${t.unattributedSince(t0Ms)}"
    }
  }
}
