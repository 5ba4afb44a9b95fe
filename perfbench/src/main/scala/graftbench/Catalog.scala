package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.analytics.Iterative
import graft.model.{GraphColumns => GC}
import graft.sources.GraphLoader

/** The catalog workloads: `SparkEntry.queries` run one at a time, each
  * noop-written, in cycles whose order the seed permutes. */
object Catalog {

  /** A catalog query over the sf0.1 fixtures (`replicas = 1`) or over
    * the k-times contiguous SNB replica. */
  final case class Query(name: String, replicas: Int) {
    def label: String = if (replicas == 1) name else s"${name}_${replicas}x"
  }
  final case class Spec(name: String, queries: Seq[Query])

  /** The directory each scale's queries read: the fixtures, or a replica
    * under `replicas`. */
  def dirs(spec: Spec, data: String, replicas: String): Map[Int, String] =
    spec.queries.map(_.replicas).distinct.map { k =>
      k -> (if (k == 1) data else s"$replicas/snb${k}x")
    }.toMap

  /** Write every replica the workload reads, under `replicas`. */
  def writeReplicas(s: SparkSession, spec: Spec, data: String, replicas: String): Unit =
    dirs(spec, data, replicas).foreach { case (k, dir) =>
      if (k > 1) writeReplica(s, data, dir, k)
    }

  /** Timings of one query run in a timed cycle. */
  final case class QueryRun(query: Query, buildMs: Double, planMs: Double,
      executeMs: Double, persisted: Int, rangeExchanges: Int) {
    def ms: Double = buildMs + planMs + executeMs
  }

  /** The fixpoint queries whose reference is the operator's other path:
    * the same composition with the size-adaptive escape flipped. Below
    * the 200k-row cap the query takes the driver escape, so the
    * reference forces the distributed superstep loop (`smallGraphRows =
    * 0`); above it, the reference forces the driver twin. */
  def otherPath(query: String, s: SparkSession, dir: String,
      distributed: Boolean): Option[DataFrame] = {
    val cap = if (distributed) 0L else Int.MaxValue - 1L
    query match {
      case "q42_snb_components" =>
        Some(Iterative.connectedComponents(GraphLoader.snb(s, dir), Set("KNOWS"),
            smallGraphRows = cap)
          .where(col("label") === "Person")
          .select(col(GC.Id).as("person_id"), col("component_id").as("component")))
      case _ => None
    }
  }

  /** Order-independent digest of a result: row count, the sum of each
    * row's xxhash64 over its columns in name order, and the schema. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val schema = cols.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(",")
    val rowHash = xxhash64(cols.toIndexedSeq.map(c => col(s"`$c`")): _*).cast("decimal(20,0)")
    val r = df.select(rowHash.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}|$h|$schema"
  }

  /** Range-partitioning exchanges in a physical plan, through adaptive
    * wrappers and subqueries: the cost floor of a final global sort. */
  def rangeExchanges(plan: SparkPlan): Int = {
    val here = plan match {
      // the current plan: exchanges are inserted after `inputPlan`
      case a: AdaptiveSparkPlanExec => rangeExchanges(a.executedPlan)
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => 1
      case _ => 0
    }
    val nested = plan match {
      case _: AdaptiveSparkPlanExec => 0
      case _ => plan.children.map(rangeExchanges).sum
    }
    here + nested + plan.subqueries.map(rangeExchanges).sum
  }

  /** Drop what a query persisted once its write has landed, keeping ids
    * graft's session memos pin (the sweep `graft.Bench` does). */
  def sweep(s: SparkSession, before: collection.Set[Int]): Int = {
    val fresh = s.sparkContext.getPersistentRDDs.filter { case (id, _) =>
      !before.contains(id) && !graft.plans.Supersteps.isPinned(id)
    }
    fresh.values.foreach(_.unpersist(blocking = false))
    fresh.size
  }

  /** Write the k-times contiguous SNB replica (the `Bench --scale` scheme)
    * under `out`. */
  private def writeReplica(s: SparkSession, data: String, out: String, k: Int): Unit = {
    def read(n: String) = s.read.parquet(s"$data/$n.parquet")
    val (c, o, l) = GraphLoader.snbReplicaTables(read("customer"), read("orders"),
      read("lineitem"), k)
    c.write.mode("overwrite").parquet(s"$out/customer.parquet")
    o.write.mode("overwrite").parquet(s"$out/orders.parquet")
    l.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  /** One timed query run: build, plan and execute, each its own span. */
  def timedRun(s: SparkSession, dir: String, q: Query, tr: Option[Tracer]): QueryRun = {
    def phase[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = tr.fold(body)(_.span(name)(body))
      (v, (System.nanoTime() - t0) / 1e6)
    }
    val before = s.sparkContext.getPersistentRDDs.keySet
    val body = () => {
      val (df, b) = phase("queries.build")(SparkEntry.queries(q.name)(s, dir))
      val (plan, p) = phase("catalyst.plan")(df.queryExecution.executedPlan)
      val (_, e) = phase("spark.execute")(df.write.format("noop").mode("overwrite").save())
      (b, p, e, if (tr.isDefined) rangeExchanges(plan) else 0)
    }
    val (b, p, e, rx) = tr.fold(body())(_.span(s"query:${q.label}")(body()))
    QueryRun(q, b, p, e, sweep(s, before), rx)
  }
}
