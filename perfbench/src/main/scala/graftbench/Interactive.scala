package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl.G
import graft.graph.{GraphMutations, PropertyGraph}
import graft.model.{EdgeSpec, GraphColumns => GC}
import graft.sources.GraphLoader

/** LDBC-short-read-style point calls through graft's DSL, graph and
  * mutation APIs, each collected to the driver. */
object Interactive {

  /** The op mix as whole counts per block of 20 ops: every block holds
    * exactly this mix, in an order the seed shuffles. */
  val Mix: Seq[(String, Int)] = Seq("person" -> 4, "friends" -> 3, "posts" -> 3,
    "fof" -> 3, "thread" -> 3, "order_lines" -> 2, "add_knows" -> 2)
  val Classes: Seq[String] = Mix.map(_._1)
  val Writes: Set[String] = Set("add_knows")

  /** One op instance: its class and the ids the seed drew for it. */
  final case class Op(cls: String, a: Long, b: Long = 0L, c: Long = 0L)

  /** One client's graphs, loaded once on its own session. */
  final class Client(val spark: SparkSession, data: String) {
    val snb: PropertyGraph = GraphLoader.snb(spark, data, materializeComments = true)
    val tpch: PropertyGraph = GraphLoader.tpch(spark, data)
  }

  private val Knows = EdgeSpec("KNOWS", "Person", "Person")

  /** Build the op's DataFrame; `add_knows` first derives the mutated
    * graph (the `graph.mutate` span). */
  def build(c: Client, op: Op, tr: Option[Tracer]): DataFrame = {
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    op.cls match {
      case "add_knows" =>
        val g2 = span("graph.mutate") {
          import c.spark.implicits._
          GraphMutations.addEdges(c.snb, Knows,
            Seq((op.a, op.b, op.c)).toDF(GC.Src, GC.Dst, "since"))
        }
        span("dsl.build") {
          G(g2).V("Person", op.a).outE("KNOWS").toDF
            .where(col(GC.Id) === op.b).select(col(GC.Id), col("since"))
        }
      case cls => span("dsl.build") {
        val g = G(c.snb)
        cls match {
          case "person" =>
            c.snb.verticesById("Person", Seq(op.a))
              .select(GC.Id, "name", "acctbal", "segment", "city")
          case "friends" =>
            g.V("Person", op.a).bothE("KNOWS").toDF.select(col(GC.Id), col("since"))
              .orderBy(desc("since"), asc(GC.Id)).limit(20)
          case "posts" =>
            val posts = g.V("Person", op.a).in("HAS_CREATOR", "Post").toDF.select(col(GC.Id))
            c.snb.hydrate(posts, GC.Id, "Post", Seq("created", "score"))
              .select(col(GC.Id), col("created"), col("score"))
              .orderBy(desc("created"), asc(GC.Id)).limit(10)
          case "fof" =>
            g.V("Person", op.a).both("KNOWS").both("KNOWS").dedup().toDF
              .where(col(GC.Id) =!= op.a).select(col(GC.Id))
              .orderBy(GC.Id).limit(20)
          case "thread" =>
            g.V("Post", op.a).repeatEmit(3)(_.in("REPLY_OF", "Comment")).toDF
              .select(col(GC.Id), col(graft.dsl.Step.DepthCol))
          case "order_lines" =>
            G(c.tpch).V("Customer", op.a).in("PLACED_BY", "Order")
              .outE("CONTAINS", "Part").toDF
              .select(col(GC.Id), col("l_extendedprice"))
              .orderBy(desc("l_extendedprice"), asc(GC.Id)).limit(20)
        }
      }
    }
  }

  /** Canonical text of a result value, shared by graft's rows and the twin. */
  def canon(v: Any): String = v match {
    case null => "null"
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => java.lang.Double.toString(d)
    case t @ (_: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime) =>
      micros(t).toString
    case o => o.toString
  }
  def micros(t: Any): Long = {
    val i = t match {
      case x: java.sql.Timestamp => x.toInstant
      case x: java.time.Instant => x
      case x: java.time.LocalDateTime => x.toInstant(java.time.ZoneOffset.UTC)
    }
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def canonRows(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(canon).mkString("|")).sorted

  /** A reference that does not call graft: the fixture tables held on the
    * driver and the generator arithmetic `GraphLoader.snbFromTables`
    * documents, replayed in plain Scala. */
  final class Twin(spark: SparkSession, data: String) {
    private def read(t: String, cols: String*): Array[Row] =
      spark.read.parquet(s"$data/$t.parquet").select(cols.map(col): _*).collect()

    private val customers = read("customer", "c_custkey", "c_name", "c_acctbal",
      "c_mktsegment", "c_nationkey")
    val personIds: Array[Long] = customers.map(_.getLong(0)).sorted
    private val n = customers.length.toLong
    private val person = mutable.LongMap.empty[String]
    customers.foreach { r =>
      person(r.getLong(0)) = Seq(r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getInt(4)).map(canon).mkString("|")
    }

    // KNOWS: deg(p) = 40 if p % 97 == 0 else 1 + (13p + 7) % 5, targets
    // (53p + 911k) % N, no self-loops, distinct; since = (7s + 3d) % 1000
    private val knowsOut = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    private val knowsIn = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    personIds.foreach { p =>
      val deg = if (p % 97 == 0) 40 else (13 * p + 7) % 5 + 1
      (1L to deg).map(k => (53 * p + 911 * k) % n).filter(_ != p).distinct.foreach { d =>
        knowsOut.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += d
        knowsIn.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += p
      }
    }
    def since(s: Long, d: Long): Long = (7 * s + 3 * d) % 1000
    def knows(s: Long, d: Long): Boolean = knowsOut.get(s).exists(_.contains(d))
    private def out(p: Long) = knowsOut.getOrElse(p, mutable.ArrayBuffer.empty[Long])
    private def in(p: Long) = knowsIn.getOrElse(p, mutable.ArrayBuffer.empty[Long])

    private val orders = read("orders", "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val postIds: Array[Long] = orders.map(_.getLong(0)).sorted
    val creatorIds: Array[Long] = orders.map(_.getLong(1)).distinct.sorted
    private val postsBy = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long, Double)]]
    orders.foreach { r =>
      postsBy.getOrElseUpdate(r.getLong(1), mutable.ArrayBuffer.empty) +=
        ((r.getLong(0), micros(r.get(2)), r.getDouble(3)))
    }

    private val lines = mutable.LongMap.empty[mutable.ArrayBuffer[(Int, Long, Double)]]
    read("lineitem", "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice").foreach { r =>
      lines.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty) +=
        ((r.getInt(1), r.getLong(2), r.getDouble(3)))
    }

    def expected(op: Op): Seq[String] = op.cls match {
      case "person" => Seq(person(op.a))
      case "friends" =>
        val p = op.a
        (out(p).map(d => (d, since(p, d))) ++ in(p).map(s => (s, since(s, p))))
          .sortBy { case (id, sn) => (-sn, id) }.take(20)
          .map { case (id, sn) => s"$id|$sn" }.sorted.toSeq
      case "posts" =>
        postsBy.getOrElse(op.a, mutable.ArrayBuffer.empty)
          .sortBy { case (id, t, _) => (-t, id) }.take(10)
          .map { case (id, t, sc) => s"$id|$t|${canon(sc)}" }.sorted.toSeq
      case "fof" =>
        val p = op.a
        def nbrs(v: Long) = out(v) ++ in(v)
        nbrs(p).flatMap(nbrs).distinct.filter(_ != p).sorted.take(20).map(_.toString).sorted.toSeq
      case "thread" =>
        // comment identity is the distinct (order, line) pair; rank r
        // replies to the post (r = 1) or to rank 1 + (order + 13r) % (r - 1)
        val ok = op.a
        val lns = lines.getOrElse(ok, mutable.ArrayBuffer.empty).map(_._1).distinct.sorted
        val depth = new Array[Int](lns.length + 1)
        (1 to lns.length).flatMap { r =>
          depth(r) = if (r == 1) 1 else depth(((ok + 13L * r) % (r - 1) + 1).toInt) + 1
          if (depth(r) <= 3) Some(s"${ok * 8 + lns(r - 1)}|${depth(r)}") else None
        }.sorted
      case "order_lines" =>
        postsBy.getOrElse(op.a, mutable.ArrayBuffer.empty).toSeq
          .flatMap { case (ok, _, _) => lines.getOrElse(ok, mutable.ArrayBuffer.empty) }
          .map { case (_, part, price) => (part, price) }
          .sortBy { case (part, price) => (-price, part) }.take(20)
          .map { case (part, price) => s"$part|${canon(price)}" }.sorted
      case "add_knows" =>
        Seq(s"${op.b}|${if (knows(op.a, op.b)) since(op.a, op.b) else op.c}")
    }
  }

  /** Draw one op of class `cls` from the fixture's real id columns. */
  def draw(cls: String, tw: Twin, rnd: scala.util.Random): Op = {
    def pick(a: Array[Long]) = a(rnd.nextInt(a.length))
    cls match {
      case "posts" | "order_lines" => Op(cls, pick(tw.creatorIds))
      case "thread" => Op(cls, pick(tw.postIds))
      case "add_knows" =>
        val s = pick(tw.personIds)
        var d = pick(tw.personIds)
        while (d == s) d = pick(tw.personIds)
        Op(cls, s, d, rnd.nextInt(1000).toLong)
      case _ => Op(cls, pick(tw.personIds))
    }
  }

  /** One client's op stream: blocks of exactly `Mix`, seed-shuffled. */
  def stream(tw: Twin, rnd: scala.util.Random): Iterator[Seq[Op]] =
    Iterator.continually {
      rnd.shuffle(Mix.flatMap { case (c, k) => Seq.fill(k)(c) }).map(draw(_, tw, rnd))
    }
}
