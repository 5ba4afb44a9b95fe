package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.model.{EdgeSpec, GraphColumns => GC}

/** Bulk load: source tables -> property graph.
  *
  * Plays the role of the reference's image-file bulk loader
  * (`loadVertex`/`loadEdges`, TorcGraph.java:756-820, and the
  * segment-packing writer TorcEdgeList.java:487-675): here it is a pure
  * DataFrame projection — lazy, columnar, and partition-prunable — plus an
  * optional Parquet persist partitioned the same way the reference keys
  * its adjacency lists (SURVEY.md §1.3).
  */
object GraphLoader {

  /** Graph projection of the driver's TPC-H-ish fixture tables
    * (TESTDATA.md). Vertex labels: Region, Nation, Customer, Supplier,
    * Part, Order. Edge specs:
    *   Nation   -[IN_REGION]->  Region
    *   Customer -[IN_NATION]->  Nation
    *   Supplier -[IN_NATION]->  Nation
    *   Order    -[PLACED_BY]->  Customer
    *   Order    -[CONTAINS]->   Part      (props from lineitem)
    *   Order    -[SUPPLIED_BY]-> Supplier (props from lineitem)
    *
    * Note: the reference enforces at most one edge per (v1, v2, label)
    * (TorcGraph.java:75-80); lineitem can contain repeated
    * (order, part) pairs, which we keep distinguishable via the
    * `l_linenumber` property rather than collapsing — the inventory
    * queries treat line number as part of the edge identity.
    */
  def tpch(spark: SparkSession, dir: String): PropertyGraph = {
    // Memoized fixture reads (Tables.read): a tpch build re-ran file
    // listing + footer schema inference six times per call — ~450 ms of
    // pure driver metadata work per query construction.
    def tbl(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

    def vertex(df: DataFrame, key: String): DataFrame =
      df.withColumn(GC.Id, col(key).cast("bigint"))

    def edge(df: DataFrame, src: String, dst: String, props: Seq[String] = Nil): DataFrame =
      df.select(
        (col(src).cast("bigint").as(GC.Src) ::
         col(dst).cast("bigint").as(GC.Dst) ::
         props.map(col).toList): _*)

    val nation = tbl("nation")
    val customer = tbl("customer")
    val supplier = tbl("supplier")
    val orders = tbl("orders")
    val lineitem = tbl("lineitem")

    val vertices = Map(
      "Region"   -> vertex(tbl("region"), "r_regionkey"),
      "Nation"   -> vertex(nation, "n_nationkey"),
      "Customer" -> vertex(customer, "c_custkey"),
      "Supplier" -> vertex(supplier, "s_suppkey"),
      "Part"     -> vertex(tbl("part"), "p_partkey"),
      "Order"    -> vertex(orders, "o_orderkey"))

    val lineitemProps = Seq("l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

    val edges = Map(
      EdgeSpec("IN_REGION", "Nation", "Region") -> edge(nation, "n_nationkey", "n_regionkey"),
      EdgeSpec("IN_NATION", "Customer", "Nation") -> edge(customer, "c_custkey", "c_nationkey"),
      EdgeSpec("IN_NATION", "Supplier", "Nation") -> edge(supplier, "s_suppkey", "s_nationkey"),
      EdgeSpec("PLACED_BY", "Order", "Customer") -> edge(orders, "o_orderkey", "o_custkey"),
      EdgeSpec("CONTAINS", "Order", "Part") -> edge(lineitem, "l_orderkey", "l_partkey", lineitemProps),
      EdgeSpec("SUPPLIED_BY", "Order", "Supplier") -> edge(lineitem, "l_orderkey", "l_suppkey",
        Seq("l_linenumber", "l_quantity")))

    // every edge key is a fixture foreign key (see declareTpchRi)
    new PropertyGraph(spark, vertices, edges, referentialIntegrity = true)
  }

  /** Install [[graft.plans.RiJoinElimination]] on the session and declare
    * the referential-integrity contracts [[tpch]]'s layout guarantees:
    * every edge-frame key column is a projection of a source-table FK
    * whose values all exist non-null in the target vertex frame's id
    * column (the generator writes them that way), plus each table's own
    * key over itself (for src-side frontier joins). With these declared,
    * `traverse(frontier(label), ...)` — the plain, optimizer-visible
    * form — plans exactly like the hand-routed `traverseAll` fast path:
    * the frontier join is eliminated instead of shuffling the fact-side
    * edge table. Idempotent; session-scoped. */
  def declareTpchRi(spark: SparkSession, dir: String): Unit = {
    import graft.plans.RiJoinElimination.{declareForeignKey, install}
    install(spark)
    val fks = Seq(
      // edge-frame FK -> neighbor vertex id
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      // self keys: the src side of each edge frame IS the table's key
      ("customer", "c_custkey", "customer", "c_custkey"),
      ("supplier", "s_suppkey", "supplier", "s_suppkey"),
      ("nation", "n_nationkey", "nation", "n_nationkey"),
      ("orders", "o_orderkey", "orders", "o_orderkey"))
    fks.foreach { case (et, ek, vt, vk) =>
      declareForeignKey(spark, s"$dir/$et.parquet", ek, s"$dir/$vt.parquet", vk)
    }
  }

  /** Deterministic LDBC-SNB-style social graph — the person–knows–person
    * (+ posts + comment reply trees) shape of the reference's actual
    * benchmarked workload (`/root/reference/README.md:69-147`: LDBC SNB
    * Interactive over a `knows` graph with supernode skew, message
    * threads unrolled by the IC handlers). Derived purely from the
    * fixture tables with arithmetic a SQL oracle replays exactly:
    *
    *  - Person: one per customer row (`_vid` = c_custkey, 0-based
    *    contiguous), properties name/acctbal/segment/city.
    *  - Post: one per orders row, HAS_CREATOR → its o_custkey Person.
    *  - KNOWS (Person→Person, `since` property): person p emits
    *    deg(p) = 40 if p % 97 == 0 else 1 + (13p + 7) % 5
    *    directed edges to (53p + 911k) % N for k = 1..deg(p), self-loops
    *    dropped, (src, dst) deduplicated. The 1-percent degree-40
    *    supernodes give the skew an SNB `knows` expansion stresses;
    *    911 is coprime to every fixture N, so a supernode's targets are
    *    40 DISTINCT persons. since = (7·src + 3·dst) % 1000.
    *  - Comment: one per DISTINCT (l_orderkey, l_linenumber) pair —
    *    the fixture repeats pairs, so comment identity is the distinct
    *    pair, id = 8·orderkey + linenumber (linenumber ≤ 7, so ids are
    *    unique), properties length/created.
    *  - REPLY_OF (Comment→Post and Comment→Comment): within each
    *    order's comment set, rank r = row_number by linenumber. The
    *    rank-1 comment replies to the order's Post; comment with rank
    *    r ≥ 2 replies to the comment at rank
    *    1 + (orderkey + 13r) % (r − 1) — a deterministic prior rank, so
    *    every order's comments form a random recursive TREE rooted at
    *    its post (uniform attachment ⇒ both chain-deep and bushy
    *    threads appear; ranks are contiguous, so no reply dangles).
    *  - HAS_CREATOR (Comment→Person): creator = (31·cid + 7) % N —
    *    the same lazy-N arithmetic as KNOWS.
    *
    * Everything stays lazy: N rides a ONE-ROW count aggregate joined in
    * by a constant equi-key. Catalyst constant-folds that key away and
    * plans a broadcast nested-loop join — with a single broadcast row
    * that is the optimal plan (the probe side streams through
    * untouched), and PlanAuditSpec whitelists these queries' NLJ as
    * intended. The edge fan-out is a row-local explode, the reply-tree
    * rank a per-order window, and the parent resolution an equi
    * self-join on (order, rank) — all partition-parallel; the generator
    * itself would scale to any N.
    *
    * @param materializeComments when true, the graph is built for
    *   repeated point reads: its constructor `localCheckpoint`s, once,
    *   the Person and Post vertex frames, KNOWS, the Post HAS_CREATOR
    *   edge frame, the ranked comment frame (lineitem distinct + rank
    *   window) and the REPLY_OF Comment→Comment parent resolution.
    *   Comment, REPLY_OF Comment→Post and the Comment HAS_CREATOR frame
    *   are projections of the ranked checkpoint, so every frame of the
    *   graph reads only materialized rows: a point hop scans in-memory
    *   adjacency instead of regenerating KNOWS (explode + `distinct`
    *   shuffle) or rescanning Parquet, the way the reference reads the
    *   adjacency it wrote once at load (TorcHelper.java:352-370). The
    *   person count N is observed on the Person checkpoint's own action
    *   and folded in as a literal, so no frame carries the count join.
    *   Independent checkpoints run on driver threads. The checkpoints
    *   are held by the returned graph's frames, not by a
    *   [[graft.plans.SessionMemo]] entry: memo entries live as long as
    *   the session, while these blocks are reclaimed once the graph is
    *   unreachable. The default stays fully lazy. */
  def snb(spark: SparkSession, dir: String,
      materializeComments: Boolean = false): PropertyGraph =
    snbFromTables(spark,
      Tables.read(spark, s"$dir/customer.parquet"),
      Tables.read(spark, s"$dir/orders.parquet"),
      Tables.read(spark, s"$dir/lineitem.parquet"),
      materializeComments)

  /** Contiguous-keyspace k-times replica of the SNB source frames — the
    * scale-tier twin of Bench.replicate's shifted-key scheme, which the
    * generated graph cannot use: the knows and comment-creator frames
    * compute their targets as `key % count`, so person ids must stay
    * contiguous in [0, n) or most generated edges dangle. Replica
    * persons therefore take ids `i*n0 + key`, posts shift by 1e8 per
    * replica with their creator re-pointed into the replica person
    * space, and lineitem follows its order so each replica post carries
    * its own reply tree. Supernode population (`p % 97 == 0`) and the
    * degree mix grow WITH the graph. One count action (n0) per call —
    * replica construction is a bench tier, not a query path. */
  def snbReplicaTables(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, k: Int): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 1, s"replica factor must be >= 1, got $k")
    if (k == 1) (customer, orders, lineitem) else {
      val n0 = customer.count()
      val S = 100000000L
      def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
        (0 until k).map(i => f(df, i)).reduce(_.unionByName(_))
      (rep(customer)((d, i) =>
          d.withColumn("c_custkey", col("c_custkey") + lit(i * n0))),
        rep(orders)((d, i) => d
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * S))
          .withColumn("o_custkey", col("o_custkey") + lit(i * n0))),
        rep(lineitem)((d, i) =>
          d.withColumn("l_orderkey", col("l_orderkey") + lit(i * S))))
    }
  }

  /** [[snb]] over explicit source frames, for callers that grow the
    * source tables themselves (e.g. k-times posts + reply trees over a
    * fixed person set), which a directory-based loader cannot express.
    * `replicas > 1` applies [[snbReplicaTables]] first — the
    * contiguous-keyspace growth mode for whole-graph scale runs. */
  def snbFromTables(spark: SparkSession, customer0: DataFrame,
      orders0: DataFrame, lineitem0: DataFrame,
      materializeComments: Boolean = false, replicas: Int = 1): PropertyGraph = {
    val (customer, orders, lineitem) =
      snbReplicaTables(customer0, orders0, lineitem0, replicas)

    val person = customer.select(
      col("c_custkey").cast("bigint").as(GC.Id),
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("segment"),
      col("c_nationkey").as("city"))
    val post = orders.select(
      col("o_orderkey").cast("bigint").as(GC.Id),
      col("o_orderdate").as("created"),
      col("o_totalprice").as("score"))

    // KNOWS over person ids `p` that carry the person count `_n`
    def knowsOf(ps: DataFrame): DataFrame = ps
      .withColumn("d",
        when(col("p") % 97 === 0, lit(40L)).otherwise((col("p") * 13 + 7) % 5 + 1))
      .withColumn("k", explode(sequence(lit(1L), col("d"))))
      .select(col("p").as(GC.Src),
        ((col("p") * 53 + col("k") * 911) % col("_n")).as(GC.Dst))
      .where(col(GC.Dst) =!= col(GC.Src))
      .distinct()
      .withColumn("since", (col(GC.Src) * 7 + col(GC.Dst) * 3) % 1000)

    val creator = orders.select(
      col("o_orderkey").cast("bigint").as(GC.Src),
      col("o_custkey").cast("bigint").as(GC.Dst))

    // Comment reply trees: rank comments within their order (window,
    // partition-parallel), then resolve each rank-r≥2 comment's parent
    // rank with an equi self-join on (order, rank).
    val rankedLazy = lineitem
      .select(col("l_orderkey").cast("bigint").as("_ok"),
        col("l_linenumber").cast("bigint").as("_ln"))
      .distinct()
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_ok").orderBy("_ln")).cast("bigint"))
      .withColumn("_cid", col("_ok") * 8 + col("_ln"))
    def replyOfCommentOf(ranked: DataFrame): DataFrame = {
      val parents = ranked.select(col("_ok").as("_pok"), col("_r").as("_pr"),
        col("_cid").as("_pcid"))
      ranked.where(col("_r") >= 2)
        .withColumn("_want", (col("_ok") + col("_r") * 13) % (col("_r") - 1) + 1)
        .join(parents, col("_ok") === col("_pok") && col("_want") === col("_pr"))
        .select(col("_cid").as(GC.Src), col("_pcid").as(GC.Dst))
    }

    // (Person, Post, Post HAS_CREATOR, ranked, KNOWS, REPLY_OF
    // Comment→Comment, the `_n` column the comment creators read)
    val (persons, posts, creators, ranked, knows, replyOfComment, addN) =
      if (!materializeComments) {
        // lazy mode broadcasts the 1-row person count — a bounded NLJ,
        // whitelisted per consuming query (PlanAuditSpec)
        val nRow = broadcast(
          customer.agg(count(lit(1)).as("_n")).withColumn("_one", lit(1)))
        val addN: DataFrame => DataFrame =
          df => df.withColumn("_one", lit(1)).join(nRow, "_one")
        (person, post, creator, rankedLazy,
          knowsOf(addN(customer.select(col("c_custkey").cast("bigint").as("p")))),
          replyOfCommentOf(rankedLazy), addN)
      } else {
        // Checkpoints with no dependency between them run on driver
        // threads. N is counted on the Person checkpoint's own action
        // and folded in as a literal, so KNOWS waits only for Person,
        // and no frame carries the count join. A thread unroll joins
        // REPLY_OF Comment→Comment once PER DEPTH, so its parent
        // resolution is checkpointed too, after the rank.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration.Inf
        val obs = new Observation()
        val personF = Future {
          val ck = person.observe(obs, count(lit(1)).as("n")).localCheckpoint()
          (ck, lit(obs.get("n")))
        }
        val postF = Future(post.localCheckpoint())
        val creatorF = Future(creator.localCheckpoint())
        val rankedF = Future(rankedLazy.localCheckpoint())
        val knowsF = personF.map { case (p, n) =>
          knowsOf(p.select(col(GC.Id).as("p"), n.as("_n"))).localCheckpoint()
        }
        val replyF = rankedF.map(replyOfCommentOf(_).localCheckpoint())
        def get[T](f: Future[T]): T = Await.result(f, Inf)
        val (p, n) = get(personF)
        (p, get(postF), get(creatorF), get(rankedF), get(knowsF), get(replyF),
          (df: DataFrame) => df.withColumn("_n", n))
      }

    val comment = ranked.select(
      col("_cid").as(GC.Id),
      (col("_cid") * 37 % 190 + 10).as("length"),
      (col("_cid") * 11 % 1000).as("created"))

    val replyOfPost = ranked.where(col("_r") === 1)
      .select(col("_cid").as(GC.Src), col("_ok").as(GC.Dst))

    val commentCreator = addN(ranked)
      .select(col("_cid").as(GC.Src),
        ((col("_cid") * 31 + 7) % col("_n")).as(GC.Dst))

    // every endpoint is an existing, unique vertex key: person keys are
    // 0..N-1 (the documented customer layout) and generated targets are
    // taken mod N; post creators and comment orders are the fixture's
    // foreign keys; a reply's parent is a comment of its own order
    new PropertyGraph(spark,
      Map("Person" -> persons, "Post" -> posts, "Comment" -> comment),
      Map(
        EdgeSpec("KNOWS", "Person", "Person") -> knows,
        EdgeSpec("HAS_CREATOR", "Post", "Person") -> creators,
        EdgeSpec("HAS_CREATOR", "Comment", "Person") -> commentCreator,
        EdgeSpec("REPLY_OF", "Comment", "Post") -> replyOfPost,
        EdgeSpec("REPLY_OF", "Comment", "Comment") -> replyOfComment),
      referentialIntegrity = true)
  }

  /** Persist a graph as partitioned Parquet: one directory per vertex
    * label, edges under `(label, src_label, dst_label)` partition columns
    * so scans prune exactly the adjacency partitions a traversal names —
    * the physical analogue of the reference's adjacency keying
    * (TorcHelper.java:352-370). At cluster scale, additionally bucketing
    * edges by `_src`/`_dst` would co-locate repeated hop joins
    * (SURVEY.md §4). */
  def persist(g: PropertyGraph, path: String): Unit =
    writeLayout(g, path)((df, dir) => df.write.mode("overwrite").parquet(dir))

  /** The on-disk layout [[persist]] and [[persistCsv]] share: write
    * each vertex frame to `vertices/label=…` and each edge frame to
    * `edges/label=…/src_label=…/dst_label=…` with the format's `write`,
    * then the variables sidecar. */
  private def writeLayout(g: PropertyGraph, path: String)(
      write: (DataFrame, String) => Unit): Unit = {
    // Each frame writes to its OWN directory, so the per-frame write
    // jobs are independent — submit them from driver threads and let
    // later jobs back-fill executors freed by the current job's tail
    // (optimization-guide §2.6) instead of paying ~a dozen serial
    // write-job launches. Output is byte-identical (no cross-frame
    // ordering contract; commit protocol is per-directory).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val writes =
      g.vertexFrames.toSeq.map { case (label, df) =>
        Future(write(df, s"$path/vertices/label=$label")) } ++
      g.edgeFrames.toSeq.map { case (spec, df) => Future(write(df,
        s"$path/edges/label=${spec.label}/src_label=${spec.srcLabel}/dst_label=${spec.dstLabel}")) }
    Await.result(Future.sequence(writes), Inf)
    writeVariables(g, path)
  }

  /** Re-open a graph written by [[writeLayout]], reading each frame's
    * directory with the format's `read`. */
  private def openLayout(spark: SparkSession, path: String)(
      read: String => DataFrame): PropertyGraph = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // `key=value` subdirectories of `p` as (value, full path)
    def children(p: String, key: String): Seq[(String, String)] = {
      val qualified = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(qualified)) Nil
      else fs.listStatus(qualified).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).map(d => d.stripPrefix(s"$key=") -> s"$p/$d")
    }
    val vertices = children(s"$path/vertices", "label").map { case (label, dir) =>
      label -> read(dir)
    }.toMap
    val edges = (for {
      (label, ld) <- children(s"$path/edges", "label")
      (srcLabel, sd) <- children(ld, "src_label")
      (dstLabel, dd) <- children(sd, "dst_label")
    } yield EdgeSpec(label, srcLabel, dstLabel) -> read(dd)).toMap
    val g = new PropertyGraph(spark, vertices, edges)
    readVariables(g, path)
    g
  }

  /** Persist `graph.variables()` as a one-line-per-entry sidecar
    * (tab-separated, values JSON-string-escaped — no JSON parser needed
    * on read). Written even when empty so `open` on a fresh persist
    * never probes a missing file path twice. */
  private[sources] def writeVariables(g: PropertyGraph, path: String): Unit = {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c => c.toString
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), g.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_variables.tsv"), true)
    val body = g.variables.toMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${esc(k)}\t${esc(v)}" }.mkString("", "\n", "\n")
    out.write(body.getBytes("UTF-8")); out.close()
  }

  private[sources] def readVariables(g: PropertyGraph, path: String): Unit = {
    def unesc(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case '\\' => b += '\\'
            case 'n' => b += '\n'
            case 't' => b += '\t'
            case 'r' => b += '\r'
            case c => b += c
          }
          i += 2
        } else { b += s(i); i += 1 }
      }
      b.result()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), g.spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path, "_variables.tsv")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val body = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      body.split("\n").filter(_.nonEmpty).foreach { line =>
        val cut = line.indexOf('\t')
        if (cut > 0) g.variables.set(unesc(line.take(cut)), unesc(line.drop(cut + 1)))
      }
    }
  }

  /** Persist as CSV (the reference bulk-loads from LDBC CSVs,
    * README.md:83-117) with a DDL schema sidecar per frame — CSV carries
    * no types, so the sidecar makes the round trip lossless. */
  def persistCsv(g: PropertyGraph, path: String): Unit =
    writeLayout(g, path) { (df, dir) =>
      df.write.mode("overwrite").option("header", "true").csv(dir)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), g.spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_schema.ddl"), true)
      out.write(df.schema.toDDL.getBytes("UTF-8")); out.close()
    }

  /** Re-open a CSV graph persisted by [[persistCsv]]. */
  def openCsv(spark: SparkSession, path: String): PropertyGraph = {
    val conf = spark.sparkContext.hadoopConfiguration
    openLayout(spark, path) { dir =>
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, "_schema.ddl"))
      val ddl = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .option("header", "true").csv(dir)
    }
  }

  /** Re-open a graph persisted by [[persist]] (bulk-load round trip). */
  def open(spark: SparkSession, path: String): PropertyGraph =
    openLayout(spark, path)(spark.read.parquet(_))
}
