package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.model.{Direction, GraphColumns => GC}
import graft.sources.GraphLoader

/** The declared query inventory (SURVEY.md §2.3, Q1–Q14 + flagship agg,
  * extended in round 2 through Q21 — analytics, grouping sets, id model,
  * edge-list order):
  * concrete, deterministic queries exercising every mapped reference
  * operator, each with a DuckDB-oracle SQL twin in
  * [[graft.queries.Oracles]]. All end with a total ORDER BY for stable
  * hashing; all output columns are aliased/cast to match the oracle
  * exactly (the driver compares schema + value hashes).
  */
object Inventory {
  import Direction._

  private def g(spark: SparkSession, dir: String): PropertyGraph =
    GraphLoader.tpch(spark, dir)

  /** Q1 one-hop traverse (O6/O7): customers per nation — written in the
    * PLAIN full-frontier form (`traverse(frontier(label), ...)`, an
    * explicit frontier join) and relying on the
    * [[graft.plans.RiJoinElimination]] optimizer rule + the fixture's
    * declared FK contracts to remove that join, rather than the
    * hand-routed `traverseAll` fast path. Same oracle, same result; the
    * plan must contain no join (PlanAuditSpec asserts it) — the
    * optimizer-grade mechanism proven on an oracle-green query. */
  def q01_one_hop(s: SparkSession, dir: String): DataFrame = {
    GraphLoader.declareTpchRi(s, dir)
    val G = g(s, dir)
    val r = G.traverse(G.frontier("Nation"), "Nation", "IN_NATION", In,
      fillEdge = false, Seq("Customer"))
    r.df.select(col(GC.Src).cast("int").as("n_nationkey"),
        col(GC.Dst).as("c_custkey"))
      .orderBy("n_nationkey", "c_custkey")
  }

  /** Q2 two-hop fuse (O26): customers in region ASIA. */
  def q02_two_hop_fuse(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val asia = G.vertices("Region").where(col("r_name") === "ASIA")
    val hopA = G.traverse(asia, "Region", "IN_REGION", In, fillEdge = false, Seq("Nation"))
    val hopB = G.traverse(hopA.vSetIds, "Nation", "IN_NATION", In, fillEdge = false, Seq("Customer"))
    val fused = hopA.fuse(hopB, dedup = true)
    G.hydrate(fused.df, GC.Src, "Region", Seq("r_name"))
      .select(col("r_name"), col(GC.Dst).as("c_custkey"))
      .orderBy("r_name", "c_custkey")
  }

  /** Q3 semi-join intersect (O27): suppliers in nations with >=1 customer. */
  def q03_intersect(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val custNations = G.traverseAll("Customer", "IN_NATION", Out,
      fillEdge = false, Seq("Nation")).vSetIds
    val suppNations = G.traverseAll("Supplier", "IN_NATION", Out,
      fillEdge = false, Seq("Nation"))
    suppNations.intersect(custNations)
      .df.select(col(GC.Src).as("s_suppkey")).orderBy("s_suppkey")
  }

  /** Q4 anti-join subtract (O28): customers with no URGENT order. */
  def q04_subtract(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val urgentOrders = G.vertices("Order").where(col("o_orderpriority") === "1-URGENT")
    val reached = G.traverse(urgentOrders, "Order", "PLACED_BY", Out,
      fillEdge = false, Seq("Customer")).vSetIds
    val allCustomers = G.traverseAll("Nation", "IN_NATION", In,
      fillEdge = false, Seq("Customer"))
    allCustomers.subtract(reached)
      .df.select(col(GC.Dst).as("c_custkey")).orderBy("c_custkey")
  }

  /** Q5 edge-property filter (O29, fillEdge in O6): lineitem edges with
    * quantity > 45 — written in the PLAIN full-frontier form (like q01)
    * so the [[graft.plans.RiJoinElimination]] rule, licensed by the
    * declared lineitem→orders FK, removes the frontier join instead of
    * the hand-routed `traverseAll` fast path (PlanAuditSpec asserts a
    * join-free optimized plan). */
  def q05_edge_filter(s: SparkSession, dir: String): DataFrame = {
    GraphLoader.declareTpchRi(s, dir)
    val G = g(s, dir)
    val r = G.traverse(G.frontier("Order"), "Order", "CONTAINS", Out,
      fillEdge = true, Seq("Part"))
    r.removeEdgeIf(col("l_quantity") <= 45)
      .df.select(col(GC.Src).as("o_orderkey"), col(GC.Dst).as("p_partkey"),
        col("l_linenumber"))
      .orderBy("o_orderkey", "p_partkey", "l_linenumber")
  }

  /** Q6 property hydration (O11): customers in nation 0, projected. */
  def q06_hydrate(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val n0 = G.verticesById("Nation", Seq(0L))
    val custs = G.traverse(n0, "Nation", "IN_NATION", In,
      fillEdge = false, Seq("Customer")).vSetIds
    G.hydrate(custs, GC.Id, "Customer", Seq("c_custkey", "c_name", "c_acctbal"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Q7 neighbor dedup / vSet (O33): distinct parts reachable from orders
    * of BUILDING-segment customers. */
  def q07_distinct_reach(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val bldg = G.vertices("Customer").where(col("c_mktsegment") === "BUILDING")
    val orders = G.traverse(bldg, "Customer", "PLACED_BY", In,
      fillEdge = false, Seq("Order")).vSetIds
    val parts = G.traverse(orders, "Order", "CONTAINS", Out,
      fillEdge = false, Seq("Part")).vSetIds
    parts.select(col(GC.Id).as("p_partkey")).orderBy("p_partkey")
  }

  /** Q8 degree / group-count (vMap grouping): orders per customer. */
  def q08_degree(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val r = G.traverseAll("Customer", "PLACED_BY", In,
      fillEdge = false, Seq("Order"))
    r.degrees.select(col(GC.Id).as("c_custkey"), col("degree").as("order_count"))
      .orderBy("c_custkey")
  }

  /** Q9 top-k over traversal: top 10 nations by customer count
    * (deterministic tie-break on n_name). */
  def q09_topk(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val r = G.traverseAll("Customer", "IN_NATION", Out,
      fillEdge = false, Seq("Nation"))
    val counts = r.df.groupBy(col(GC.Dst)).agg(count(lit(1)).as("cnt"))
    G.hydrate(counts, GC.Dst, "Nation", Seq("n_name"))
      .select(col("n_name"), col("cnt"))
      .orderBy(desc("cnt"), asc("n_name"))
      .limit(10)
  }

  /** Q10 point lookup (O4): 60 ids, 10 of them misses — misses absent. */
  val q10Ids: Seq[Long] = (0L until 50L) ++ (100000L until 100010L)
  def q10_point_lookup(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    G.verticesById("Customer", q10Ids)
      .select(col("c_custkey")).orderBy("c_custkey")
  }

  /** Q11 BOTH-direction expansion (O7): neighbors of Nation 5 over
    * IN_NATION in both directions. */
  def q11_both_direction(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val n5 = G.verticesById("Nation", Seq(5L))
    val r = G.traverse(n5, "Nation", "IN_NATION", Both,
      fillEdge = false, Seq("Customer", "Supplier"))
    r.df.select(col(GC.DstLabel).as("neighbor_label"), col(GC.Dst).as("neighbor_id"))
      .orderBy("neighbor_label", "neighbor_id")
  }

  /** Q12 multi-label expansion (O6 varargs): nations to {Customer,Supplier}. */
  def q12_multi_label(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val r = G.traverseAll("Nation", "IN_NATION", In,
      fillEdge = false, Seq("Customer", "Supplier"))
    r.df.select(col(GC.Src).cast("int").as("n_nationkey"),
        col(GC.DstLabel).as("label"), col(GC.Dst).as("id"))
      .orderBy("n_nationkey", "label", "id")
  }

  /** Q13 path multiplicity (O26 dedup=false): customer->nation->region,
    * row per path, counts preserved. */
  def q13_path_multiplicity(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val hopA = G.traverseAll("Customer", "IN_NATION", Out,
      fillEdge = false, Seq("Nation"))
    val hopB = G.traverseAll("Nation", "IN_REGION", Out,
      fillEdge = false, Seq("Region"))
    val fused = hopA.fuse(hopB, dedup = false)
    fused.df.groupBy(col(GC.Src), col(GC.Dst))
      .agg(count(lit(1)).as("path_count"))
      .select(col(GC.Src).as("c_custkey"), col(GC.Dst).cast("int").as("r_regionkey"),
        col("path_count"))
      .orderBy("c_custkey", "r_regionkey")
  }

  /** Q14 bulk load round-trip (O18/O19): persist the graph as partitioned
    * Parquet, re-open it, count per vertex label and edge spec. */
  def q14_bulk_load(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_bulk_${math.abs(dir.hashCode)}"
    GraphLoader.persist(G, tmp)
    val reopened = GraphLoader.open(s, tmp)
    val vCounts = reopened.vertexLabels.map { label =>
      reopened.vertices(label).agg(count(lit(1)).as("cnt"))
        .select(lit(label).as("label"), col("cnt"))
    }
    val eCounts = reopened.edgeSpecs.map { spec =>
      reopened.edgeFrames(spec).agg(count(lit(1)).as("cnt"))
        .select(lit(s"E:${spec.label}:${spec.srcLabel}:${spec.dstLabel}").as("label"), col("cnt"))
    }
    (vCounts ++ eCounts).reduce(_.unionByName(_)).orderBy("label")
  }

  /** Q15 flagship aggregation over CONTAINS edge properties (pricing
    * summary in the TPC-H Q1 shape). Decimal sums are exact and
    * order-independent — no FP drift vs the oracle. */
  def q15_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    // Plain traverse form + declared FKs: the frontier join is removed
    // by the RI optimizer rule, not hand-routed (PlanAuditSpec).
    GraphLoader.declareTpchRi(s, dir)
    val G = g(s, dir)
    val li = G.traverse(G.frontier("Order"), "Order", "CONTAINS", Out,
      fillEdge = true, Seq("Part"))
    li.filter(col("l_shipdate") < to_timestamp(lit("1998-09-02")))
      .df.groupBy("l_returnflag", "l_linestatus")
      // Sums accumulate in DECIMAL (exact, order-independent across any
      // partitioning) and only the final value is cast to DOUBLE — so the
      // result is bit-identical no matter how the cluster partitions.
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q16: the chainable DSL end-to-end (Gremlin-surface parity,
    * SURVEY.md §2.1 inherited step library): has -> in -> outE -> where ->
    * groupCount, composed purely from [[graft.dsl.G]] verbs. */
  def q16_dsl_chain(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING")
      .in("PLACED_BY", "Order")
      .outE("CONTAINS", "Part")
      .where(col("l_quantity") > 45)
      .groupCount()
      .select(col(graft.model.GraphColumns.Id).as("p_partkey"), col("cnt"))
      .orderBy("p_partkey")
  }

  /** Q17: grouping-set coverage (SURVEY §2.2 "cube/rollup if we expose
    * them"): ROLLUP over (returnflag, linestatus) with subtotal rows.
    * Null subtotal markers sort NULLS FIRST on both sides. */
  def q17_rollup(s: SparkSession, dir: String): DataFrame = {
    // Plain traverse form + declared FKs: the frontier join is removed
    // by the RI optimizer rule, not hand-routed (PlanAuditSpec).
    GraphLoader.declareTpchRi(s, dir)
    val G = g(s, dir)
    val li = G.traverse(G.frontier("Order"), "Order", "CONTAINS", Out,
      fillEdge = true, Seq("Part"))
    // rollup with Column refs, not names: the string overload trips
    // DetectAmbiguousSelfJoin after any join in Spark 4.1
    li.df.select("l_returnflag", "l_linestatus", "l_quantity")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Q19: connected components over the geography subgraph
    * (Customer/Supplier —IN_NATION→ Nation —IN_REGION→ Region) via the
    * GraphX bridge's Pregel CC — the iterative-fixpoint operator class.
    * Component representative = min packed (labelId << 48 | key) vertex
    * id in the component, which the oracle re-derives relationally (each
    * component is exactly one region's tree). */
  /** The Customer/Supplier/Nation/Region subgraph shared by the
    * iterative-analytics queries. */
  private def geographySubgraph(s: SparkSession, G: PropertyGraph): PropertyGraph = {
    val labels = Set("Customer", "Nation", "Region", "Supplier")
    new PropertyGraph(s,
      G.vertexFrames.filter { case (l, _) => labels(l) },
      G.edgeFrames.filter { case (spec, _) =>
        spec.label == "IN_NATION" || spec.label == "IN_REGION" })
  }

  private def labelNameCol(sub: PropertyGraph): org.apache.spark.sql.Column =
    sub.labelIds.map(_.swap).foldLeft(lit(null).cast("string")) {
      case (acc, (id, name)) => when(col("label_id") === id, lit(name)).otherwise(acc)
    }

  def q19_connected_components(s: SparkSession, dir: String): DataFrame = {
    val sub = geographySubgraph(s, g(s, dir))
    val cc = graft.analytics.GraphXBridge.connectedComponents(sub)
    cc.select(labelNameCol(sub).as("label"), col(GC.Id).cast("bigint").as("id"),
        col("component"))
      .orderBy("label", "id")
  }

  /** Q20: single-source shortest paths (Pregel min-plus supersteps) over
    * the undirected geography subgraph from Customer 0 — the
    * message-passing iterative operator class, distinct from q19's CC
    * (min-id label propagation). The oracle derives every hop distance
    * relationally: the subgraph is a forest of region trees, so distance
    * is a closed-form CASE over nation/region membership. */
  def q20_shortest_path(s: SparkSession, dir: String): DataFrame = {
    val sub = geographySubgraph(s, g(s, dir))
    val d = graft.analytics.GraphXBridge.hopDistances(sub, "Customer", 0L)
    d.select(labelNameCol(sub).as("label"), col(GC.Id).cast("bigint").as("id"),
        col("dist"))
      .orderBy("label", "id")
  }

  /** Q21: edge-list read order (O20/O21/O23). The reference's segmented
    * adjacency lists read back newest-first (prepend = LIFO,
    * TorcEdgeList prepend/read; TorcEdgeListTest.java asserts the
    * reverse-insertion order). Our layout replaces physical list order
    * with an explicit sequence column: reading an order's CONTAINS list
    * in descending l_linenumber reproduces the LIFO traversal, with the
    * read rank materialized. */
  def q21_edge_list_order(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    val li = G.traverseAll("Order", "CONTAINS", Out, fillEdge = true, Seq("Part"))
      .filter(col(GC.Src) < 1000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(GC.Src))
      .orderBy(desc("l_linenumber"), asc(GC.Dst))
    li.df.withColumn("read_rank", row_number().over(w).cast("bigint"))
      .select(col(GC.Src).as("o_orderkey"), col("read_rank"),
        col(GC.Dst).as("p_partkey"), col("l_linenumber"))
      .orderBy("o_orderkey", "read_rank")
  }

  /** Q23: `repeat().emit()` under the oracle — from BUILDING customers,
    * two emitted hops (orders, then their lineitem parts), counted per
    * depth with multiplicity. The hop is a union of the two typed
    * expansions; at each depth exactly one branch matches the frontier's
    * label (the other is a legitimately-empty hop), so the emitted
    * stream is customers(0) → orders(1) → parts(2) — one lazy plan, no
    * driver loop. */
  def q23_repeat_emit(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING")
      .repeatEmit(2, emitInitial = true)(_.union(
        _.in("PLACED_BY", "Order"),
        _.out("CONTAINS", "Part")))
      .toDF
      .groupBy(col(graft.dsl.Step.DepthCol).as("depth"),
        col(GC.Label).as("vlabel"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("depth", "vlabel")
  }

  /** Q24: the LDBC-SNB Interactive shape the reference benchmarks
    * (README.md:69-147) — a 3-hop traversal with an edge-property
    * filter and a top-k, as ONE Spark plan: BUILDING customers → their
    * orders → lineitems over 45 units → top 20 parts by distinct
    * ordering customers. The `as("c")` capture rides the hop chain so
    * the distinct-customer count needs no re-join back to the start. */
  def q24_snb_composite(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING").as("c")
      .in("PLACED_BY", "Order")
      .outE("CONTAINS", "Part")
      .where(col("l_quantity") > 45)
      .toDF
      .groupBy(col(GC.Id).as("p_partkey"))
      .agg(count_distinct(col("_as_c").getField("id")).as("n_customers"))
      .orderBy(desc("n_customers"), asc("p_partkey"))
      .limit(20)
  }

  /** Q25: LDBC-SNB IC-style friends-of-friends on the seeded
    * person–knows–person graph ([[GraphLoader.snb]]; the reference's
    * benchmarked workload shape, README.md:69-147) — from supernode
    * Person 0: 2-hop `knows` expansion (undirected via BOTH), excluding
    * self and direct friends, scored by the number of DISTINCT common
    * friends (the `as("f")` capture rides the second hop, q24-style),
    * filtered on a person property, top 20. One declarative plan: the
    * knows edge frame is generated, expanded twice, and aggregated
    * without any driver-side iteration. */
  def q25_snb_fof(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val G = graft.dsl.G(Gp)
    val direct = G.V("Person", 0L).both("KNOWS").dedup()
    val fof = direct.as("f").both("KNOWS").toDF
    val scored = fof.groupBy(col(GC.Id))
      .agg(count_distinct(col("_as_f").getField("id")).as("n_common"))
    val candidates = scored
      .join(direct.toDF.select(col(GC.Id)), Seq(GC.Id), "left_anti")
      .where(col(GC.Id) =!= 0L)
    Gp.hydrate(candidates, GC.Id, "Person", Seq("acctbal"))
      .where(col("acctbal") > 0)
      .select(col(GC.Id).as("person_id"), col("n_common"), col("acctbal"))
      .orderBy(desc("n_common"), asc("person_id"))
      .limit(20)
  }

  /** Q26: LDBC-SNB IC13-style shortest path over `knows` — BFS hop
    * distances from Person 1 via the Pregel bridge (min-plus supersteps,
    * undirected), truncated to 4 hops so the DuckDB recursive-CTE twin
    * is exact. The distance map subsumes the IC13 pair answer: any
    * target person's row IS dist(1, target). Posts are excluded from
    * the subgraph so paths can't detour through HAS_CREATOR. */
  def q26_snb_path(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val sub = new PropertyGraph(s,
      Map("Person" -> Gp.vertexFrames("Person")),
      Gp.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    graft.analytics.GraphXBridge.hopDistances(sub, "Person", 1L)
      .where(col("dist") <= 4)
      .select(col(GC.Id).as("person_id"), col("dist"))
      .orderBy("person_id")
  }

  /** Q27: `bothE` — edge-keeping BOTH expansion (reference single-vertex
    * surface, TorcGraph.java:1281-1398) from supernode Person 0: one row
    * per stored KNOWS direction touching 0, with the `since` edge
    * property kept. */
  def q27_bothe(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(GraphLoader.snb(s, dir))
    G.V("Person", 0L).bothE("KNOWS").toDF
      .select(col(GC.Id).as("neighbor_id"), col("since"))
      .orderBy("neighbor_id", "since")
  }

  /** Q28: `repeat().until(predicate)` under the oracle — from BUILDING
    * customers, climb the geography tree (the union hop, q23-style)
    * UNTIL the frontier element has a non-null r_name, i.e. is a Region
    * (a property condition the frontier must hydrate per label: Nations
    * can never satisfy it and keep looping; Regions exit). Landing
    * multiplicity = one per customer→nation→region path, grouped per
    * region. */
  def q28_until(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING")
      .repeatUntil(col("r_name").isNotNull, maxIter = 5)(
        _.union(_.out("IN_NATION", "Nation"), _.out("IN_REGION", "Region")))
      .groupCount()
      .select(col(GC.Label).as("vlabel"), col(GC.Id).as("vid"), col("cnt"))
      .orderBy("vlabel", "vid")
  }

  /** Q29: posts of friends (the IC6-ish shape on the SNB fixture) —
    * Person 0's undirected friends, then their posts via the
    * Post-[HAS_CREATOR]->Person edge traversed inbound, scored by the
    * post's score property (hydrated), top 20. Exercises the Post
    * vertex label and HAS_CREATOR edge the other SNB queries don't. */
  def q29_snb_posts(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val G = graft.dsl.G(Gp)
    val posts = G.V("Person", 0L).both("KNOWS").dedup().as("f")
      .in("HAS_CREATOR", "Post")
      .toDF
      .select(col(GC.Id).as("post_id"),
        col("_as_f").getField("id").as("creator_id"))
    Gp.hydrate(posts, "post_id", "Post", Seq("score"))
      .select(col("post_id"), col("creator_id"), col("score"))
      .orderBy(desc("score"), asc("post_id"))
      .limit(20)
  }

  /** Q30: Gremlin `not(branch)` under the oracle — customers with NO
    * urgent order above 300 000: the branch expands to orders and
    * property-filters them (hydrated `has`); `not` keeps the traversers
    * whose branch produced nothing (per-origin anti-join — the step
    * form of O28's subtract). */
  def q30_not_step(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer")
      .not(_.in("PLACED_BY", "Order")
        .has(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 300000))
      .toDF.select(col(GC.Id).as("c_custkey"))
      .orderBy("c_custkey")
  }

  /** Q31: Gremlin `choose(pred, t, f)` under the oracle — per customer:
    * BUILDING-segment traversers expand to their orders, everyone else
    * to their nation; landing elements counted. Exercises conditional
    * routing (partition + per-branch expansion + union) as ONE plan. */
  def q31_choose(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer")
      .choose(col("c_mktsegment") === "BUILDING")(
        _.in("PLACED_BY", "Order"),
        _.out("IN_NATION", "Nation"))
      .groupCount()
      .select(col(GC.Label).as("vlabel"), col(GC.Id).as("vid"), col("cnt"))
      .orderBy("vlabel", "vid")
  }

  /** Q32: Gremlin `range(lo, hi)` under the oracle — the [100, 120)
    * slice of BUILDING customers in deterministic order (the id is the
    * primary sort key, so the SQL twin is ORDER BY + LIMIT/OFFSET). */
  def q32_range(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING").range(100, 120)
      .toDF.select(col(GC.Id).as("c_custkey"))
      .orderBy("c_custkey")
  }

  /** Q33: IC-style thread unroll on the SNB fixture — the reply-tree
    * shape of the reference's benchmarked Interactive workload
    * (README.md:69-147; Comments reply to Posts or to other Comments,
    * and the IC handlers unroll whole threads). From Person 0's
    * undirected friends' posts: the FULL reply tree of each post,
    * unrolled by a depth-tagged [[graft.dsl.Step.repeatEmit]] over the
    * REPLY_OF edge traversed inbound (depth 1 = direct comments on the
    * post, deeper = replies to replies; parent rank < child rank and
    * ranks stop at 7, so depth is bounded at 7 — a full rank chain —
    * and the superstep unroll exits early once a level drains). Per
    * post: total replies + max thread depth, top 20. Posts
    * with no replies produce no rows (group-over-emitted semantics).
    *
    * Scale discipline (lazy unroll measured 24 s at sf0.1, this form
    * ~3 s): the ranked comment frame is MATERIALIZED once
    * (`GraphLoader.snb(materializeComments = true)`) so the REPLY_OF
    * frames are cheap projections of the checkpointed rank instead of
    * each re-running the window + parent self-join, and the unroll
    * itself runs in SUPERSTEP mode (`repeatEmit(materialize = true)`)
    * so each depth's expansion executes exactly once instead of
    * re-embedding every shallower depth's subplan — AQE's
    * ReusedExchange dedupes repeated shuffles but not the operators
    * above them. One bounded materialization feeding N repeated
    * traversals is the persist-the-adjacency-table discipline a 100-TB
    * thread workload needs (GraphLoader.persistBucketed is the durable
    * form); PlanAuditSpec asserts the unroll plan contains ZERO Window
    * nodes — the rank computation never leaks into the per-depth
    * plans. */
  def q33_snb_thread(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir, materializeComments = true)
    val G = graft.dsl.G(Gp)
    G.V("Person", 0L).both("KNOWS").dedup()
      .in("HAS_CREATOR", "Post").as("p")
      .repeatEmit(7, materialize = true)(_.in("REPLY_OF", "Comment"))
      .toDF
      .groupBy(col("_as_p").getField("id").as("post_id"))
      .agg(count(lit(1)).as("n_replies"),
        max(col(graft.dsl.Step.DepthCol)).as("max_depth"))
      .orderBy(desc("n_replies"), desc("max_depth"), asc("post_id"))
      .limit(20)
  }

  /** Q36: IC8-style "replies to your content" on the SNB fixture — the
    * other direction of the thread surface: direct comments on Person
    * 0's OWN posts, hydrated with the comment's `created` property and
    * joined to the commenting person via the Comment→Person HAS_CREATOR
    * edge (the spec q33 does not traverse). Top 20 by recency then
    * comment id — the reference's IC8 ordering.
    *
    * Same materialization discipline as q33 (`Inventory.scala`, q33 doc
    * block): the ranked comment frame is checkpointed once so the two
    * consumers here — the REPLY_OF expansion and the Comment hydrate —
    * are projections of one materialized frame instead of each
    * re-running the rank Window + parent self-join, and the 1-row
    * person-count broadcast that seeds the generator never reaches the
    * executed plan (PlanAuditSpec asserts zero Window nodes and no
    * unlisted BroadcastNestedLoopJoin). */
  def q36_snb_replies(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir, materializeComments = true)
    val G = graft.dsl.G(Gp)
    val replies = G.V("Person", 0L)
      .in("HAS_CREATOR", "Post")
      .in("REPLY_OF", "Comment").as("c")
      .out("HAS_CREATOR", "Person")
      .toDF
      .select(col("_as_c").getField("id").as("comment_id"),
        col(GC.Id).as("replier_id"))
    Gp.hydrate(replies, "comment_id", "Comment", Seq("created"))
      .select(col("comment_id"), col("replier_id"), col("created"))
      .orderBy(desc("created"), asc("comment_id"))
      .limit(20)
  }

  /** Q37: Gremlin `sack()` under the oracle — per-traverser accumulation
    * along the hop chain: BUILDING customers carry a decimal sack
    * through orders into CONTAINS edges, add each edge's quantity
    * (`modifySack` over the edge-property frontier), and the sacks
    * aggregate per origin customer. Decimal accumulation + final double
    * cast (the q15 rule) keeps the hash bit-stable under any
    * partitioning. */
  def q37_sack(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING").as("c")
      .withSack(lit(0).cast("decimal(18,2)"))
      .in("PLACED_BY", "Order")
      .outE("CONTAINS", "Part")
      .modifySack(_ + col("l_quantity").cast("decimal(18,2)"))
      .toDF
      .groupBy(col("_as_c").getField("id").as("c_custkey"))
      .agg(sum(col(graft.dsl.Step.SackCol)).cast("double").as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy("c_custkey")
  }

  /** Q34: Gremlin `project('a','b').by(subtraversal)` under the oracle —
    * per BUILDING customer, two scalar subqueries as ONE plan: the
    * order count (count projection over the PLACED_BY branch) and the
    * nation name (max-aggregate projection over the IN_NATION branch —
    * exactly one nation per customer, so max IS the value), top 20 by
    * order count. Each projection is one aggregation subplan left-joined
    * back; no per-element execution. */
  def q34_project(s: SparkSession, dir: String): DataFrame = {
    import graft.dsl.Projection
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer").has("c_mktsegment", "BUILDING")
      .project(
        Projection.count("order_count")(_.in("PLACED_BY", "Order")),
        Projection.agg("nation_name", "n_name", max)(_.out("IN_NATION", "Nation")))
      .select(col(GC.Id).as("c_custkey"), col("order_count"), col("nation_name"))
      .orderBy(desc("order_count"), asc("c_custkey"))
      .limit(20)
  }

  /** Q35: traversal-valued `where()` under the oracle — customers WITH
    * at least one urgent order above 300 000 (the positive semi-join
    * twin of q30's `not`; same branch, complementary keep-set). */
  def q35_where_step(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Customer")
      .where(_.in("PLACED_BY", "Order")
        .has(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 300000))
      .toDF.select(col(GC.Id).as("c_custkey"))
      .orderBy("c_custkey")
  }

  /** Q38: Gremlin `match()` under the oracle — the declarative
    * pattern-matching step from the inherited step library
    * (`/root/reference/pom.xml:19-27`), in an IC5 shape (friends and
    * their content volume) as two patterns over the SNB fixture:
    * `(a)-KNOWS-(b)`, `(b)<-HAS_CREATOR-(p)`, seeded at Person 0.
    * Solutions are DISTINCT (a, b, p) assignments — the natural join of
    * the two per-pattern binding frames — and the aggregation counts
    * posts per friend. Friends with no posts have no solution (match
    * semantics; the SQL twin's inner join). */
  def q38_match(s: SparkSession, dir: String): DataFrame = {
    import graft.dsl.MatchPattern
    val G = graft.dsl.G(GraphLoader.snb(s, dir))
    G.V("Person", 0L).matchAll("a",
        MatchPattern("a", "b", _.both("KNOWS")),
        MatchPattern("b", "p", _.in("HAS_CREATOR", "Post")))
      .groupBy(col("b").getField("id").as("person_id"))
      .agg(count(lit(1)).as("n_posts"))
      .orderBy(desc("n_posts"), asc("person_id"))
      .limit(20)
  }

  /** Q39: the side-effect collection steps under the oracle —
    * `aggregate()` collects the nations of high-balance BUILDING
    * customers into a named set (a DataFrame, so the later membership
    * filter is ONE semi-join in the final plan — never a driver
    * materialization), and a second traversal keeps suppliers whose
    * nation is `within()` it, jumping back to the supplier via the
    * `as`/`select` capture. The inherited side-effect filter idiom
    * (`aggregate("x") ... where(within("x"))`, pom.xml:19-27). */
  def q39_aggregate(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    val buildingNations = G.V("Customer")
      .has("c_mktsegment", "BUILDING").has(col("c_acctbal") > 9900)
      .out("IN_NATION", "Nation").aggregate("bn").sideEffect("bn")
    G.V("Supplier").as("s")
      .out("IN_NATION", "Nation").whereWithin(buildingNations)
      .select("s")
      .toDF.select(col(GC.Id).as("s_suppkey"))
      .orderBy("s_suppkey")
  }

  /** Q40: Gremlin `subgraph()` under the oracle — the induced subgraph
    * of (BUILDING customers ∪ their nations), then a traversal INSIDE
    * it: per nation, its customer count. Only edges with both endpoints
    * in the set survive the induction, so the in-subgraph count is the
    * BUILDING-only count — which is exactly what the SQL twin states.
    * The induction is semi-joins end to end (one per vertex frame, two
    * per adjacency partition); nothing driver-side. */
  def q40_subgraph(s: SparkSession, dir: String): DataFrame = {
    val G0 = graft.dsl.G(g(s, dir))
    val seed = G0.V("Customer").has("c_mktsegment", "BUILDING")
      .union(_.out("IN_NATION", "Nation"), identity)
    val sub = seed.subgraph()
    graft.dsl.G(sub).V("Nation").as("n").in("IN_NATION", "Customer")
      .select("n").toDF
      .groupBy(col(GC.Id).as("n_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_nationkey")
  }

  /** Q41: TinkerPop `shortestPath()` under the oracle — LDBC IC14's
    * core: ALL shortest paths from Person 1 over undirected KNOWS
    * (depth <= 4), aggregated per target as (distance, path count).
    * `Step.shortestPaths(all = true)` keeps every first-reach arrival,
    * so per-target row multiplicity IS the shortest-path count; the
    * DuckDB twin counts minimal-length WALKS, which equal simple
    * shortest paths (a minimal walk cannot revisit a vertex — the
    * repeat would contain a shorter arrival). Parallel stored
    * directions count separately on BOTH sides (`both` == UNION ALL
    * of the stored directions). Posts are excluded like q26 so paths
    * can't detour through HAS_CREATOR. */
  def q41_snb_allpaths(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val sub = new PropertyGraph(s,
      Map("Person" -> Gp.vertexFrames("Person")),
      Gp.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    graft.dsl.G(sub).V("Person", 1L)
      .shortestPaths(4, all = true)(_.both("KNOWS"))
      .groupBy(col("dst_id").as("person_id"))
      .agg(min(col("dist")).as("dist"), count(lit(1)).as("n_shortest"))
      .orderBy("person_id")
  }

  /** Q42: TinkerPop `connectedComponent()` under the oracle — every
    * person annotated with its KNOWS-component representative (the
    * min member id, [[graft.dsl.Step.componentId]]'s deterministic
    * rule) via the DataFrame-native min-label supersteps
    * ([[graft.analytics.Iterative.connectedComponents]]). The DuckDB
    * twin materializes the reachability closure (recursive CTE with
    * UNION dedup) and takes min reachable id per person — undirected
    * reachability is symmetric, so min-reachable IS the component
    * min. */
  def q42_snb_components(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.dsl.G(Gp).V("Person").componentId("KNOWS")
      .toDF
      .select(col(GC.Id).as("person_id"), col("component_id").as("component"))
      .orderBy("person_id")
  }

  /** Q43: weighted shortest path — TinkerPop
    * `shortestPath().with(distance, 'since')` — as a PURE COMPOSITION
    * of existing steps: `withSack(0)` carries the accumulated edge
    * weight, `repeatEmit(4).bothE.modifySack(+since)` enumerates every
    * <=4-hop walk from Person 1 with its cost, and `min(cost)` per
    * target is the answer. Hop-bounded min-cost is EXACT on both sides
    * (no visited pruning here and none in the oracle's walk CTE —
    * identical semantics by construction); weights are non-negative,
    * so a min-cost walk is a simple path. Integer weights keep the
    * hash comparison exact. Superstep mode bounds the walk-enumeration
    * plans; the walk count is the documented exponential-by-contract
    * bound (the q41 discipline) — unbounded weighted SSSP at scale is
    * [[graft.analytics.GraphXBridge.hopDistances]]'s Pregel shape with
    * a min-plus message, not walk enumeration. */
  def q43_snb_weighted(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.dsl.G(Gp).V("Person", 1L)
      .withSack(lit(0L))
      .repeatEmit(4, emitInitial = true, materialize = true)(
        _.bothE("KNOWS").modifySack(_ + col("since")))
      .sack()
      .groupBy(col(GC.Id).as("person_id"))
      .agg(min(col("sack")).as("cost"))
      .orderBy("person_id")
  }

  /** Q44: per-person triangle counts over undirected KNOWS — the
    * clustering-coefficient numerator every social-graph workload
    * computes, via the DataFrame-native canonical wedge join
    * ([[graft.analytics.Iterative.triangleCounts]]); persons in no
    * triangle report 0. The DuckDB twin states the same
    * canonical-orientation join directly. */
  def q44_snb_triangles(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative.triangleCounts(Gp, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("triangles"))
      .orderBy("person_id")
  }

  /** Q45: TinkerPop `peerPressure()` under the oracle — 5 rounds of
    * deterministic synchronous label propagation over KNOWS
    * ([[graft.analytics.Iterative.labelPropagation]]: most-frequent
    * neighbor label, ties to the smallest), which is only
    * oracle-checkable BECAUSE the tie-break is total — the DuckDB twin
    * unrolls the same five rounds (neighbor-label frequency over the
    * stored-direction multiset + row_number argmax) and must agree
    * bit-for-bit. GraphX's LPA breaks ties on iteration order and
    * could never sit here. */
  def q45_snb_communities(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative.labelPropagation(Gp, 5, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("community_id").as("community"))
      .orderBy("person_id")
  }

  /** Q46: k-core decomposition under the oracle — the 5-core of the
    * KNOWS graph after a 4-round bounded peel
    * ([[graft.analytics.Iterative.kCore]]). The round budget is the
    * CONTRACT on both sides: the DuckDB twin unrolls the same four
    * peel rounds (degree over the surviving stored-direction multiset,
    * drop < 3), so the comparison is exact whether or not the peel has
    * converged — and early convergence is a fixpoint, so stopping
    * early changes nothing. Output: survivors with their final
    * in-core degree. */
  def q46_snb_kcore(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative.kCore(Gp, 5, Set("KNOWS"), maxRounds = 4)
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("degree"))
      .orderBy("person_id")
  }

  /** Q47: bounded closeness centrality from a MULTI-SOURCE frontier —
    * the per-ORIGIN contract of [[graft.dsl.Step.shortestPaths]] under
    * the oracle (q41 exercises one origin; this runs five at once, one
    * BFS sweep total, NOT five): per seed person, the count and
    * distance-sum of everyone within 4 hops over undirected KNOWS.
    * Integer outputs keep the hash exact; closeness = n/(dist_sum) is
    * a client-side division away. */
  def q47_snb_closeness(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val sub = new PropertyGraph(s,
      Map("Person" -> Gp.vertexFrames("Person")),
      Gp.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    graft.dsl.G(sub).V("Person", 0L, 1L, 2L, 3L, 4L)
      .shortestPaths(4)(_.both("KNOWS"))
      .where(col("dist") > 0)
      .groupBy(col("src_id").as("person_id"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("dist_sum"))
      .orderBy("person_id")
  }

  /** Q48: seed-pair stress centrality — the betweenness family with an
    * EXACT integer contract: for every ordered seed pair (s, t), s != t,
    * count each interior vertex of each shortest s->t path (within 4
    * hops over undirected KNOWS). [[graft.dsl.Step.shortestPaths]] with
    * `all = true` yields one row per shortest path with the full `path`
    * array, so the interior explode is a projection, not a new
    * traversal; integer counts hash exactly where the classic
    * sigma_st(v)/sigma_st ratio would not. Ordered pairs double every
    * count symmetrically — part of the contract, mirrored in SQL. */
  def q48_snb_stress(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val sub = new PropertyGraph(s,
      Map("Person" -> Gp.vertexFrames("Person")),
      Gp.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    val seeds = Seq(0L, 1L, 2L, 3L, 4L)
    graft.dsl.G(sub).V("Person", seeds: _*)
      .shortestPaths(4, all = true)(_.both("KNOWS"))
      .where(col("dst_id").isin(seeds: _*) && col("dist") > 0)
      .select(explode(slice(col("path"), lit(2), size(col("path")) - 2)).as("v"))
      .groupBy(col("v").getField("id").as("person_id"))
      .agg(count(lit(1)).as("stress"))
      .orderBy("person_id")
  }

  /** Q49: INCREMENTAL connected components — the same answer as q42,
    * reached by folding the KNOWS edges in three deterministic batches
    * through [[graft.analytics.Iterative.mergeComponentsBatch]] (each
    * batch contracts its endpoints through the current state, runs the
    * min-label loop on the CONTRACTED graph only, and relabels the
    * state with one join — per-batch work sized by the batch, never
    * the accumulated graph). Sharing q42's oracle is the point: the
    * incremental fold must land on the whole-graph fixpoint
    * regardless of arrival order. */
  def q49_snb_components_inc(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    val knows = Gp.edgeFrames.collect {
        case (spec, e) if spec.label == "KNOWS" => e
      }.reduce(_.unionByName(_))
      .select(col(GC.Src).cast("bigint").as("src"),
        col(GC.Dst).cast("bigint").as("dst"))
    val batches = (0 until 3).map(i =>
      knows.where(pmod(col("src") + col("dst"), lit(3)) === i))
    graft.analytics.Iterative
      .incrementalComponents(Gp.vertexFrames("Person").select(col(GC.Id)), batches)
      .select(col("id").as("person_id"), col("component"))
      .orderBy("person_id")
  }

  /** Q50: PageRank under the HASH-EXACT oracle gate — the fixed-point
    * integer formulation ([[graft.analytics.Iterative.pageRankFixedPoint]]):
    * every operation an integer floor-division or exact long sum, so
    * the ranks are identical under any partitioning and replay
    * verbatim as an unrolled SQL iteration chain. The float
    * [[graft.analytics.Iterative.pageRank]] stays GraphX-parity-checked
    * (double sums are partition-order-dependent and can never hash);
    * this is the same determinism trade as e25's rational tf-idf.
    * Stored KNOWS directions, 10 iterations, scale 1e12. */
  def q50_snb_pagerank(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .pageRankFixedPoint(Gp, iters = 10, edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("rank_fp"))
      .orderBy("person_id")
  }

  /** Q51: HITS hubs & authorities over the directed KNOWS graph under
    * the q50 fixed-point discipline
    * ([[graft.analytics.Iterative.hitsFixedPoint]]): L1-renormalized
    * integer power iteration, 5 rounds — the oracle unrolls both score
    * chains in exact BIGINT arithmetic. */
  def q51_snb_hits(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .hitsFixedPoint(Gp, iters = 5, edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("hub_fp"), col("auth_fp"))
      .orderBy("person_id")
  }

  /** Q52: personalized PageRank from the five SNB seed persons (the
    * q47/q48 seed convention) over the directed KNOWS graph
    * ([[graft.analytics.Iterative.personalizedPageRankFixedPoint]]):
    * reset mass concentrated on the seeds, same total mass and integer
    * arithmetic as q50, output restricted to REACHED vertices
    * (rank_fp > 0 — personalization makes the walk local). */
  def q52_snb_ppr(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .personalizedPageRankFixedPoint(Gp, "Person", Seq(0L, 1L, 2L, 3L, 4L),
        iters = 10, edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person" && col("rank_fp") > 0)
      .select(col(GC.Id).as("person_id"), col("rank_fp"))
      .orderBy("person_id")
  }

  /** Q53: deterministic DeepWalk corpus over the KNOWS graph
    * ([[graft.analytics.Iterative.deterministicWalks]]) — 4-step
    * truncated random walks from every 20th person, with the
    * md5(walk, step)-mod-degree transition rule the oracle replays
    * step by step over the same rank-ordered undirected adjacency. */
  def q53_snb_walks(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .deterministicWalks(Gp, "Person", col(GC.Id) % 20 === 3,
        steps = 4, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id).as("person_id"))
      .orderBy("walk_id", "step")
  }

  /** The q54/q59 fixture: the full KNOWS graph is ONE giant SCC (every
    * person mutually reachable), so both queries run on a
    * deterministically THINNED directed subgraph — keep an edge iff
    * `(src*7 + dst*13) % 5 < 3` (~60%) — which fractures it into ~300
    * components with a ~300-edge condensation at sf0.01: a non-trivial
    * DAG that still peels in 2 outer rounds with shallow (<20-round)
    * reachability chains. (The 40% variant was rejected: its ~900
    * label-decreasing-chain components need 21 peel rounds and
    * >30-round inner fixpoints — it is the adversarial case the
    * bounded-peel contract documents.) Same arithmetic in the oracle. */
  private def snbThinnedKnows(s: SparkSession, dir: String): graft.graph.PropertyGraph = {
    val Gp = GraphLoader.snb(s, dir)
    val spec = graft.model.EdgeSpec("KNOWS", "Person", "Person")
    val thinned = Gp.edgeFrames(spec)
      .where((col(GC.Src) * 7 + col(GC.Dst) * 13) % 5 < 3)
    new graft.graph.PropertyGraph(s, Gp.vertexFrames,
      Gp.edgeFrames.updated(spec, thinned))
  }

  /** The SHARED SCC peel of the thinned KNOWS graph, computed once per
    * (session, fixture) and threaded into q59/q60/q61 (round-10 verdict
    * task 5): the peel is deterministic for a given (graph, edgeLabels),
    * costs ~40 serial driver actions, and re-running it inside each
    * condensation consumer tripled the family's serial floor. The memo
    * holds a [[graft.plans.SessionMemo.frame]] checkpoint, so the
    * Bench/Verify block sweeps (and the consumers' own releases) can
    * never tear it down mid-session. q54 does NOT use the memo — it IS
    * the peel measurement, and memoizing it would benchmark a cache. */
  private def thinnedSccAssignments(s: SparkSession, dir: String): DataFrame =
    graft.plans.SessionMemo.frame(s, (dir, "thinned_scc")) {
      graft.analytics.Iterative.sccAssignments(snbThinnedKnows(s, dir), Set("KNOWS"))
    }

  /** Q54: strongly connected components of the thinned directed KNOWS
    * graph ([[graft.analytics.Iterative.stronglyConnectedComponents]])
    * — min-label forward/backward peeling; the oracle derives each
    * person's SCC id as the smallest mutually-reachable person over
    * the recursive reachability closure. */
  def q54_snb_scc(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Iterative
      .stronglyConnectedComponents(snbThinnedKnows(s, dir),
        edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("scc_id"))
      .orderBy("person_id")

  /** Q55: node2vec second-order biased walks
    * ([[graft.analytics.Iterative.node2vecWalks]]) — 3-step walks from
    * every 20th person with integer (return, BFS, DFS) weights
    * (1, 2, 1); the oracle replays the uniform first hop and both
    * weighted-interval selections over the same ranked adjacency. */
  def q55_snb_node2vec(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .node2vecWalks(Gp, "Person", col(GC.Id) % 20 === 7,
        steps = 3, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id).as("person_id"))
      .orderBy("walk_id", "step")
  }

  /** Q56: maximal independent set over the undirected KNOWS graph
    * ([[graft.analytics.Iterative.maximalIndependentSet]]) — Luby
    * rounds with deterministic per-round hash priorities; the oracle
    * unrolls every round over the same packed-id hash arithmetic. */
  def q56_snb_mis(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .maximalIndependentSet(Gp, edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("mis_round"))
      .orderBy("person_id")
  }

  /** Q57: Adamic-Adar link prediction over the KNOWS graph
    * ([[graft.analytics.Iterative.adamicAdar]]) — top-10 non-adjacent
    * 2-hop candidates per seed person, scored by the eighth-bit
    * integer-log common-neighbor rule the oracle replays. */
  def q57_snb_linkpred(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .adamicAdar(Gp, "Person", col(GC.Id) % 25 === 11, k = 10,
        edgeLabels = Set("KNOWS"))
      .select(col(GC.Id).as("person_id"), col("rank"),
        col("cand_id"), col("score_fp"))
      .orderBy("person_id", "rank")
  }

  /** Q58: local clustering coefficients over the KNOWS graph
    * ([[graft.analytics.Iterative.clusteringCoefficients]]) — the q44
    * triangle counts against undirected degrees as the fixed-point
    * Watts-Strogatz transitivity; the oracle replays the ratio over
    * the same canonical triangle join. */
  def q58_snb_clustering(s: SparkSession, dir: String): DataFrame = {
    val Gp = GraphLoader.snb(s, dir)
    graft.analytics.Iterative
      .clusteringCoefficients(Gp, edgeLabels = Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id).as("person_id"), col("triangles"),
        col("degree"), col("coeff_fp"))
      .orderBy("person_id")
  }

  /** Q59: the SCC condensation DAG of the directed KNOWS graph
    * ([[graft.analytics.Iterative.condensation]]) — one edge per
    * component pair a KNOWS edge crosses; the oracle maps both
    * endpoints through the q54 mutual-reachability SCC ids. */
  def q59_snb_condensation(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Iterative
      .condensation(snbThinnedKnows(s, dir), edgeLabels = Set("KNOWS"),
        assignments = Some(thinnedSccAssignments(s, dir)))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .orderBy("src_scc_id", "dst_scc_id")

  /** Q60: topological LAYERING of the q59 condensation DAG
    * ([[graft.analytics.Iterative.condensationLayers]]) — each SCC's
    * longest-incoming-path level, the dependency schedule a user runs
    * right after building the condensation; the oracle recomputes the
    * longest path by recursive path enumeration over the same
    * component DAG. */
  def q60_snb_layers(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Iterative
      .condensationLayers(snbThinnedKnows(s, dir), edgeLabels = Set("KNOWS"),
        assignments = Some(thinnedSccAssignments(s, dir)))
      .select(col("scc_id"), col("layer"))
      .orderBy("scc_id")

  /** Q61: reachability closure of the q59 condensation DAG
    * ([[graft.analytics.Iterative.condensationReachability]]) — every
    * component pair connected by a directed path, computed semi-naive;
    * the oracle recomputes the closure with a recursive CTE over the
    * same component DAG. */
  def q61_snb_reachability(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Iterative
      .condensationReachability(snbThinnedKnows(s, dir),
        edgeLabels = Set("KNOWS"),
        assignments = Some(thinnedSccAssignments(s, dir)))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .orderBy("src_scc_id", "dst_scc_id")

  /** Q18: the generic 128-bit id model (O32, SURVEY §1.2) — every vertex
    * through `unifiedVertices`, ordered by the (hi, lo) unsigned id; the
    * oracle re-derives the label-space ids from the same sorted-label
    * rule, proving the id scheme is reproducible outside the engine. */
  def q18_unified_ids(s: SparkSession, dir: String): DataFrame = {
    val G = g(s, dir)
    G.unifiedVertices
      .select(col("id.hi").as("hi"), col("id.lo").as("lo"), col("label"))
      .orderBy("hi", "lo")
  }

  /** Q22: Gremlin branch semantics under the oracle — per nation, take
    * its suppliers if it has any, otherwise fall back to its region
    * (`coalesce`: first producing branch per traverser), counted per
    * landing element. The SQL twin re-derives the covered/uncovered
    * split explicitly. */
  def q22_branch_coalesce(s: SparkSession, dir: String): DataFrame = {
    val G = graft.dsl.G(g(s, dir))
    G.V("Nation")
      .coalesce(_.in("IN_NATION", "Supplier"), _.out("IN_REGION"))
      .groupCount()
      .select(col(graft.model.GraphColumns.Label).as("vlabel"),
        col(graft.model.GraphColumns.Id).as("vid"), col("cnt"))
      .orderBy("vlabel", "vid")
  }
}
