package graft.dsl

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GraphLoader

/** DSL behavior against the sf0.001 fixture graph, cross-checked with
  * direct DataFrame queries over the source tables. */
class GSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = G(GraphLoader.tpch(spark, sf0001))
  private def tbl(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")

  test("V() unions all labels; V(label) scans one") {
    val total = Seq("region", "nation", "customer", "supplier", "part", "orders")
      .map(tbl(_).count()).sum
    assert(g.V().count() == total)
    assert(g.V("Customer").count() == tbl("customer").count())
  }

  test("V(label, ids) point lookup with misses absent") {
    assert(g.V("Nation", 0L, 1L, 999L).count() == 2)
  }

  test("has + out chain: customers in a segment, their nations") {
    val seg = g.V("Customer").has("c_mktsegment", "BUILDING")
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING")
    assert(seg.count() == want.count())

    val nations = seg.out("IN_NATION").dedup()
    val wantN = want.select("c_nationkey").distinct()
    assert(nations.count() == wantN.count())
  }

  test("in expansion fans out with multiplicity; dedup collapses") {
    val custs = g.V("Nation").in("IN_NATION", "Customer")
    assert(custs.count() == tbl("customer").count())
    assert(custs.dedup().count() == tbl("customer").count())
  }

  test("outE + where filters on edge properties") {
    val bigLines = g.V("Order").outE("CONTAINS", "Part").where($"l_quantity" > 45)
    val want = tbl("lineitem").where($"l_quantity" > 45)
    assert(bigLines.count() == want.count())
  }

  test("hasLabel prunes branches structurally") {
    val s = g.V("Nation").in("IN_NATION").hasLabel("Supplier")
    assert(s.labels == Seq("Supplier"))
    assert(s.count() == tbl("supplier").count())
  }

  test("values hydrates properties") {
    val names = g.V("Region").values("r_name").as[String].collect().toSet
    assert(names == Set("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
  }

  test("groupCount over two-hop frontier matches SQL") {
    val gc = g.V("Customer").has("c_mktsegment", "BUILDING")
      .in("PLACED_BY", "Order")
      .groupCount() // orders per... frontier is orders; all count 1
    val want = tbl("orders").join(tbl("customer").where($"c_mktsegment" === "BUILDING"),
      $"o_custkey" === $"c_custkey").count()
    assert(gc.agg(sum("cnt")).as[Long].head() == want)
  }

  test("repeat composes n hops") {
    // Customer -[IN_NATION]-> Nation -[IN_REGION]-> Region via repeat
    val viaRepeat = g.V("Customer")
      .repeat(1)(_.out("IN_NATION")).repeat(1)(_.out("IN_REGION"))
      .dedup().count()
    assert(viaRepeat == 5) // all regions reached
  }

  test("limit is deterministic") {
    val a = g.V("Customer").limit(5).toDF.select(graft.model.GraphColumns.Id).as[Long].collect().toSeq
    val b = g.V("Customer").limit(5).toDF.select(graft.model.GraphColumns.Id).as[Long].collect().toSeq
    assert(a == b && a.size == 5)
  }

  test("orderBy sorts by a hydrated property after an expansion") {
    val names = g.V("Customer").has("c_mktsegment", "BUILDING")
      .out("IN_NATION").dedup()
      .orderBy("n_name")
      .toDF.select("n_name").as[String].collect().toSeq
    assert(names.nonEmpty && names == names.sorted)
    val desc = g.V("Customer").has("c_mktsegment", "BUILDING")
      .out("IN_NATION").dedup()
      .orderBy("n_name", ascending = false)
      .toDF.select("n_name").as[String].collect().toSeq
    assert(desc == names.reverse)
  }

  test("orderBy on a still-carried property needs no hydration join") {
    val bal = g.V("Customer").orderBy("c_acctbal")
      .toDF.select("c_acctbal").as[Double].collect().toSeq
    assert(bal == bal.sorted)
  }

  test("orderBy after withPath keeps the path column and multiplicity") {
    val step = g.V("Region", 1L).withPath()
      .in("IN_REGION", "Nation")
      .in("IN_NATION", "Customer")
    val unordered = step.toDF
    val ordered = step.orderBy("c_acctbal").toDF
    // hydration join must not drop the carried _path column…
    assert(ordered.columns.contains("_path"))
    // …nor change row multiplicity (one row per path)
    assert(ordered.count() == unordered.count())
    val bal = ordered.select("c_acctbal").as[Double].collect().toSeq
    assert(bal == bal.sorted && bal.nonEmpty)
  }

  test("orderBy after outE keeps carried edge-property columns") {
    val step = g.V("Order").outE("CONTAINS", "Part")
    val ordered = step.orderBy("p_retailprice").toDF
    assert(ordered.columns.contains("l_quantity")) // edge property survives
    assert(ordered.count() == step.toDF.count())
    val price = ordered.select("p_retailprice").as[Double].collect().toSeq
    assert(price == price.sorted && price.nonEmpty)
  }

  test("withPath records the full hop chain with fan-out multiplicity") {
    val paths = g.V("Region", 1L).withPath()
      .in("IN_REGION", "Nation")
      .in("IN_NATION", "Customer")
      .paths()
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getLong(1))).toSeq)
    // every path is Region(1) -> some Nation -> some Customer
    assert(paths.nonEmpty)
    assert(paths.forall(p => p.length == 3 &&
      p.head == ("Region", 1L) && p(1)._1 == "Nation" && p(2)._1 == "Customer"))
    // multiplicity: one path per customer in region 1
    val want = tbl("customer").join(tbl("nation"), $"c_nationkey" === $"n_nationkey")
      .where($"n_regionkey" === 1).count()
    assert(paths.length.toLong == want)
    // the nation on each path is the customer's actual nation
    val nations = tbl("nation").select($"n_nationkey", $"n_regionkey")
      .as[(Long, Long)].collect().toMap
    val custNation = tbl("customer").select($"c_custkey", $"c_nationkey")
      .as[(Long, Long)].collect().toMap
    assert(paths.forall(p => custNation(p(2)._2) == p(1)._2))
  }

  test("untilFixpoint reaches the closed geography neighborhood and terminates") {
    // Region 2 <-> its nations over IN_REGION in both directions: the
    // fixpoint is {region 2} + nations of region 2, found in one level
    // and terminated by the empty-frontier check (cycle-safe via the
    // visited anti-join: Nation -> Region -> Nation would loop forever
    // otherwise).
    val reached = g.V("Region", 2L).untilFixpoint()(_.both("IN_REGION"))
    val ids = reached.toDF
      .select(graft.model.GraphColumns.Label, graft.model.GraphColumns.Id)
      .as[(String, Long)].collect().toSet
    val wantNations = tbl("nation").where($"n_regionkey" === 2)
      .select($"n_nationkey").as[Long].collect().toSet
    assert(ids == wantNations.map(("Nation", _)) + (("Region", 2L)))
  }

  test("as + select jumps back to the capture with per-traverser multiplicity") {
    // capture each customer, hop to its orders, select back: one row per
    // ORDER (the traverser count), positioned at the customer.
    val back = g.V("Customer").as("a").in("PLACED_BY", "Order").select("a")
    val wantRows = tbl("orders").count()
    assert(back.count() == wantRows)
    assert(back.labels == Seq("Customer"))
    // the positions are real customer ids, and dedup() recovers the set
    // of customers that have at least one order
    val custWithOrders = tbl("orders").select($"o_custkey").distinct().count()
    assert(back.dedup().count() == custWithOrders)
  }

  test("select(a, b) projects capture pairs matching the SQL join") {
    val pairs = g.V("Customer").as("a").in("PLACED_BY", "Order").as("b")
      .select("a", "b")
      .select($"a.id".as("cust"), $"b.id".as("ord"))
      .as[(Long, Long)].collect().toSet
    val want = tbl("orders").select($"o_custkey", $"o_orderkey")
      .as[(Long, Long)].collect().toSet
    assert(pairs == want)
  }

  test("captures ride through a further hop and chain with has()") {
    // customer -> order -> part, keeping the customer capture two hops in
    val s = g.V("Customer").has("c_mktsegment", "BUILDING").as("c")
      .in("PLACED_BY", "Order").out("CONTAINS", "Part").select("c").dedup()
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .join(tbl("orders"), $"o_custkey" === $"c_custkey")
      .join(tbl("lineitem"), $"l_orderkey" === $"o_orderkey")
      .select("c_custkey").distinct().count()
    assert(s.count() == want)
  }

  test("select preserves the _path column and other captures") {
    val s = g.V("Region", 1L).withPath().as("r")
      .in("IN_REGION", "Nation").as("n").select("r")
    assert(s.toDF.columns.contains("_path"))
    // the other capture is still selectable after repositioning
    val nations = s.select("n", "r").select($"n.id").as[Long].collect().toSet
    val want = tbl("nation").where($"n_regionkey" === 1)
      .select($"n_nationkey").as[Long].collect().toSet
    assert(nations == want)
  }

  test("group(key) buckets the frontier by a hydrated property") {
    val grouped = g.V("Customer").group("c_mktsegment")
      .select($"c_mktsegment", $"n")
      .as[(String, Long)].collect().toMap
    val want = tbl("customer").groupBy("c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    assert(grouped == want)
    // member lists carry the actual ids
    val members = g.V("Customer").group("c_mktsegment")
      .where($"c_mktsegment" === "BUILDING")
      .select(explode($"members.id").as("id")).as[Long].collect().toSet
    val wantIds = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey").as[Long].collect().toSet
    assert(members == wantIds)
  }

  test("group on a still-carried property needs no hydration") {
    val n = g.V("Order").outE("CONTAINS", "Part").group("l_returnflag")
      .agg(sum($"n")).as[Long].head()
    assert(n == tbl("lineitem").count())
  }

  test("union concatenates branch outputs with multiplicity") {
    val u = g.V("Nation", 0L).union(
      _.out("IN_REGION"),
      _.in("IN_NATION", "Customer"))
    val wantCust = tbl("customer").where($"c_nationkey" === 0).count()
    assert(u.count() == 1 + wantCust) // 1 region + nation-0 customers
    assert(u.labels == Seq("Customer", "Region"))
  }

  test("optional replaces covered traversers and passes uncovered through") {
    // only some nations have suppliers: those fan out to them, the
    // supplier-less nations must pass through unchanged
    val s = g.V("Nation").optional(_.in("IN_NATION", "Supplier"))
    val suppliers = tbl("supplier").count()
    val nationsWithSupp = tbl("supplier").select($"s_nationkey").distinct().count()
    val nations = tbl("nation").count()
    assume(nationsWithSupp < nations) // fixture has supplier-less nations
    assert(s.count() == suppliers + (nations - nationsWithSupp))
    // uncovered rows are still nations; covered became suppliers
    val byLabel = s.toDF.groupBy(graft.model.GraphColumns.Label).count()
      .as[(String, Long)].collect().toMap
    assert(byLabel("Supplier") == suppliers)
    assert(byLabel("Nation") == nations - nationsWithSupp)
  }

  test("optional with a fully-covering branch equals the plain hop") {
    val s = g.V("Customer").optional(_.out("IN_NATION"))
    assert(s.count() == tbl("customer").count()) // every customer has a nation
    assert(s.toDF.where(col(graft.model.GraphColumns.Label) === "Customer").count() == 0)
  }

  test("coalesce takes the first producing branch per traverser") {
    // branch 1: nation's suppliers; branch 2 (fallback): nation's region.
    // Nations with suppliers yield ONLY suppliers; the rest yield regions.
    val s = g.V("Nation").coalesce(
      _.in("IN_NATION", "Supplier"),
      _.out("IN_REGION"))
    val supplierRows = tbl("supplier").count()
    val nationsWithSupp = tbl("supplier").select($"s_nationkey").distinct().count()
    val nations = tbl("nation").count()
    assume(nationsWithSupp < nations) // fixture has supplier-less nations
    assert(s.count() == supplierRows + (nations - nationsWithSupp))
    val byLabel = s.toDF.groupBy(graft.model.GraphColumns.Label).count()
      .as[(String, Long)].collect().toMap
    assert(byLabel("Supplier") == supplierRows)
    assert(byLabel("Region") == nations - nationsWithSupp)
  }

  test("valueMap keeps element identity alongside hydrated keys") {
    val rows = g.V("Customer").has("c_mktsegment", "BUILDING")
      .out("IN_NATION").dedup()
      .valueMap("n_name")
      .select(col(graft.model.GraphColumns.Label),
        col(graft.model.GraphColumns.Id), col("n_name"))
      .as[(String, Long, String)].collect().toSet
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .join(tbl("nation"), $"c_nationkey" === $"n_nationkey")
      .select($"n_nationkey", $"n_name").distinct()
      .as[(Long, String)].collect()
      .map { case (id, name) => ("Nation", id, name) }.toSet
    assert(rows == want)
  }

  test("has() hydration slow path preserves captures and paths") {
    // o_orderstatus is not carried after the hop -> has() takes the
    // hydration slow path, which must keep the _as_c capture alive
    val s = g.V("Customer").as("c").in("PLACED_BY", "Order")
      .has("o_orderstatus", "F").select("c").dedup()
    val want = tbl("customer")
      .join(tbl("orders").where($"o_orderstatus" === "F"),
        $"o_custkey" === $"c_custkey")
      .select("c_custkey").distinct().count()
    assert(s.count() == want && want > 0)
    // same for _path
    val p = g.V("Region", 1L).withPath().in("IN_REGION", "Nation")
      .has("n_name", lit(true) === lit(true)).toDF
    assert(p.columns.contains("_path"))
  }

  test("select drops traversers from union branches without the capture") {
    val picked = g.V("Nation", 0L).union(
        _.as("x").out("IN_REGION"),
        _.in("IN_NATION", "Customer"))
      .select("x")
    // only branch 1 carries the capture: exactly its one region row
    assert(picked.count() == 1)
    assert(picked.toDF.where(col(graft.model.GraphColumns.Id).isNull).count() == 0)
  }

  test("same-name captures across union branches keep both label sets") {
    val picked = g.V("Nation", 0L).union(
        _.out("IN_REGION").as("x"),
        _.in("IN_NATION", "Customer").as("x"))
      .select("x")
    // a last-wins merge would prune one branch's label set here
    assert(picked.labels.toSet == Set("Customer", "Region"))
    val byLabel = picked.toDF.groupBy(graft.model.GraphColumns.Label).count()
      .as[(String, Long)].collect().toMap
    assert(byLabel("Region") == 1)
    assert(byLabel("Customer") ==
      tbl("customer").where($"c_nationkey" === 0).count())
  }

  test("a branch with no adjacency from the frontier is empty, not an error") {
    // Region has no OUT adjacency for IN_REGION (nations point AT it):
    // branch 1 produces nothing, every region falls through to branch 2
    val s = g.V("Region").coalesce(
      _.out("IN_REGION"),
      _.in("IN_REGION", "Nation"))
    assert(s.count() == tbl("nation").count())
    // a completely unknown edge label is still a loud error
    assertThrows[IllegalArgumentException](g.V("Region").out("NO_SUCH_EDGE"))
  }

  test("repeatEmit(n) is the multiset union of repeat(1..n), tagged by depth") {
    val start = g.V("Customer").has("c_mktsegment", "BUILDING")
    val hop = (s: Step) => s.union(_.out("IN_NATION"), _.out("IN_REGION"))
    val L = graft.model.GraphColumns.Label
    val I = graft.model.GraphColumns.Id
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
      df.groupBy(col(L), col(I)).count()
        .as[(String, Long, Long)].collect()
        .map { case (l, i, n) => (l, i) -> n }.toMap
    val emitted = start.repeatEmit(2)(hop)
    // law: emit(n) == union of repeat(1..n) with multiplicity
    val law = multiset(start.repeat(1)(hop).toDF.select(col(L), col(I))
      .unionByName(start.repeat(2)(hop).toDF.select(col(L), col(I))))
    assert(multiset(emitted.toDF) == law)
    // depth tags: depth-1 rows are Nations, depth-2 rows are Regions
    val byDepth = emitted.toDF.groupBy(col(Step.DepthCol), col(L)).count()
      .as[(Int, String, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(byDepth == Set((1, "Nation"), (2, "Region")))
    // emitInitial prepends the depth-0 frontier
    val withInit = start.repeatEmit(2, emitInitial = true)(hop).toDF
    assert(withInit.where(col(Step.DepthCol) === 0).count() == start.count())
  }

  test("repeatEmit composes with as/select captures") {
    // capture each starting customer; after emitting 2 hops, select
    // jumps every emitted traverser back to its originating customer
    val back = g.V("Customer").has("c_mktsegment", "BUILDING").as("c")
      .repeatEmit(2)(_.union(_.out("IN_NATION"), _.out("IN_REGION")))
      .select("c")
    assert(back.labels == Seq("Customer"))
    // each customer appears once per emitted row it produced: one nation
    // (depth 1) + one region (depth 2) = 2 rows per customer
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING").count()
    assert(back.count() == 2 * want)
    assert(back.dedup().count() == want)
  }

  test("hasId filters mid-chain (and at the start, pushed into the scan)") {
    // mid-chain: nations' customers, narrowed to three ids
    val ids = tbl("customer").select($"c_custkey").as[Long]
      .collect().sorted.take(3)
    val mid = g.V("Nation").in("IN_NATION", "Customer").hasId(ids: _*)
    assert(mid.toDF.select(graft.model.GraphColumns.Id).as[Long]
      .collect().toSet == ids.toSet)
    // start-of-chain on a fresh scan behaves like V(label, ids...)
    val viaHasId = g.V("Customer").hasId(ids: _*).out("IN_NATION").dedup()
    val viaVIds = g.V("Customer", ids: _*).out("IN_NATION").dedup()
    assert(viaHasId.count() == viaVIds.count())
  }

  test("untilFixpoint respects maxIter") {
    val one = g.V("Region", 2L).untilFixpoint(maxIter = 0)(_.both("IN_REGION"))
    assert(one.toDF.count() == 1) // no hops: just the start vertex
  }

  private def multisetLI(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] = {
    val L = graft.model.GraphColumns.Label
    val I = graft.model.GraphColumns.Id
    df.groupBy(col(L), col(I)).count()
      .as[(String, Long, Long)].collect()
      .map { case (l, i, n) => (l, i) -> n }.toMap
  }

  test("repeatUntil(pred) == fixpoint truncation (law): label predicate") {
    // Every BUILDING customer exits exactly at depth 2 (Regions satisfy,
    // Nations don't), so until == repeat(2) as a row multiset.
    val start = g.V("Customer").has("c_mktsegment", "BUILDING")
    val hop = (s: Step) => s.union(_.out("IN_NATION", "Nation"), _.out("IN_REGION", "Region"))
    val viaUntil = start.repeatUntil(col(graft.model.GraphColumns.Label) === "Region")(hop)
    assert(multisetLI(viaUntil.toDF) == multisetLI(start.repeat(2)(hop).toDF))
    assert(viaUntil.labels.contains("Region"))
  }

  test("repeatUntil hydrates property predicates; unsatisfied traversers drop at maxIter") {
    // until(n_name == <some nation>): traversers reaching that nation
    // exit at depth 1; everyone else climbs to a Region (which has no
    // n_name, can never satisfy) and is dropped when the loop drains.
    val target = tbl("nation").orderBy($"n_nationkey")
      .select($"n_name", $"n_nationkey".cast("long"))
      .as[(String, Long)].head()
    val start = g.V("Customer")
    val hop = (s: Step) => s.union(_.out("IN_NATION", "Nation"), _.out("IN_REGION", "Region"))
    val got = start.repeatUntil(col("n_name") === target._1, maxIter = 4)(hop)
    val wantCnt = tbl("customer").where($"c_nationkey" === target._2).count()
    assert(wantCnt > 0)
    assert(multisetLI(got.toDF) == Map(("Nation", target._2) -> wantCnt))
  }

  test("emit(pred) == repeatEmit + where (law)") {
    val start = g.V("Customer").has("c_mktsegment", "BUILDING")
    val hop = (s: Step) => s.union(_.out("IN_NATION", "Nation"), _.out("IN_REGION", "Region"))
    val L = graft.model.GraphColumns.Label
    // carried-column predicate: exact equality with the filtered union
    val filtered = start.repeatEmit(2, emitPred = col(L) === "Nation")(hop)
    val law = start.repeatEmit(2)(hop).where(col(L) === "Nation")
    assert(multisetLI(filtered.toDF) == multisetLI(law.toDF) && filtered.count() > 0)
    // property predicate (hydrated per label): only Regions survive —
    // and rows of labels lacking the column are filtered, not errors
    val regionsOnly = start.repeatEmit(2, emitPred = col("r_name").isNotNull)(hop)
    assert(multisetLI(regionsOnly.toDF) == multisetLI(start.repeat(2)(hop).toDF))
  }

  test("bothE == outE ∪ inE per stored direction (law, on the knows graph)") {
    // KNOWS is Person→Person, so both expansions are non-empty from the
    // same frontier — the law is exact row-multiset equality including
    // the edge property column.
    val sg = G(GraphLoader.snb(spark, sf0001))
    val frontier = sg.V("Person", 0L, 1L, 97L)
    def rows(s: Step): Map[(Long, Long), Long] =
      s.toDF.select(col(graft.model.GraphColumns.Id), col("since"))
        .groupBy(col(graft.model.GraphColumns.Id), col("since")).count()
        .as[(Long, Long, Long)].collect()
        .map { case (i, p, n) => (i, p) -> n }.toMap
    val both = rows(frontier.bothE("KNOWS"))
    val sides = rows(Step(frontier.graph,
      frontier.outE("KNOWS").toDF.unionByName(frontier.inE("KNOWS").toDF),
      Seq("Person")))
    assert(both == sides && both.nonEmpty)
  }

  test("shortestPaths: GraphX distance parity, valid simple paths, all ⊇ one") {
    val sg = G(GraphLoader.snb(spark, sf0001))
    val sub = new graft.graph.PropertyGraph(spark,
      Map("Person" -> sg.graph.vertexFrames("Person")),
      sg.graph.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    val one = G(sub).V("Person", 1L).shortestPaths(4)(_.both("KNOWS"))
      .select($"dst_id", $"dist", $"path").cache()
    // 1. distances == the Pregel bridge's BFS map (truncated to 4)
    val got = one.select($"dst_id", $"dist").as[(Long, Long)].collect().toMap
    val want = graft.analytics.GraphXBridge.hopDistances(sub, "Person", 1L)
      .where($"dist" <= 4)
      .select(col(graft.model.GraphColumns.Id), $"dist".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == want && got.nonEmpty)
    // 2. every path is simple, starts at the origin, ends at dst, and
    //    its length is the distance
    val bad = one.where(
      size(array_distinct($"path")) =!= size($"path") ||
        element_at($"path", 1).getField("id") =!= 1L ||
        element_at($"path", -1).getField("id") =!= $"dst_id" ||
        size($"path") =!= $"dist" + 1).count()
    assert(bad == 0L)
    // 3. all=true reaches the same (dst, dist) set, with count >= 1,
    //    and exactly one row per dst in representative mode
    val all = G(sub).V("Person", 1L).shortestPaths(4, all = true)(_.both("KNOWS"))
    val allSet = all.select($"dst_id", $"dist").distinct()
      .as[(Long, Long)].collect().toMap
    assert(allSet == got)
    assert(one.groupBy($"dst_id").count().where($"count" > 1).count() == 0L)
  }

  test("shortestPaths: multi-source sweep == union of single-source sweeps") {
    // the q47/q48 contract: per-origin visited sets mean N seeds in one
    // frontier produce EXACTLY the rows of N independent sweeps — in
    // both modes (representative paths are per-origin id-smallest, so
    // they can't differ either)
    val sg = G(GraphLoader.snb(spark, sf0001))
    val sub = new graft.graph.PropertyGraph(spark,
      Map("Person" -> sg.graph.vertexFrames("Person")),
      sg.graph.edgeFrames.filter { case (spec, _) => spec.label == "KNOWS" })
    val seeds = Seq(0L, 1L, 2L)
    for (all <- Seq(false, true)) {
      def bag(df: org.apache.spark.sql.DataFrame): Map[(Long, Long, Long, Seq[Long]), Long] =
        df.select($"src_id", $"dst_id", $"dist",
            transform($"path", e => e.getField("id")).as("p"))
          .groupBy($"src_id", $"dst_id", $"dist", $"p").count()
          .as[(Long, Long, Long, Seq[Long], Long)].collect()
          .map { case (s, t, d, p, n) => (s, t, d, p) -> n }.toMap
      val multi = bag(G(sub).V("Person", seeds: _*)
        .shortestPaths(4, all = all)(_.both("KNOWS")))
      val singles = seeds.map(s => bag(G(sub).V("Person", s)
        .shortestPaths(4, all = all)(_.both("KNOWS"))))
        .reduce { (a, b) =>
          (a.keySet ++ b.keySet).map(k =>
            k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
        }
      assert(multi == singles && multi.nonEmpty, s"all=$all")
    }
  }

  test("value-aggregation terminals match SQL, multiplicity included") {
    // direct frontier: plain aggregation over the label's rows
    val b = g.V("Customer").has("c_mktsegment", "BUILDING")
    val wantSum = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .agg(sum($"c_acctbal")).as[Double].head()
    assert(math.abs(b.sumValue("c_acctbal").as[Double].head() - wantSum) < 1e-6)
    assert(b.minValue("c_acctbal").as[Double].head() ==
      tbl("customer").where($"c_mktsegment" === "BUILDING")
        .agg(min($"c_acctbal")).as[Double].head())
    // expanded frontier: mean must weight by traverser multiplicity
    // (customers per nation), not by distinct nation
    val gotMean = g.V("Customer").out("IN_NATION", "Nation")
      .meanValue("n_nationkey").as[Double].head()
    val wantMean = tbl("customer")
      .agg(avg($"c_nationkey".cast("double"))).as[Double].head()
    assert(math.abs(gotMean - wantMean) < 1e-9)
    assert(g.V("Customer").maxValue("c_acctbal").as[Double].head() ==
      tbl("customer").agg(max($"c_acctbal")).as[Double].head())
  }

  test("choose(pred)(t, f) == union of t over has(pred) and f over the complement") {
    val L = graft.model.GraphColumns.Label
    val I = graft.model.GraphColumns.Id
    def bag(s: Step): Map[(String, Long), Long] =
      s.toDF.groupBy(col(L), col(I)).count()
        .as[(String, Long, Long)].collect().map { case (l, i, n) => (l, i) -> n }.toMap
    val got = bag(g.V("Customer").choose(col("c_mktsegment") === "BUILDING")(
      _.in("PLACED_BY", "Order"), _.out("IN_NATION", "Nation")))
    val t = bag(g.V("Customer").has("c_mktsegment", "BUILDING").in("PLACED_BY", "Order"))
    val f = bag(g.V("Customer").has(col("c_mktsegment") =!= "BUILDING").out("IN_NATION", "Nation"))
    val law = (t.keySet ++ f.keySet).map(k => k -> (t.getOrElse(k, 0L) + f.getOrElse(k, 0L))).toMap
    assert(got == law && got.nonEmpty)
    // a hydrated property predicate routes mid-chain frontiers too:
    // after the hop to Nation, n_name is no longer carried
    val mid = g.V("Customer").out("IN_NATION", "Nation")
      .choose(col("n_name") =!= "NO_SUCH")(_.out("IN_REGION", "Region"), identity)
    assert(mid.labels.contains("Region") && mid.count() == tbl("customer").count())
  }

  test("not(branch) is the complement of the covered-origin set") {
    // coalesce law: not(b) traversers are exactly the ones coalesce
    // routes to the fallback branch
    val viaNot = g.V("Nation").not(_.in("IN_NATION", "Supplier"))
      .toDF.select(col(graft.model.GraphColumns.Id)).as[Long].collect().toSet
    val withS = tbl("supplier").select($"s_nationkey".cast("long"))
      .distinct().as[Long].collect().toSet
    val all = tbl("nation").select($"n_nationkey".cast("long")).as[Long].collect().toSet
    assert(viaNot == all -- withS)
    // multiplicity/carried columns survive: a 2-row frontier element
    // passes through not() with both rows intact
    val doubled = Step(g.graph,
      g.V("Nation").toDF.unionByName(g.V("Nation").toDF), Seq("Nation"))
    assert(doubled.not(_.in("IN_NATION", "Supplier")).count() == 2 * viaNot.size)
  }

  test("range(lo, hi) slices the deterministic order; limit(n) == range(0, n)") {
    val I = graft.model.GraphColumns.Id
    // range output is a multiset (exceptAll does not guarantee row
    // order) — compare as sorted bags
    val viaLimit = g.V("Customer").limit(7).toDF.select(I).as[Long].collect().toSeq.sorted
    val viaRange = g.V("Customer").range(0, 7).toDF.select(I).as[Long].collect().toSeq.sorted
    assert(viaRange == viaLimit)
    // disjoint slices partition the prefix
    val a = g.V("Customer").range(0, 4).toDF.select(I).as[Long].collect().toSeq
    val b = g.V("Customer").range(4, 7).toDF.select(I).as[Long].collect().toSeq
    assert((a ++ b).sorted == viaLimit && a.size == 4 && b.size == 3)
    // carried columns (unorderable-ish wide payloads) ride the
    // fingerprint tie-break: a path-carrying frontier still slices
    val p = g.V("Nation", 5L).withPath().in("IN_NATION", "Customer")
    assert(p.range(1, 3).count() == 2)
  }

  test("partitionByPredicate evaluates OR over label-specific properties per label") {
    // Nation∪Region frontier, predicate touching one property of EACH
    // label: a Region must satisfy via r_name even though n_name is not
    // in its schema (round-6 ADVICE: the all-columns-per-label
    // restriction routed such rows to the false side)
    val s = g.V().hasLabel("Nation", "Region")
    val (pass, fail) = s.partitionByPredicate(
      col("n_name") === "NATION_7" || col("r_name") === "ASIA")
    val L = graft.model.GraphColumns.Label
    val got = pass.select(col(L)).as[String].collect().groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(got == Map("Nation" -> 1, "Region" -> 1),
      s"expected NATION_7 + ASIA to pass, got $got")
    assert(fail.count() == s.count() - 2)
  }

  test("simplePath/cyclicPath partition the recorded paths") {
    // Nation 5 -> its customers -> back along IN_NATION: every 2-hop
    // path returns to nation 5, so all are cyclic; 1-hop paths are
    // simple. simplePath + cyclicPath == all paths.
    val twoHop = g.V("Nation", 5L).withPath()
      .in("IN_NATION", "Customer").out("IN_NATION", "Nation")
    val all = twoHop.count()
    assert(all > 0)
    assert(twoHop.cyclicPath().count() == all)
    assert(twoHop.simplePath().count() == 0)
    val oneHop = g.V("Nation", 5L).withPath().in("IN_NATION", "Customer")
    assert(oneHop.simplePath().count() == oneHop.count())
    assert(oneHop.cyclicPath().count() == 0)
  }

  test("sack copies on fan-out, accumulates per traverser, survives branches") {
    // copy semantics: each of a customer's order-traversers gets its own
    // sack copy, so after a fan-out every sack still holds the init value
    val fanned = g.V("Customer").withSack(lit(7L)).in("PLACED_BY", "Order")
    val sacks = fanned.sack().select($"sack".cast("long")).as[Long].collect()
    assert(sacks.length == tbl("orders").count() && sacks.forall(_ == 7L))
    // accumulation sees edge properties after outE; per-traverser sums
    // match the SQL total (decimal-exact)
    val total = g.V("Customer").withSack(lit(0).cast("decimal(18,2)"))
      .in("PLACED_BY", "Order").outE("CONTAINS", "Part")
      .modifySack(_ + $"l_quantity".cast("decimal(18,2)"))
      .sack().agg(sum($"sack")).as[java.math.BigDecimal].head()
    val want = tbl("lineitem")
      .agg(sum($"l_quantity".cast("decimal(18,2)"))).as[java.math.BigDecimal].head()
    assert(total == want)
    // sack rides union branches like _path/captures
    val viaUnion = g.V("Nation", 5L).withSack(lit(3L))
      .union(_.in("IN_NATION", "Customer"), _.in("IN_NATION", "Supplier"))
      .sack().select($"sack".cast("long")).as[Long].collect()
    assert(viaUnion.nonEmpty && viaUnion.forall(_ == 3L))
  }

  test("matchAll == hand-composed as/select join (law); unbound start rejected") {
    val seed = g.V("Customer").has("c_mktsegment", "BUILDING")
    val viaMatch = seed.matchAll("c",
      MatchPattern("c", "o", _.in("PLACED_BY", "Order")),
      MatchPattern("c", "n", _.out("IN_NATION", "Nation")))
    val hand = seed.as("c").in("PLACED_BY", "Order").as("o")
      .select("c").out("IN_NATION", "Nation").as("n")
      .select("c", "o", "n").distinct()
    val m = viaMatch.select("c", "o", "n")
    assert(m.exceptAll(hand).isEmpty && hand.exceptAll(m).isEmpty)
    assert(viaMatch.count() > 0)
    // patterns must be seeded: a start variable nothing has bound fails
    assertThrows[IllegalArgumentException](
      seed.matchAll("c", MatchPattern("x", "y", _.out("IN_NATION", "Nation"))))
  }

  test("matchAll closes cycles on already-bound variables") {
    // (c)-orders->(o) then (o)-PLACED_BY->(c) re-binds c: the join keeps
    // only agreeing assignments — which is ALL of them here, since every
    // order points back at its customer.
    val seed = g.V("Customer").has("c_mktsegment", "BUILDING")
    val twoPat = seed.matchAll("c",
      MatchPattern("c", "o", _.in("PLACED_BY", "Order")))
    val cyclic = seed.matchAll("c",
      MatchPattern("c", "o", _.in("PLACED_BY", "Order")),
      MatchPattern("o", "c", _.out("PLACED_BY", "Customer")))
    assert(cyclic.count() == twoPat.count() && cyclic.count() > 0)
  }

  test("aggregate/store/cap/within side-effect laws") {
    val nations = g.V("Customer").has("c_mktsegment", "BUILDING")
      .out("IN_NATION", "Nation").aggregate("ns")
    // cap: the collection as frontier == the dedup'd collect position
    assert(multisetLI(nations.cap("ns").toDF) == multisetLI(nations.dedup().toDF))
    assert(nations.cap("ns").labels == Seq("Nation"))
    // same-chain within keeps every row (multiplicity intact); without
    // is its complement — empty here
    assert(multisetLI(nations.whereWithin("ns").toDF) == multisetLI(nations.toDF))
    assert(nations.whereWithout("ns").count() == 0)
    // store is the aggregate alias (lazy vs eager vanishes in a lazy plan)
    assert(multisetLI(g.V("Region").store("rs").sideEffect("rs")) ==
      multisetLI(g.V("Region").toDF))
    // cross-chain: the exported set partitions another frontier, and the
    // within side matches the SQL semi-join
    val set = nations.sideEffect("ns")
    val supNations = g.V("Supplier").out("IN_NATION", "Nation")
    val inCnt = supNations.whereWithin(set).count()
    assert(inCnt + supNations.whereWithout(set).count() == supNations.count())
    val want = tbl("supplier").join(
      tbl("customer").where($"c_mktsegment" === "BUILDING")
        .select($"c_nationkey").distinct(),
      $"s_nationkey" === $"c_nationkey").count()
    assert(inCnt == want && inCnt > 0)
    assertThrows[IllegalArgumentException](nations.cap("nope"))
  }

  test("tree() groups recorded paths into depth-tagged parent→child edges") {
    val t = g.V("Nation", 3L).withPath()
      .in("IN_NATION", "Customer").in("PLACED_BY", "Order").tree()
    val withOrders = tbl("customer").where($"c_nationkey" === 3)
      .join(tbl("orders"), $"o_custkey" === $"c_custkey")
    // depth 0: nation→customer edges — one row per customer that still
    // has a live traverser (an order), weighted by its path fan-out
    val d0 = t.where($"depth" === 0)
    assert(d0.count() == withOrders.select($"c_custkey").distinct().count())
    assert(d0.agg(sum($"n_traversers")).as[Long].head() == withOrders.count())
    // depth 1: customer→order edges, one traverser each
    val d1 = t.where($"depth" === 1)
    assert(d1.count() == withOrders.count())
    assert(t.where($"depth" > 1).count() == 0)
  }

  test("repeatEmitUntil degenerates to repeatEmit / repeatUntil (laws); both modulators compose") {
    val L = graft.model.GraphColumns.Label
    val I = graft.model.GraphColumns.Id
    def msD(df: org.apache.spark.sql.DataFrame): Map[(String, Long, Int), Long] =
      df.groupBy(col(L), col(I), col(Step.DepthCol)).count()
        .as[(String, Long, Int, Long)].collect()
        .map { case (l, i, d, n) => (l, i, d) -> n }.toMap
    val start = g.V("Customer").has("c_mktsegment", "BUILDING")
    val hop = (s: Step) =>
      s.union(_.out("IN_NATION", "Nation"), _.out("IN_REGION", "Region"))
    // until(false): nothing exits → pure emit, draining like repeatEmit
    assert(msD(start.repeatEmitUntil(lit(false), maxIter = 4)(hop).toDF) ==
      msD(start.repeatEmit(4, materialize = true)(hop).toDF))
    // emit(false): nothing emits → exits only, repeatUntil's multiset
    assert(multisetLI(start.repeatEmitUntil(col(L) === "Region", maxIter = 4,
        emitPred = lit(false))(hop).toDF) ==
      multisetLI(start.repeatUntil(col(L) === "Region", maxIter = 4)(hop).toDF))
    // both modulators: depth-1 nations emit and continue, depth-2
    // regions exit — the union of per-depth exits and emissions
    val both = start.repeatEmitUntil(col(L) === "Region", maxIter = 5)(hop)
    assert(msD(both.toDF) == msD(start.repeatEmit(2, materialize = true)(hop).toDF))
  }

  test("subgraph() induces: traversals inside == filtered traversals outside (law)") {
    val L = graft.model.GraphColumns.Label
    val seed = g.V("Customer").has("c_mktsegment", "BUILDING")
      .union(_.out("IN_NATION", "Nation"), identity)
    val sub = seed.subgraph()
    val gs = G(sub)
    // vertex frames filtered to the set; untouched labels empty
    val wantC = tbl("customer").where($"c_mktsegment" === "BUILDING").count()
    assert(gs.V("Customer").count() == wantC && wantC > 0)
    assert(gs.V("Supplier").count() == 0 && gs.V("Region").count() == 0)
    // edges survive only with BOTH endpoints in the set: the in-subgraph
    // expansion equals the full-graph expansion restricted to the seed
    val inside = gs.V("Nation").in("IN_NATION", "Customer")
    val outside = g.V("Nation").in("IN_NATION", "Customer")
      .has("c_mktsegment", "BUILDING")
    assert(multisetLI(inside.toDF) == multisetLI(outside.toDF))
    // customer->order edges dropped entirely (orders not in the set)
    assert(gs.V("Customer").in("PLACED_BY", "Order").count() == 0)
  }

  test("coin(p) is per-element deterministic; sample(n) is a stable top-n subset") {
    val frontier = g.V("Nation").in("IN_NATION") // Customer ∪ Supplier, mixed
    val total = frontier.count()
    assert(frontier.coin(1.0).count() == total)
    assert(frontier.coin(0.0).count() == 0)
    val kept = frontier.coin(0.5, seed = 7L)
    // deterministic: same seed, same multiset (evaluated twice)
    assert(multisetLI(kept.toDF) == multisetLI(frontier.coin(0.5, seed = 7L).toDF))
    // per-element: an element is entirely kept or entirely dropped
    val keptEls = kept.dedup().toDF.select(col(graft.model.GraphColumns.Label),
      col(graft.model.GraphColumns.Id)).as[(String, Long)].collect().toSet
    val dropEls = frontier.toDF.exceptAll(kept.toDF)
      .select(col(graft.model.GraphColumns.Label), col(graft.model.GraphColumns.Id))
      .as[(String, Long)].collect().toSet
    assert(keptEls.nonEmpty && dropEls.nonEmpty && keptEls.intersect(dropEls).isEmpty)
    // sample: exact size, subset, deterministic
    val s1 = frontier.sample(17, seed = 9L)
    assert(s1.count() == 17)
    assert(s1.toDF.exceptAll(frontier.toDF).isEmpty)
    assert(multisetLI(s1.toDF) == multisetLI(frontier.sample(17, seed = 9L).toDF))
    assert(frontier.sample(1000000).count() == total)
  }

  test("multi-key orderBy matches SQL ordering (law)") {
    val I = graft.model.GraphColumns.Id
    val got = g.V("Customer").has("c_mktsegment", "BUILDING")
      .orderBy("c_nationkey" -> true, "c_acctbal" -> false)
      .toDF.select(col(I)).as[Long].collect().toSeq
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .orderBy($"c_nationkey".asc, $"c_acctbal".desc, $"c_custkey".asc)
      .select($"c_custkey".cast("long")).as[Long].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("groupCount(key) and dedupBy(key) follow the SQL group semantics") {
    // groupCount by a hydrated property == SQL group count
    val gc = g.V("Customer").in("PLACED_BY", "Order")
      .groupCount("o_orderpriority")
      .as[(String, Long)].collect().toMap
    val want = tbl("orders").groupBy($"o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    assert(gc == want && gc.nonEmpty)
    // dedupBy keeps exactly one traverser per value — the (label, id)
    // smallest — deterministically
    val dd = g.V("Customer").dedupBy("c_mktsegment")
    assert(dd.count() == tbl("customer").select($"c_mktsegment").distinct().count())
    val got = dd.toDF.select(col(graft.model.GraphColumns.Id)).as[Long].collect().toSet
    val wantIds = tbl("customer").groupBy($"c_mktsegment")
      .agg(min($"c_custkey").as("id")).select($"id".cast("long"))
      .as[Long].collect().toSet
    assert(got == wantIds)
  }

  test("pathsBy(key) projects recorded paths through a property with multiplicity") {
    val p = g.V("Customer").has("c_mktsegment", "BUILDING").withPath()
      .out("IN_NATION", "Nation").out("IN_REGION", "Region")
      .pathsBy("n_name") // Customer/Region lack n_name -> null endpoints
      .as[(Seq[String], Long)].collect()
    // every path is [null, nation name, null]
    assert(p.nonEmpty && p.forall { case (vs, _) =>
      vs.length == 3 && vs.head == null && vs(2) == null && vs(1) != null })
    // multiplicities: one path shape per (customer, nation, region)
    // chain, so totals equal the BUILDING customer count
    assert(p.map(_._2).sum == tbl("customer")
      .where($"c_mktsegment" === "BUILDING").count())
    // per-nation multiplicity == BUILDING customers in that nation
    val byNation = p.map { case (vs, n) => vs(1) -> n }.groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val want = tbl("customer").where($"c_mktsegment" === "BUILDING")
      .join(tbl("nation"), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name").count().as[(String, Long)].collect().toMap
    assert(byNation == want)
  }

  test("localRange slices per origin: SQL row_number parity, multiset union law") {
    val I = graft.model.GraphColumns.Id
    // first 2 orders per BUILDING customer, deterministic order
    val got = g.V("Customer").has("c_mktsegment", "BUILDING")
      .localLimit(2)(_.in("PLACED_BY", "Order"))
    val want = tbl("orders")
      .join(tbl("customer").where($"c_mktsegment" === "BUILDING"),
        $"o_custkey" === $"c_custkey")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"o_custkey")
          .orderBy($"o_orderkey")))
      .where($"rn" <= 2)
    // counts per customer agree (order frontiers carry no payload, so
    // the slice order is (label, id) — o_orderkey — on both sides)
    assert(multisetLI(got.toDF) == multisetLI(
      want.select($"o_orderkey".cast("long").as(I),
        lit("Order").as(graft.model.GraphColumns.Label))))
    // [0, n) ∪ [n, ∞) partitions the branch output per origin
    val all = g.V("Customer").has("c_mktsegment", "BUILDING")
      .in("PLACED_BY", "Order")
    val head = g.V("Customer").has("c_mktsegment", "BUILDING")
      .localRange(0, 2)(_.in("PLACED_BY", "Order"))
    val tail = g.V("Customer").has("c_mktsegment", "BUILDING")
      .localRange(2, Int.MaxValue)(_.in("PLACED_BY", "Order"))
    assert(head.count() + tail.count() == all.count() && head.count() > 0)
  }

  test("hasId rejects a multi-label frontier; hasElementId handles it") {
    val mixed = g.V("Nation").in("IN_NATION") // Customer ∪ Supplier
    assertThrows[IllegalArgumentException](mixed.hasId(5L))
    val picked = mixed.hasElementId("Customer" -> 5L, "Supplier" -> 5L, "Supplier" -> 7L)
    val got = picked.toDF
      .select(col(graft.model.GraphColumns.Label), col(graft.model.GraphColumns.Id))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("Customer", 5L), ("Supplier", 5L), ("Supplier", 7L)))
    assert(picked.labels.toSet == Set("Customer", "Supplier"))
  }

  test("point-rooted traversals == the same traversals rooted on V(label).hasId (multiset law)") {
    // V(label, ids) marks its frontier point-rooted, so every hop and
    // hydration below broadcasts the frontier; V(label).hasId(ids) is
    // the same vertex set left unmarked, planned as Catalyst chooses.
    // The build side must not change a single row.
    import graft.graph.PropertyGraph
    import graft.model.{GraphColumns => GC}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    def law(name: String, graph: PropertyGraph, label: String, ids: Seq[Long])(
        f: Step => org.apache.spark.sql.DataFrame): Unit = {
      val point = f(G(graph).V(label, ids: _*))
      val scan = f(G(graph).V(label).hasId(ids: _*))
      assert(PropertyGraph.isPointRooted(point, GC.Id), s"$name: point frontier lost its mark")
      assert(!PropertyGraph.isPointRooted(scan, GC.Id), s"$name: hasId frontier is marked")
      val (p, q) = (rows(point), rows(scan))
      assert(p.nonEmpty, s"$name: empty on both sides proves nothing")
      assert(p == q, s"$name: point-rooted ${p.size} rows vs hasId ${q.size} rows")
    }
    // a supernode (p % 97 == 0), plain persons, a repeated id and a miss
    val people = Seq(0L, 19L, 97L, 19L, 999999L)
    val snbGraphs = Seq(
      "lazy" -> GraphLoader.snb(spark, sf0001),
      "point-read" -> GraphLoader.snb(spark, sf0001, materializeComments = true))
    snbGraphs.foreach { case (mode, sg) =>
      def snb(n: String, label: String = "Person", ids: Seq[Long] = people)(
          f: Step => org.apache.spark.sql.DataFrame): Unit = law(s"$mode $n", sg, label, ids)(f)
      snb("out")(_.out("KNOWS").toDF)
      snb("in")(_.in("KNOWS").toDF)
      snb("both")(_.both("KNOWS").toDF)
      snb("bothE")(_.bothE("KNOWS").toDF)
      snb("outE")(_.outE("KNOWS").toDF)
      snb("2-hop dedup")(_.both("KNOWS").both("KNOWS").dedup().toDF)
      snb("repeatEmit(3)", "Post", Seq(1L, 4L, 4L, 999999L))(
        _.repeatEmit(3)(_.in("REPLY_OF", "Comment")).toDF)
      snb("hydrate") { s =>
        sg.hydrate(s.in("HAS_CREATOR", "Post").toDF, GC.Id, "Post", Seq("created", "score"))
      }
      if (mode == "point-read") {
        // the steps that take the first hop straight on V's frame, and
        // the superstep repeatEmit's initial depth and emit filter
        // (V(label) keeps the property columns, which depth 0 emits)
        snb("repeatEmit(3, emitInitial)", "Post", Seq(1L, 4L, 4L, 999999L))(
          _.repeatEmit(3, emitInitial = true)(_.in("REPLY_OF", "Comment")).toDF
            .select(GC.Id, GC.Label, Step.DepthCol))
        snb("repeatEmit(3, emitPred)", "Post", Seq(1L, 4L, 4L, 999999L))(
          _.repeatEmit(3, emitPred = col("length") > 60)(_.in("REPLY_OF", "Comment")).toDF)
        snb("union(out, in)")(_.union(_.out("KNOWS"), _.in("KNOWS")).toDF)
      }
    }
    val tg = g.graph
    val custs = Seq(19L, 112L, 19L, 999999L)
    law("tpch out", tg, "Customer", custs)(_.out("IN_NATION").toDF)
    law("tpch in", tg, "Customer", custs)(_.in("PLACED_BY", "Order").toDF)
    law("tpch both", tg, "Nation", Seq(0L, 5L, 5L, 99L))(_.both("IN_NATION").toDF)
    law("tpch bothE", tg, "Nation", Seq(0L, 5L, 99L))(_.bothE("IN_NATION").toDF)
    law("tpch 2-hop outE", tg, "Customer", custs)(
      _.in("PLACED_BY", "Order").outE("CONTAINS", "Part").toDF)
    law("tpch 2-hop dedup", tg, "Customer", custs)(
      _.in("PLACED_BY", "Order").out("CONTAINS", "Part").dedup().toDF)
    law("tpch repeatEmit(3)", tg, "Nation", Seq(0L, 0L, 99L))(
      _.repeatEmit(3)(_.both("IN_NATION")).toDF)
    law("tpch hydrate", tg, "Customer", custs) { s =>
      tg.hydrate(s.in("PLACED_BY", "Order").toDF, GC.Id, "Order")
    }
  }

  test("the point-rooted mark survives bounded steps and stops at loops") {
    import graft.graph.PropertyGraph.isPointRooted
    import graft.model.{GraphColumns => GC}
    val sg = GraphLoader.snb(spark, sf0001, materializeComments = true)
    val p = G(sg).V("Person", 19L)
    def marked(s: Step) = isPointRooted(s.toDF, GC.Id)
    // hops, both's unionByName, filters, dedup, limit, captures, the
    // fixed unroll's unionByName and its localCheckpointed form
    Seq(p, p.out("KNOWS"), p.both("KNOWS"), p.both("KNOWS").where(col(GC.Id) > 3L),
        p.both("KNOWS").has("acctbal", 0.0), p.both("KNOWS").dedup(),
        p.both("KNOWS").limit(5), p.as("a").both("KNOWS"),
        p.repeatEmit(2)(_.both("KNOWS")),
        p.repeatEmit(2, materialize = true)(_.both("KNOWS")),
        p.union(_.out("KNOWS"), _.in("KNOWS")))
      .zipWithIndex.foreach { case (s, i) => assert(marked(s), s"bounded step $i lost the mark") }
    assert(isPointRooted(p.both("KNOWS").toDF.localCheckpoint(), GC.Id))
    // loop steps, and a union with a loop branch, drop it
    Seq(p.untilFixpoint(3)(_.both("KNOWS")),
        p.repeatUntil(col(GC.Id) > 100L, 3)(_.both("KNOWS")),
        p.repeatEmitUntil(col(GC.Id) > 100L, 3)(_.both("KNOWS")),
        p.union(_.out("KNOWS"), _.untilFixpoint(3)(_.both("KNOWS"))))
      .zipWithIndex.foreach { case (s, i) => assert(!marked(s), s"loop step $i kept the mark") }
    assert(!marked(G(sg).V("Person").out("KNOWS")), "a scan frontier is marked")
  }

  test("a hop from literal ids keeps the existence check unless the layout guarantees the endpoints") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.graph.{GraphMutations, PropertyGraph}
    import graft.model.{EdgeSpec, GraphColumns => GC}
    def joins(df: org.apache.spark.sql.DataFrame): Int = {
      val p: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.collect { case j: BaseJoinExec => j }.size
    }
    val knows = EdgeSpec("KNOWS", "Person", "Person")
    val sg = GraphLoader.snb(spark, sf0001, materializeComments = true)
    val missing = 999999L
    val dangling = Seq((missing, 19L, 1L)).toDF(GC.Src, GC.Dst, "since")
    assert(sg.referentialIntegrity, "the SNB layout lost its guarantee")
    // the same frames plus one KNOWS edge whose _src is no Person
    val plain = new PropertyGraph(spark, sg.vertexFrames,
      sg.edgeFrames + (knows -> sg.edgeFrames(knows).unionByName(dangling)))
    val added = GraphMutations.addEdges(sg, knows, dangling)
    Seq("new PropertyGraph" -> plain, "addEdges" -> added).foreach { case (n, graph) =>
      assert(!graph.referentialIntegrity, s"$n: claims a guarantee it cannot have")
      assert(G(graph).V("Person", missing).out("KNOWS").count() == 0,
        s"$n: a hop from a missing vertex found edges")
      assert(joins(G(graph).V("Person", 19L).out("KNOWS").toDF) == 1,
        s"$n: the hop does not check that the frontier exists")
    }
    assert(joins(G(sg).V("Person", 19L).out("KNOWS").toDF) == 0)
  }

  test("a capture of a point-rooted position keeps the mark through select and matchAll") {
    import graft.graph.PropertyGraph.isPointRooted
    import graft.model.{GraphColumns => GC}
    val sg = GraphLoader.snb(spark, sf0001, materializeComments = true)
    def idMarked(df: org.apache.spark.sql.DataFrame, struct: String): Boolean =
      isPointRooted(df.select(col(struct).getField("id").as(GC.Id)), GC.Id)
    val p = G(sg).V("Person", 19L)
    val captured = p.as("a").both("KNOWS")
    assert(idMarked(captured.toDF, "_as_a"))
    assert(isPointRooted(captured.select("a").toDF, GC.Id))
    val solutions = p.matchAll("a",
      MatchPattern("a", "b", _.both("KNOWS")),
      MatchPattern("b", "q", _.in("HAS_CREATOR", "Post")))
    Seq("a", "b", "q").foreach(v => assert(idMarked(solutions, v), s"binding $v lost the mark"))
    val scan = G(sg).V("Person").as("a").both("KNOWS")
    assert(!idMarked(scan.toDF, "_as_a") && !isPointRooted(scan.select("a").toDF, GC.Id))
  }
}
