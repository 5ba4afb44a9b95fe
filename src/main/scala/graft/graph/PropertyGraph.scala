package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

import graft.model.{Direction, EdgeSpec, GraphColumns => GC}
import graft.operators.TraversalResult

/** A labeled property graph held as one DataFrame per vertex label and one
  * DataFrame per (edge label, src label, dst label) adjacency partition.
  *
  * Reference model: TorcGraph.java:71-85 (labeled property graph with
  * string labels and property maps); adjacency partitioned by
  * (edgeLabel, direction, neighborLabel) (TorcHelper.java:352-370).
  * Keeping one frame per `EdgeSpec` preserves that partitioning logically:
  * a traversal that names an edge label and neighbor labels touches only
  * the matching frames — the Spark analogue of the reference's keyed
  * adjacency reads, and equivalent to partition pruning on
  * (edge_label, src_label, dst_label) when the frames are backed by a
  * partitioned Parquet layout (SURVEY.md §4).
  *
  * Unlike the reference (which forbids full scans, TorcGraph.java:368-370),
  * scans here are native — the inversion called out in SURVEY.md §1.1.
  * A point lookup ([[verticesById]]) is a filter, and its result is
  * POINT-ROOTED: its id column carries a metadata mark saying every row
  * is a fixed number of hops from literal ids. Catalyst sizes join sides
  * by plan estimates and cannot see that such a frontier is small, so it
  * would broadcast or shuffle the whole graph frame instead. A marked
  * frontier is therefore always the build (broadcast) side of a hop
  * ([[traverse]]) and of hydration ([[hydrate]]), and the graph frame
  * streams past it — the reference's keyed read of only the named
  * vertices' adjacency (TorcHelper.java:352-370). The mark rides on the
  * DataFrame itself (aliases, filters, joins, aggregates, limits and
  * `localCheckpoint` carry column metadata), so a caller's own `toDF`
  * keeps it. It stops at steps that are not a fixed number of hops from
  * the ids: the DSL's loop steps drop it ([[PropertyGraph.unmarked]]).
  * Unmarked frames — scans, `has` over a scan, [[traverseAll]] — plan
  * exactly as Catalyst chooses.
  *
  * REFERENTIAL INTEGRITY is a fact of the layout, recorded when the
  * graph is built and never a caller option: every edge endpoint
  * matches exactly one row (its key is unique) of its label's vertex
  * frame. `GraphLoader.tpch` (the fixture foreign keys that
  * `declareTpchRi` also trusts) and `GraphLoader.snbFromTables` (whose
  * generator keeps every endpoint in range) record it; a graph built
  * with `new PropertyGraph(...)`, [[inducedSubgraph]] or a
  * `GraphMutations` call (`addEdges` checks no endpoint) lacks it. On
  * such a graph a hop from literal ids needs no vertex lookup at all
  * ([[traverseIds]]): the frontier join is a key filter on the edge
  * frame, the reference's read of only the named vertices' edge lists
  * (TorcGraph.java:479-585).
  *
  * Each vertex frame carries `_vid: bigint` (the natural key within the
  * label's id space) plus its natural property columns. Each edge frame
  * carries `_src`, `_dst` plus edge property columns. Full 128-bit ids
  * (hi = label-space id, lo = natural key) are materialized only in the
  * generic `unifiedVertices` / `unifiedEdges` views — hot paths join on
  * plain longs, which Tungsten handles fastest.
  */
final class PropertyGraph private[graft] (
    val spark: SparkSession,
    val vertexFrames: Map[String, DataFrame],
    val edgeFrames: Map[EdgeSpec, DataFrame],
    private[graft] val referentialIntegrity: Boolean) {

  /** A graph over caller-built frames: no referential integrity is
    * assumed (see the class doc). */
  def this(spark: SparkSession, vertexFrames: Map[String, DataFrame],
      edgeFrames: Map[EdgeSpec, DataFrame]) =
    this(spark, vertexFrames, edgeFrames, referentialIntegrity = false)

  /** Graph-level metadata KV store — TinkerPop `graph.variables()`
    * (persisted/restored as a sidecar by GraphLoader persist/open). */
  val variables: GraphVariables = new GraphVariables

  /** Stable label -> id-space mapping (hi half of the 128-bit id). */
  lazy val labelIds: Map[String, Long] =
    vertexFrames.keys.toSeq.sorted.zipWithIndex.map { case (l, i) => l -> (i + 1).toLong }.toMap

  def vertexLabels: Seq[String] = vertexFrames.keys.toSeq.sorted
  def edgeSpecs: Seq[EdgeSpec] = edgeFrames.keys.toSeq.sortBy(s => (s.label, s.srcLabel, s.dstLabel))

  /** TinkerPop-style capability matrix (`Graph.features()` — the
    * reference declares its own at TorcGraph.java:1818-2215). Constant
    * across instances; see [[Features]] for where the engine's flags
    * deliberately differ from the reference's. */
  def features: Features.GraftFeatures = Features.matrix

  /** All vertices of a label (scan). */
  def vertices(label: String): DataFrame = vertexFrames(label)

  /** Point lookup by ids — the reference's `vertices(Object... ids)`
    * (TorcGraph.java:327-373) becomes a filter that Catalyst pushes into
    * the Parquet scan. Misses are simply absent (no rows). The result is
    * point-rooted (see the class doc): hops and hydration from it
    * broadcast it and stream the graph frame. */
  def verticesById(label: String, ids: Seq[Long]): DataFrame =
    vertexFrames(label).where(col(GC.Id).isin(ids: _*))
      .withMetadata(GC.Id, PropertyGraph.PointRooted)

  /** A frontier (id set) of every vertex of a label. */
  def frontier(label: String): DataFrame =
    vertexFrames(label).select(col(GC.Id))

  /** [[traverse]] from EVERY vertex of a label — the full-frontier fast
    * path. Joining an edge frame against the complete vertex-id list is
    * a no-op under referential integrity but costs a full shuffle (or a
    * giant broadcast) of the fact-side edge table at scale; expanding
    * from "all vertices" reads the adjacency partitions directly
    * instead. Results are identical to
    * `traverse(frontier(label), label, ...)` whenever every edge
    * endpoint exists in the vertex frame (which [[GraphLoader]] layouts
    * guarantee); the oracle-checked inventory queries prove the
    * equivalence on the fixtures. */
  def traverseAll(
      frontierLabel: String,
      edgeLabel: String,
      dir: Direction,
      fillEdge: Boolean = false,
      neighborLabels: Seq[String] = Nil): TraversalResult =
    traverse(null, frontierLabel, edgeLabel, dir, fillEdge, neighborLabels)

  /** Core operator: batched 1-hop expansion of a vertex set along
    * (edgeLabel, direction, neighborLabels) — the reference's `traverse`
    * (TorcGraph.java:479-585). The frontier-edges equi join IS the
    * reference's `TorcEdgeList.batchRead` batching (TorcEdgeList.java:
    * 920-1401): Spark's shuffle/broadcast machinery replaces hand-rolled
    * async read batching (SURVEY.md §3.4).
    *
    * Build side: a point-rooted frontier (see the class doc) is
    * broadcast and the edge frame streams, and the output's `_dst` stays
    * point-rooted. Any other frontier joins as Catalyst chooses, with an
    * unmarked output. On a graph with referential integrity (class doc),
    * a frontier of literal ids is a key filter instead ([[traverseIds]]).
    *
    * @param frontier DataFrame with column `_vid` (set semantics: callers
    *                 pass unique ids, as the reference dedups frontiers
    *                 before fetch, TorcVertexStep.java:87-100)
    * @param frontierLabel label of the frontier vertices
    * @param fillEdge when true, edge property columns are kept
    *                 (reference `fillEdge`, TorcGraph.java:479)
    * @param neighborLabels labels to expand to; empty = all known specs
    *                 (the reference *requires* neighbor labels,
    *                 TorcGraph.java:853-859 — we relax that since label
    *                 pruning here is an optimization, not a correctness
    *                 requirement)
    */
  def traverse(
      frontier: DataFrame,
      frontierLabel: String,
      edgeLabel: String,
      dir: Direction,
      fillEdge: Boolean = false,
      neighborLabels: Seq[String] = Nil): TraversalResult = {

    // null frontier = the traverseAll fast path: no frontier join at all
    val point = frontier != null && PropertyGraph.isPointRooted(frontier, GC.Id)
    val f = Option(frontier).map { fr =>
      val ids = fr.select(col(GC.Id).as("_fid"))
      if (point) broadcast(ids) else ids
    }.orNull
    adjacency(frontierLabel, edgeLabel, dir, fillEdge, neighborLabels, point) { (e, key) =>
      if (f == null) e else e.join(f, e(key) === f("_fid"))
    }
  }

  /** [[traverse]] from `verticesById(frontierLabel, ids)` on a graph
    * with referential integrity (see the class doc): no vertex frame is
    * read, each edge frame is filtered by `key IN ids`, and the output's
    * `_dst` is point-rooted. Under the guarantee this is row for row the
    * join [[traverse]] plans (a missing id has no edges, and each
    * endpoint's vertex row is unique). */
  private[graft] def traverseIds(
      ids: Seq[Long],
      frontierLabel: String,
      edgeLabel: String,
      dir: Direction,
      fillEdge: Boolean,
      neighborLabels: Seq[String]): TraversalResult = {
    require(referentialIntegrity, "a key-filter hop needs referential integrity")
    adjacency(frontierLabel, edgeLabel, dir, fillEdge, neighborLabels, point = true) {
      (e, key) => e.where(e(key).isin(ids: _*))
    }
  }

  /** The per-spec body of a hop: `restrict(edgeFrame, key)` keeps the
    * edge rows whose frontier-side `key` column is in the frontier. */
  private def adjacency(
      frontierLabel: String,
      edgeLabel: String,
      dir: Direction,
      fillEdge: Boolean,
      neighborLabels: Seq[String],
      point: Boolean)(
      restrict: (DataFrame, String) => DataFrame): TraversalResult = {
    val dstMeta = if (point) PropertyGraph.PointRooted else Metadata.empty

    def expand(outbound: Boolean): Seq[DataFrame] = {
      val specs = edgeFrames.keys.toSeq
        .filter(_.label == edgeLabel)
        .filter(s => (if (outbound) s.srcLabel else s.dstLabel) == frontierLabel)
        .filter(s => neighborLabels.isEmpty ||
          neighborLabels.contains(if (outbound) s.dstLabel else s.srcLabel))
        .sortBy(s => (s.srcLabel, s.dstLabel))
      specs.map { spec =>
        val e = edgeFrames(spec)
        val joined = restrict(e, if (outbound) GC.Src else GC.Dst)
        val (srcId, dstId, dstLab) =
          if (outbound) (e(GC.Src), e(GC.Dst), spec.dstLabel)
          else (e(GC.Dst), e(GC.Src), spec.srcLabel)
        val base = Seq(
          srcId.as(GC.Src),
          lit(frontierLabel).as(GC.SrcLabel),
          dstId.as(GC.Dst, dstMeta),
          lit(dstLab).as(GC.DstLabel))
        // plain col(), not e(col): dataset-tagged refs survive into the
        // projected output and trip DetectAmbiguousSelfJoin when callers
        // later re-reference the prop columns by name (e.g. rollup)
        val props = if (fillEdge) propColumns(spec).map(col) else Nil
        joined.select(base ++ props: _*)
      }
    }

    val parts = dir match {
      case Direction.Out  => expand(outbound = true)
      case Direction.In   => expand(outbound = false)
      // BOTH = OUT union IN, each stored direction counted once — plain
      // union, not distinct (TorcGraph.java:861-875; SURVEY.md §7.4).
      case Direction.Both => expand(outbound = true) ++ expand(outbound = false)
    }
    require(parts.nonEmpty,
      s"no adjacency for ($edgeLabel, $dir, $frontierLabel -> $neighborLabels)")

    val df = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val propCols = if (fillEdge) df.columns.toSeq.filterNot(TraversalResult.CoreCols.contains) else Nil
    TraversalResult(df, propCols)
  }

  /** Batch property hydration — the reference's `fillProperties`
    * (TorcGraph.java:587-734, multiread batches of 2048): a join against
    * the label's vertex frame; Catalyst column pruning plays the role of
    * the single-key projection path (TorcGraph.java:693-697). When
    * `df`'s `idCol` is point-rooted (see the class doc), `df` is the
    * broadcast side and the vertex frame streams; otherwise Catalyst
    * picks the sides.
    *
    * @param df any DataFrame; @param idCol its vertex-id column
    * @param label vertex label to hydrate from
    * @param keys property columns to attach (empty = all)
    */
  def hydrate(df: DataFrame, idCol: String, label: String, keys: Seq[String] = Nil): DataFrame = {
    val v = vertexFrames(label)
    val wanted = if (keys.isEmpty) v.columns.toSeq.filterNot(_ == GC.Id) else keys
    val proj = v.select(col(GC.Id).as("_hid") +: wanted.map(col): _*)
    val d = if (PropertyGraph.isPointRooted(df, idCol)) broadcast(df) else df
    d.join(proj, d(idCol) === proj("_hid")).drop("_hid")
  }

  /** Vertex-induced subgraph — the Gremlin `subgraph()` side-effect step
    * (inherited step library, reference pom.xml:19-27) re-expressed for
    * a batch engine: TinkerPop's step collects traversed edges into a
    * driver-held TinkerGraph; the induced form takes an element SET and
    * keeps every edge whose BOTH endpoints survive, and the result is a
    * full [[PropertyGraph]] over filtered frames — traversable,
    * hydratable, persistable (`GraphLoader.persist`/`persistBucketed`),
    * never driver-materialized. Each vertex frame is one semi-join and
    * each adjacency partition two, all equi-joins on the id — the
    * extraction scales exactly like a hop, so carving a working
    * neighborhood out of a 100-TB graph and bucketing it for repeated
    * analysis is one pass over the adjacency.
    *
    * @param vertices any (id, label) frame — a traversal frontier, an
    *   `aggregate()` collection
    * @param materialize localCheckpoint the element set first: the set
    *   feeds 2·|specs| + |labels| semi-joins, each of which would
    *   otherwise re-execute its plan (the q33 materialization
    *   discipline) — turn on when the set is computed by a non-trivial
    *   traversal. */
  def inducedSubgraph(vertices: DataFrame,
      materialize: Boolean = false): PropertyGraph = {
    val distinct = vertices.select(col(GC.Id), col(GC.Label))
      .dropDuplicates(GC.Id, GC.Label)
    val set = if (materialize) distinct.localCheckpoint() else distinct
    def labelSet(l: String): DataFrame =
      set.where(col(GC.Label) === l).select(col(GC.Id).as("_kid"))
    val vs = vertexFrames.map { case (l, v) =>
      l -> v.join(labelSet(l), v(GC.Id) === col("_kid"), "left_semi")
    }
    val es = edgeFrames.map { case (spec, e) =>
      val srcKept = e.join(labelSet(spec.srcLabel),
        e(GC.Src) === col("_kid"), "left_semi")
      spec -> srcKept.join(labelSet(spec.dstLabel),
        srcKept(GC.Dst) === col("_kid"), "left_semi")
    }
    new PropertyGraph(spark, vs, es)
  }

  /** Generic single-table view of all vertices:
    * `(id: struct<hi,lo>, label: string, props: map<string,string>)` —
    * the reference's untyped property-map model (TorcGraph.java:71-85,
    * string-valued properties per feature flags TorcGraph.java:2115-2118).
    * For generic/point-op parity and tests; analytical queries use the
    * typed per-label frames. */
  def unifiedVertices: DataFrame = {
    val frames = vertexLabels.map { label =>
      val v = vertexFrames(label)
      val propCols = v.columns.toSeq.filterNot(_ == GC.Id)
      val kvs = propCols.flatMap(c => Seq(lit(c), col(c).cast("string")))
      v.select(
        graft.functions.uint128(lit(labelIds(label)), col(GC.Id)).as("id"),
        lit(label).as("label"),
        (if (kvs.isEmpty) map() else map(kvs: _*)).as("props"))
    }
    frames.reduce(_.unionByName(_))
  }

  /** Generic edge view: `(src, dst, label, src_label, dst_label, props)`. */
  def unifiedEdges: DataFrame = {
    val frames = edgeSpecs.map { spec =>
      val e = edgeFrames(spec)
      val props = propColumns(spec)
      val kvs = props.flatMap(c => Seq(lit(c), col(c).cast("string")))
      e.select(
        graft.functions.uint128(lit(labelIds(spec.srcLabel)), col(GC.Src)).as("src"),
        graft.functions.uint128(lit(labelIds(spec.dstLabel)), col(GC.Dst)).as("dst"),
        lit(spec.label).as("label"),
        lit(spec.srcLabel).as("src_label"),
        lit(spec.dstLabel).as("dst_label"),
        (if (kvs.isEmpty) map() else map(kvs: _*)).as("props"))
    }
    frames.reduce(_.unionByName(_))
  }

  private def propColumns(spec: EdgeSpec): Seq[String] =
    edgeFrames(spec).columns.toSeq.filterNot(c => c == GC.Src || c == GC.Dst)
}

object PropertyGraph {

  private val PointRootedKey = "graft.pointRooted"

  /** The point-rooted mark: metadata on an id column whose every row is
    * a fixed number of hops from literal ids (see the class doc). */
  private[graft] val PointRooted: Metadata =
    new MetadataBuilder().putBoolean(PointRootedKey, true).build()

  /** Is `df`'s top-level column `idCol` point-rooted? */
  def isPointRooted(df: DataFrame, idCol: String): Boolean =
    df.schema.find(_.name.equalsIgnoreCase(idCol)).exists { f =>
      f.metadata.contains(PointRootedKey) && f.metadata.getBoolean(PointRootedKey)
    }

  /** `df` with the point-rooted mark dropped from its `_vid` — for steps
    * whose output is not a fixed number of hops from the ids (loops,
    * unions with such a branch). An unmarked `df` is returned as is, so
    * its plan does not change. */
  private[graft] def unmarked(df: DataFrame): DataFrame =
    if (isPointRooted(df, GC.Id)) df.withMetadata(GC.Id, Metadata.empty) else df
}
