package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{Direction, EdgeSpec, GraphColumns => GC}

/** Batch re-expressions of the reference's point mutation/read operators.
  * The reference is an OLTP store (one RC write per op, inside an
  * optimistic transaction, O16); a batch engine's equivalent of a point
  * op is a set op of size n — these APIs take DataFrames of rows and
  * return a new (immutable) [[PropertyGraph]], with Parquet `append` as
  * the persisted path (SURVEY.md O2/O3: "batch path preferred").
  */
object GraphMutations {

  /** Derived graph sharing the source's graph-variables: mutations return
    * new immutable graphs, but metadata (schema version, lineage tags)
    * belongs to the graph's identity and must survive them. A derived
    * graph records no referential integrity (see [[PropertyGraph]]):
    * appended rows are not checked against the vertex frames. */
  private def derived(g: PropertyGraph,
      vs: Map[String, DataFrame],
      es: Map[graft.model.EdgeSpec, DataFrame]): PropertyGraph = {
    val out = new PropertyGraph(g.spark, vs, es)
    out.variables.setAll(g.variables.toMap)
    out
  }

  /** Batch addVertex (O2, TorcGraph.java:243-313): append vertex rows to
    * a label's frame. `rows` must carry the label's id column (`_vid`)
    * and property columns; missing property columns become nulls. */
  def addVertices(g: PropertyGraph, label: String, rows: DataFrame): PropertyGraph = {
    val merged = g.vertexFrames.get(label) match {
      case Some(existing) => existing.unionByName(rows, allowMissingColumns = true)
      case None => rows
    }
    derived(g, g.vertexFrames + (label -> merged), g.edgeFrames)
  }

  /** Batch addEdge (O3, TorcGraph.java:1202-1279): append edge rows to an
    * adjacency partition. The reference enforces at most one edge per
    * (v1, v2, label) — `enforceUnique` reproduces that by keeping the
    * FIRST row per (src, dst) (existing edges win over appended ones,
    * matching "addEdge replaces nothing"). A single stored row serves
    * both directions, as in the reference's bidirectional storage. */
  def addEdges(g: PropertyGraph, spec: EdgeSpec, rows: DataFrame,
      enforceUnique: Boolean = true): PropertyGraph = {
    val merged = g.edgeFrames.get(spec) match {
      case Some(existing) =>
        val u = existing.withColumn("_pri", lit(0))
          .unionByName(rows.withColumn("_pri", lit(1)), allowMissingColumns = true)
        if (enforceUnique) {
          // keep lowest priority row per (src, dst): existing wins
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(GC.Src, GC.Dst).orderBy(col("_pri"))
          u.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
            .drop("_pri", "_rn")
        } else u.drop("_pri")
      case None =>
        if (enforceUnique) rows.dropDuplicates(GC.Src, GC.Dst) else rows
    }
    derived(g, g.vertexFrames, g.edgeFrames + (spec -> merged))
  }

  /** Batch vertex removal with incident-edge cascade — the set form of
    * TinkerPop `Vertex.remove()` (which the reference inherits; its
    * deleteGraph O34 is the drop-everything degenerate case). Removing a
    * vertex also removes every edge that references it from any
    * adjacency partition whose src or dst label matches; for large id
    * sets pass a DataFrame-backed frontier via [[removeVerticesDf]]
    * (anti-join) instead of an `isin` literal list. */
  def removeVertices(g: PropertyGraph, label: String, ids: Seq[Long]): PropertyGraph =
    removeVerticesDf(g, label,
      g.spark.createDataFrame(
        g.spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(GC.Id,
            org.apache.spark.sql.types.LongType)))))

  /** [[removeVertices]] with a DataFrame id set (`_vid` column): the
    * anti-join form that scales to arbitrarily large removal sets. */
  def removeVerticesDf(g: PropertyGraph, label: String, ids: DataFrame): PropertyGraph = {
    val rm = ids.select(col(GC.Id).as("_rmid"))
    val vs = g.vertexFrames.map {
      case (l, v) if l == label =>
        l -> v.join(rm, v(GC.Id) === rm("_rmid"), "left_anti")
      case kv => kv
    }
    val es = g.edgeFrames.map { case (spec, e) =>
      var out = e
      if (spec.srcLabel == label)
        out = out.join(rm, out(GC.Src) === rm("_rmid"), "left_anti")
      if (spec.dstLabel == label)
        out = out.join(rm, out(GC.Dst) === rm("_rmid"), "left_anti")
      spec -> out
    }
    derived(g, vs, es)
  }

  /** Batch edge removal by composite id (the set form of
    * `Edge.remove()`): drops the (src, dst) pairs from one adjacency
    * partition; vertices are untouched. */
  def removeEdges(g: PropertyGraph, spec: EdgeSpec, ids: Seq[(Long, Long)]): PropertyGraph = {
    val e = g.edgeFrames(spec)
    val key = struct(col(GC.Src), col(GC.Dst))
    val wanted = ids.map { case (s, d) => struct(lit(s), lit(d)) }
    derived(g, g.vertexFrames,
      g.edgeFrames + (spec -> e.where(!key.isin(wanted: _*))))
  }

  /** Edge point lookup by composite id (O5, TorcGraph.java:376-402): the
    * reference's edge identity is (v1, v2, label) — materialize edges
    * for a list of (src, dst) pairs. Misses are absent. */
  def edgesById(g: PropertyGraph, spec: EdgeSpec, ids: Seq[(Long, Long)]): DataFrame = {
    val e = g.edgeFrames(spec)
    val key = struct(col(GC.Src), col(GC.Dst))
    val wanted = ids.map { case (s, d) => struct(lit(s), lit(d)) }
    e.where(key.isin(wanted: _*))
  }

  /** Edge endpoints (O10, TorcGraph.java:1532-1579 — outV/inV/bothV):
    * for edge rows of a spec, return endpoint vertices (hydrated from the
    * vertex frames). Direction.Out = source endpoint, In = destination,
    * Both = union (one row per endpoint). */
  def edgeVertices(g: PropertyGraph, spec: EdgeSpec, edges: DataFrame,
      dir: Direction): DataFrame = {
    def endpoint(idCol: String, label: String): DataFrame =
      edges.select(col(idCol).as(GC.Id)).distinct()
        .join(g.vertexFrames(label), GC.Id)
        .withColumn(GC.Label, lit(label))
    dir match {
      case Direction.Out  => endpoint(GC.Src, spec.srcLabel)
      case Direction.In   => endpoint(GC.Dst, spec.dstLabel)
      case Direction.Both =>
        endpoint(GC.Src, spec.srcLabel)
          .unionByName(endpoint(GC.Dst, spec.dstLabel), allowMissingColumns = true)
    }
  }

  /** Batch setVertexProperty (O13, TorcGraph.java:1468-1526): upsert one
    * property for a set of vertices with the reference's cardinality
    * semantics (TorcGraph.java:1500-1515):
    *  - single: overwrite the value
    *  - list:   append to the existing array (duplicates kept)
    *  - set:    union into the existing array (duplicates dropped)
    * `updates` carries (_vid, value). The property column is created if
    * absent; for list/set it is an ArrayType column. */
  def setVertexProperty(g: PropertyGraph, label: String, key: String,
      updates: DataFrame, cardinality: String = "single"): PropertyGraph = {
    val v = g.vertexFrames(label)
    val upd = updates.select(col(GC.Id).as("_uid"), col("value").as("_newval"))
    val joined = v.join(upd, v(GC.Id) === upd("_uid"), "left")
    val hasCol = v.columns.contains(key)
    val existing: Column =
      if (hasCol) col(key)
      else if (cardinality == "single") lit(null)
      else array()
    val newCol: Column = cardinality match {
      case "single" => coalesce(col("_newval"), existing)
      case "list" => when(col("_newval").isNull, existing)
        .otherwise(array_append(coalesce(existing, array()), col("_newval")))
      case "set" => when(col("_newval").isNull, existing)
        .otherwise(array_union(coalesce(existing, array()), array(col("_newval"))))
      case other => throw new IllegalArgumentException(s"cardinality: $other")
    }
    val updated = joined.withColumn(key, newCol).drop("_uid", "_newval")
    derived(g, g.vertexFrames + (label -> updated), g.edgeFrames)
  }

  /** Property map fetch (O12) for one point id — a thin wrapper over the
    * unified view for API parity. POINT OP: each call runs a
    * driver-blocking collect of one row, mirroring the reference's
    * single-vertex read. Never map it over an id set — use
    * `PropertyGraph.hydrate` (batch hydration, one distributed join)
    * for anything bigger than a handful of lookups. */
  def vertexProperties(g: PropertyGraph, label: String, id: Long,
      keys: Seq[String] = Nil): Map[String, String] = {
    val rows = g.verticesById(label, Seq(id))
    val cols = if (keys.isEmpty) rows.columns.toSeq.filterNot(_ == GC.Id) else keys
    rows.select(cols.map(col): _*).collect().headOption match {
      case None => Map.empty
      case Some(r) => cols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(i)).map(v => c -> v.toString)
      }.toMap
    }
  }
}
