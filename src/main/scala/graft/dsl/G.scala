package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.model.{Direction, GraphColumns => GC}
import graft.plans.Supersteps

/** Chainable traversal DSL over a [[PropertyGraph]] — the public verb
  * surface a user of the reference's Gremlin API writes against
  * (`g.V().has(...).out(...).values(...)`; the reference inherits the
  * whole step library from gremlin-core, SURVEY.md §2.1, and adds only
  * the bulk vertex step O24/O25 — which is this engine's native
  * execution model anyway). Each verb composes a lazy DataFrame; nothing
  * executes until an action. Torc-native set verbs (traverse/fuse/
  * intersect/subtract, TorcHelper.java:416-646) remain available on
  * [[graft.operators.TraversalResult]]; this layer covers the standard
  * filter/expand/group/count/order/limit surface.
  *
  * Each Step tracks the set of labels its frontier can hold, so label
  * pruning is structural (only matching per-label frames are unioned) —
  * the same effect as the reference's hasLabel pushdown strategy
  * (TorcGraphProviderOptimizationStrategy.java:74-103), obtained by
  * construction rather than by a rewrite rule.
  *
  * Multiplicity follows join semantics, matching the reference's
  * traverser fan-out (TorcVertexStep.java:123-130); use `dedup()` for
  * set semantics.
  */
final case class G(graph: PropertyGraph) {

  /** All vertices: `g.V()`. */
  def V(): Step = {
    val frames = graph.vertexLabels.map { l =>
      graph.vertices(l).select(col(GC.Id), lit(l).as(GC.Label))
    }
    Step(graph, frames.reduce(_.unionByName(_)), graph.vertexLabels)
  }

  /** All vertices of one label: `g.V("Customer")`. Keeps the label's
    * property columns in the step so an immediately following `has()`
    * is a plain pushed-down filter, not a self-join. */
  def V(label: String): Step =
    Step(graph,
      graph.vertices(label).withColumn(GC.Label, lit(label)),
      Seq(label))

  /** Point lookup: `g.V("Customer", 1, 2, 3)` (O4 semantics: misses are
    * simply absent). The frontier is point-rooted (see
    * [[graft.graph.PropertyGraph]]): each hop broadcasts it, until a loop
    * step ([[Step.untilFixpoint]], [[Step.repeatUntil]],
    * [[Step.repeatEmitUntil]], [[Step.shortestPaths]]) drops the mark.
    * On a graph with referential integrity, a hop taken directly on this
    * frontier (no verb in between) reads no vertex frame: it filters each
    * edge frame by the ids ([[graft.graph.PropertyGraph.traverseIds]]). */
  def V(label: String, ids: Long*): Step = {
    val df = graph.verticesById(label, ids).select(col(GC.Id), lit(label).as(GC.Label))
    Step(graph, df, Seq(label), root = Some((df, ids)))
  }
}

final case class Step(graph: PropertyGraph, df: DataFrame, labels: Seq[String],
    captures: Map[String, Seq[String]] = Map.empty,
    sideEffects: Map[String, (DataFrame, Seq[String])] = Map.empty,
    private[dsl] val root: Option[(DataFrame, Seq[Long])] = None) {

  /** The ids `G.V(label, ids)` looked up, while the frontier is still the
    * exact frame it built (any verb that rebuilds `df` ends this), on a
    * graph whose layout lets a hop filter the edge frames by them
    * ([[graft.graph.PropertyGraph.traverseIds]]). */
  private def keyFilterIds: Option[Seq[Long]] =
    root.collect { case (frame, ids) if (frame eq df) && graph.referentialIntegrity => ids }

  /** Filter on a vertex property — Gremlin `has(key, value)`. */
  def has(key: String, value: Any): Step = has(col(key) === lit(value))

  /** Filter on vertex properties — Gremlin `has(predicate)`. Each label's
    * branch joins its full vertex frame (Catalyst prunes to the columns
    * the predicate touches); a label whose schema cannot resolve the
    * predicate contributes no rows, matching `has()` on a property the
    * vertex lacks. */
  def has(cond: Column): Step = {
    // Fast path: the step still carries the property columns (fresh
    // V(label) scan) — filter in place, no join; Catalyst pushes the
    // predicate into the scan. Applicability is decided by REFERENCE
    // INSPECTION (unresolvableRefs), never by constructing a Dataset
    // whose analysis fails: a failed probe is not free — Spark hands
    // the failed QueryExecution to the session's listener bus, and once
    // any Observation has registered its listener (the dedup-cluster
    // loop does), every failed probe logs a full ERROR stack trace
    // (the round-7 bench-tail noise).
    if (unresolvableRefs(cond, df.columns.toSeq).isEmpty) copy(df = df.filter(cond))
    else {
      // Carried columns (`_path`, `_as_` captures) must survive the
      // hydration join — dropping them here would break a later
      // select()/paths() and the optional/coalesce origin tracking.
      val keepCols = Seq(GC.Id, GC.Label) ++ df.columns.filter(isCarried)
      val attempts = labels.flatMap { l =>
        val proj = graph.vertices(l).withColumnRenamed(GC.Id, "_hid")
        // Applicability per label: does this label's schema (plus the
        // carried columns) resolve every reference?
        if (unresolvableRefs(cond, keepCols ++ proj.columns).nonEmpty) None
        else {
          val sub = df.select(keepCols.map(col): _*).where(col(GC.Label) === l)
          Some((l, sub.join(proj, sub(GC.Id) === proj("_hid")).where(cond)
            .select(keepCols.map(c => sub(c)): _*)))
        }
      }
      copy(df = nonEmptyUnion(attempts.map(_._2)), labels = attempts.map(_._1))
    }
  }

  /** Names `cond` references that are not in `columns` — the
    * pre-analysis applicability check behind [[has]] (same mechanism as
    * [[partitionByPredicate]]). Struct-field access (`col("x").getField`
    * or a dotted name) resolves on the root name; the check is
    * case-insensitive like Spark's default analysis. */
  private def unresolvableRefs(cond: Column, columns: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val have = columns.map(_.toLowerCase).toSet
    org.apache.spark.sql.GraftSqlShims.catalystExpression(cond).collect {
      case ua: UnresolvedAttribute => ua.nameParts.head
      case a: Attribute => a.name
    }.distinct.filterNot(n => have.contains(n.toLowerCase))
  }

  /** Mid-chain id filter — Gremlin `hasId(ids...)`: keep only frontier
    * elements with one of the given ids. The reference composes point
    * lookups with traversals the same way (`g.V(ids).out()...`,
    * TorcGraph.java:327-373); here the In-filter lands on the current
    * frontier and, on a fresh `V(label)` scan, Catalyst pushes it into
    * the Parquet read exactly like the `V(label, ids...)` start step.
    *
    * SINGLE-LABEL ONLY: ids here are label-local key spaces (c_custkey
    * and n_nationkey overlap), unlike the reference's globally-unique
    * 128-bit element ids (TorcGraph UInt128) — on a mixed frontier a
    * bare long would silently match id-5 vertices of EVERY label, so
    * multi-label frontiers must use the (label, id) overload. */
  def hasId(ids: Long*): Step = {
    require(labels.size <= 1,
      s"hasId(ids...) on a multi-label frontier ($labels) is ambiguous — " +
        "ids are label-local; use hasElementId(label -> id, ...) instead")
    copy(df = df.where(col(GC.Id).isin(ids: _*)))
  }

  /** [[hasId]] for mixed frontiers: keep elements matching one of the
    * given (label, id) pairs — the full element identity, matching the
    * reference's globally-unique UInt128 ids on a per-label layout. */
  def hasElementId(pairs: (String, Long)*): Step = {
    require(pairs.nonEmpty, "hasElementId needs at least one (label, id) pair")
    val wanted = pairs.map { case (l, i) =>
      struct(lit(l), lit(i).cast("bigint"))
    }
    copy(
      df = df.where(struct(col(GC.Label), col(GC.Id).cast("bigint"))
        .isin(wanted: _*)),
      labels = labels.filter(pairs.map(_._1).toSet))
  }

  /** hasLabel step — structural pruning, not a runtime filter. */
  def hasLabel(ls: String*): Step = {
    val kept = labels.filter(ls.contains)
    copy(df = df.where(col(GC.Label).isin(ls: _*)), labels = kept)
  }

  /** One-hop expansion — Gremlin `out/in/both(label)`. */
  def out(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.Out, fillEdge = false, neighborLabels)
  def in(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.In, fillEdge = false, neighborLabels)
  def both(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.Both, fillEdge = false, neighborLabels)

  /** Expansion keeping edge property columns — Gremlin `outE`/`inE`;
    * follow with `where` for edge-property predicates (removeEdgeIf). */
  def outE(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.Out, fillEdge = true, neighborLabels)
  def inE(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.In, fillEdge = true, neighborLabels)

  /** Edge-keeping BOTH expansion — Gremlin `bothE` (reference
    * single-vertex surface, TorcGraph.java:1281-1398): the union of the
    * [[outE]] and [[inE]] expansions, one row per stored direction, edge
    * property columns kept. */
  def bothE(edgeLabel: String, neighborLabels: String*): Step =
    expand(edgeLabel, Direction.Both, fillEdge = true, neighborLabels)

  private def expand(edgeLabel: String, dir: Direction, fillEdge: Boolean,
      neighborLabels: Seq[String]): Step = {
    // Columns that ride along through expansions: the `_path` history and
    // any `as(name)` capture structs.
    val carried = df.columns.filter(isCarried).toSeq
    val parts = labels.flatMap { l =>
      val matching = graph.edgeFrames.keys.exists { s =>
        s.label == edgeLabel && (dir match {
          case Direction.Out  => s.srcLabel == l
          case Direction.In   => s.dstLabel == l
          case Direction.Both => s.srcLabel == l || s.dstLabel == l
        })
      }
      if (!matching) None
      else {
        val sub = df.where(col(GC.Label) === l)
        if (carried.isEmpty) {
          val r = keyFilterIds match {
            case Some(ids) => graph.traverseIds(ids, l, edgeLabel, dir, fillEdge, neighborLabels)
            case None => graph.traverse(sub.select(col(GC.Id)), l, edgeLabel, dir,
              fillEdge, neighborLabels)
          }
          val keep = Seq(col(GC.Dst).as(GC.Id), col(GC.DstLabel).as(GC.Label)) ++
            r.edgePropCols.map(col)
          Some((r.df.select(keep: _*), r))
        } else {
          // Carried mode: traverse a distinct frontier, then fan the edge
          // rows back onto the per-row carried columns (multiplicity =
          // input rows x edges, same as the non-carried join semantics).
          val r = graph.traverse(sub.select(col(GC.Id)).distinct(), l, edgeLabel,
            dir, fillEdge, neighborLabels)
          // a point-rooted frontier's rows are the build side here too
          val pidRows = sub.select(col(GC.Id).as("_pid") +: carried.map(col): _*)
          val rows =
            if (PropertyGraph.isPointRooted(sub, GC.Id)) broadcast(pidRows) else pidRows
          val joined = r.df.join(rows, r.df(GC.Src) === rows("_pid"))
          val carriedOut = carried.map {
            case PathCol => concat(col(PathCol),
              array(struct(col(GC.DstLabel).as("label"), col(GC.Dst).cast("bigint").as("id"))))
              .as(PathCol)
            case c => col(c)
          }
          val keep = Seq(col(GC.Dst).as(GC.Id), col(GC.DstLabel).as(GC.Label)) ++
            r.edgePropCols.map(col) ++ carriedOut
          Some((joined.select(keep: _*), r))
        }
      }
    }
    // An edge label that exists nowhere in the graph is a typo — fail
    // loudly. A label that exists but has no adjacency FROM this
    // frontier is a legitimately empty hop (Gremlin semantics; required
    // for optional/coalesce branches that don't apply to every label).
    if (parts.isEmpty) {
      require(graph.edgeFrames.keys.exists(_.label == edgeLabel),
        s"edge label '$edgeLabel' does not exist in this graph")
      val keep = Seq(col(GC.Id), col(GC.Label)) ++
        df.columns.filter(isCarried).map(col)
      return copy(df = df.select(keep: _*).where(lit(false)), labels = Seq.empty)
    }
    val outDf = parts.map(_._1).reduce(_.unionByName(_, allowMissingColumns = true))
    val newLabels = graph.vertexLabels.filter { nl =>
      graph.edgeFrames.keys.exists { s =>
        s.label == edgeLabel &&
        (neighborLabels.isEmpty ||
          neighborLabels.contains(nl)) && (dir match {
          case Direction.Out  => labels.contains(s.srcLabel) && s.dstLabel == nl
          case Direction.In   => labels.contains(s.dstLabel) && s.srcLabel == nl
          case Direction.Both => (labels.contains(s.srcLabel) && s.dstLabel == nl) ||
            (labels.contains(s.dstLabel) && s.srcLabel == nl)
        })
      }
    }
    copy(df = outDf, labels = newLabels)
  }

  /** Bounded multi-hop — Gremlin `repeat(step).times(n)`: applies the
    * hop function n times (each application is one more join in the
    * plan; there is no iterative driver loop). */
  def repeat(n: Int)(hop: Step => Step): Step =
    (1 to n).foldLeft(this)((s, _) => hop(s))

  /** Bounded multi-hop emitting EVERY intermediate frontier — Gremlin
    * `repeat(step).emit().times(n)`: the result is the union of the
    * frontiers after 1..n hop applications (plus the input frontier
    * itself with `emitInitial = true`, Gremlin's emit-before-repeat
    * placement), each tagged with its depth in the `_depth` column
    * ([[Step.DepthCol]], the `loops()` value). Multiplicity is
    * preserved per depth — join semantics, like [[repeat]] — and
    * `as()`/`select()` captures ride through, so "all people within 3
    * hops, with where they were found" is one plan: n expansions
    * unioned, no driver loop, no action (for an unmarked frontier; see
    * the point-rooted rule below). Not a fixpoint: for unbounded
    * reachability use [[untilFixpoint]].
    *
    * `materialize = true` switches to the SUPERSTEP discipline: each
    * hop's frontier is `localCheckpoint`ed before the next hop, so
    * every expansion executes exactly once. The default lazy unroll
    * embeds depth d-1's whole subplan inside depth d — O(n²) expansion
    * instances — and while AQE's ReusedExchange dedupes the repeated
    * SHUFFLES, the operators above each reused exchange re-execute per
    * subtree; for deep unrolls over expensive hop inputs (q33's reply
    * trees: 24 s lazy vs ~2 s materialized at sf0.1) checkpointing is
    * the affordable form. Costs one action per depth (the frontier's
    * cut, whose row count stops the loop once a frontier drains) and
    * trades plan purity for bounded lineage — the same trade
    * [[untilFixpoint]] makes.
    *
    * A POINT-ROOTED frontier (`G.V(label, ids)` and the bounded steps
    * after it, see [[graft.graph.PropertyGraph]]) always takes the
    * superstep discipline: its depths are a few rows each, so cutting
    * them costs a small job per depth, while the lazy unroll would
    * re-scan the hop's whole edge frames once per embedded depth. An
    * unmarked frontier keeps the lazy unroll unless `materialize` is
    * set. */
  def repeatEmit(n: Int, emitInitial: Boolean = false,
      emitPred: Column = null, materialize: Boolean = false)(hop: Step => Step): Step = {
    require(n >= 1, s"repeatEmit needs n >= 1, got $n")
    // superstep mode drains: it stops early once a frontier is empty
    // (every deeper one is empty too), read off the frontier's own cut
    val superstep = materialize || PropertyGraph.isPointRooted(df, GC.Id)
    val hops =
      if (superstep) drain(n) { (cur, _) => val next = hop(cur); (next, next.df) }
      else (1 to n).scanLeft(this)((cur, _) => hop(cur)).tail
    val fs = (if (emitInitial) Seq((0, this)) else Nil) ++
      hops.zipWithIndex.map { case (st, i) => (i + 1, st) }
    val dfs = fs.map { case (d, st) =>
      // emit(pred): only frontier rows satisfying the predicate are
      // emitted (Gremlin's emit(traversal) filter); the REPETITION is
      // unaffected — every frontier keeps hopping.
      val emitted =
        if (emitPred == null) st.df else st.partitionByPredicate(emitPred)._1
      emitted.withColumn(Step.DepthCol, lit(d))
    }
    copy(
      df = unionBranches(dfs),
      labels = fs.flatMap(_._2.labels).distinct.sorted,
      captures = fs.map(_._2.captures).foldLeft(captures)(mergeCaptures))
  }

  /** Iterative fixpoint — Gremlin `repeat(step).until(no new results)`:
    * expands level by level, accumulating the visited (label, id) set and
    * stopping when a level adds nothing new (or at `maxIter`). Returns
    * the visited set as the new frontier.
    *
    * This is a driver-coordinated superstep loop (the DataFrame analogue
    * of Pregel, [[graft.plans.Supersteps.closure]]): each level is one
    * distributed join whose fresh rows are cut (and counted on that
    * cut), so lineage stays linear instead of exponential, and the
    * anti-join against the visited set is what guarantees termination
    * on cyclic graphs. For whole-graph iterative
    * analytics prefer [[graft.analytics.GraphXBridge]]. */
  def untilFixpoint(maxIter: Int = 20)(hop: Step => Step): Step = {
    val seed = unrooted.df.select(col(GC.Id), col(GC.Label))
      .dropDuplicates(GC.Id, GC.Label).localCheckpoint()
    var front = copy(df = seed)
    val hopLabels = Seq.newBuilder[Seq[String]]
    val (visited, found) = Supersteps.closure(seed, maxIter,
        Supersteps.Bounded) { (delta, visited, _) =>
      val next = hop(front.copy(df = delta))
      front = next
      hopLabels += next.labels
      next.df.select(col(GC.Id), col(GC.Label))
        .dropDuplicates(GC.Id, GC.Label)
        .join(visited, Seq(GC.Id, GC.Label), "left_anti")
    }
    if (!(visited eq seed)) Supersteps.release(seed)
    // a hop's labels count once its level added something
    copy(df = visited,
      labels = (labels ++ hopLabels.result().take(found).flatten).distinct.sorted)
  }

  /** Predicate-terminated repetition — Gremlin `repeat(hop).until(pred)`
    * (do/while, matching the until-after-repeat placement): after each
    * hop, traversers satisfying `pred` EXIT the loop into the result;
    * the rest hop again. `pred` is a Column over the frontier's columns;
    * referenced property columns the frontier no longer carries are
    * hydrated per label, and a label whose schema lacks one can never
    * satisfy the predicate (the `has()` convention) — its traversers
    * keep looping. Traversers still unsatisfied at `maxIter` are
    * DROPPED (the reference's inherited step machinery would loop them
    * forever; a bound is the batch-engine analogue).
    *
    * Driver-coordinated superstep loop like [[untilFixpoint]]: one
    * distributed pass per level, and the cut of the looping remainder —
    * which keeps lineage linear on cyclic graphs and whose row count
    * ends the loop once it drains — is the level's only action. */
  def repeatUntil(pred: Column, maxIter: Int = 20)(hop: Step => Step): Step = {
    require(maxIter >= 1, s"repeatUntil needs maxIter >= 1, got $maxIter")
    val exited = Seq.newBuilder[DataFrame]
    val hops = unrooted.drain(maxIter) { (cur, _) =>
      val next = hop(cur)
      val (pass, fail) = next.partitionByPredicate(pred)
      exited += pass
      (next, fail)
    }
    copy(df = exited.result().reduce(_.unionByName(_, allowMissingColumns = true)),
      labels = hops.flatMap(_.labels).distinct.sorted,
      captures = hops.map(_.captures).foldLeft(captures)(mergeCaptures))
  }

  /** Combined `repeat(hop).emit([emitPred]).until(untilPred)` — BOTH
    * modulators on one repeat, which Gremlin allows and the
    * single-modulator forms ([[repeatEmit]], [[repeatUntil]]) cannot
    * compose. Do/while placement like [[repeatUntil]]: after each hop,
    * traversers satisfying `untilPred` EXIT into the result; of the
    * rest, those matching `emitPred` (ALL of them when null — plain
    * `emit()`) output a COPY and keep hopping — TinkerPop's rule that
    * until wins when both fire, so nothing outputs twice at one depth.
    * Every output row carries its depth ([[Step.DepthCol]]); traversers
    * still looping at `maxIter` are dropped, like [[repeatUntil]].
    * Both predicates hydrate per label ([[repeatUntil]]'s rules).
    *
    * Superstep loop — one cut action per level, its row count ending
    * the loop once it drains ([[repeatEmit]]'s materialize
    * discipline): only the looping
    * remainder is checkpointed; the per-depth exit/emit frames are lazy
    * projections OVER the previous level's checkpoint, so lineage stays
    * linear and each expansion executes exactly once. */
  def repeatEmitUntil(untilPred: Column, maxIter: Int = 20,
      emitInitial: Boolean = false, emitPred: Column = null)(
      hop: Step => Step): Step = {
    require(maxIter >= 1, s"repeatEmitUntil needs maxIter >= 1, got $maxIter")
    val start = unrooted
    val outs = Seq.newBuilder[DataFrame]
    if (emitInitial) {
      val e0 = if (emitPred == null) start.df else start.partitionByPredicate(emitPred)._1
      outs += e0.withColumn(Step.DepthCol, lit(0))
    }
    val hops = start.drain(maxIter) { (cur, d) =>
      val next = hop(cur)
      val (exit, stay) = next.partitionByPredicate(untilPred)
      val emitted =
        if (emitPred == null) stay
        else next.copy(df = stay).partitionByPredicate(emitPred)._1
      outs += exit.withColumn(Step.DepthCol, lit(d))
      outs += emitted.withColumn(Step.DepthCol, lit(d))
      (next, stay)
    }
    copy(
      df = outs.result().reduce(_.unionByName(_, allowMissingColumns = true)),
      labels = ((if (emitInitial) labels else Nil) ++ hops.flatMap(_.labels))
        .distinct.sorted,
      captures = hops.map(_.captures).foldLeft(captures)(mergeCaptures))
  }

  /** The drain loop behind [[repeatUntil]], [[repeatEmitUntil]] and
    * [[repeatEmit]]`(materialize = true)`: round d (from 1) hands
    * `round` the looping frontier and gets back the hopped step and the
    * frame that keeps looping, which the driver cuts. The loop ends on
    * the first empty cut (its emptiness observed on the cut's own
    * action) or after `cap` rounds; traversers still looping then are
    * dropped. The callers' outputs read every level's cut lazily, so
    * none is released. Returns each round's hopped step over its cut. */
  private def drain(cap: Int)(round: (Step, Int) => (Step, DataFrame)): Seq[Step] = {
    val hops = Seq.newBuilder[Step]
    var cur = this
    val last = Supersteps.rounds(df, cap, Supersteps.Bounded,
        keepStates = true) { (st, r) =>
      if (r.n > 1) hops += cur.copy(df = st)
      val (next, looping) = round(cur.copy(df = st), r.n)
      cur = next
      r.progress(looping, org.apache.spark.sql.functions.count(lit(1)))
    }
    (hops += cur.copy(df = last)).result()
  }

  /** Split the frontier by a predicate: (rows satisfying, rows not —
    * including null evaluations and rows of labels whose schema cannot
    * resolve a referenced property). Referenced columns the frontier
    * doesn't carry are hydrated PER LABEL with that label's resolvable
    * subset, null-filling columns the label's schema lacks — so a
    * disjunctive predicate over label-specific properties (e.g.
    * `n_name === x || r_name === y` on a Nation∪Region frontier)
    * evaluates each disjunct exactly where `has()` would: a label
    * missing one column can still satisfy the predicate through
    * another (null operands propagate per SQL three-valued logic, and
    * a null RESULT routes to the false side). One lookup row per
    * element, so multiplicity is untouched; both halves are projected
    * back to the step's own columns. */
  private[dsl] def partitionByPredicate(pred: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Attribute
    val orFalse = org.apache.spark.sql.functions.coalesce(pred, lit(false))
    val refs = org.apache.spark.sql.GraftSqlShims.catalystExpression(pred).collect {
      case ua: UnresolvedAttribute => ua.name
      case a: Attribute => a.name
    }.distinct
    val missing = refs.filterNot(df.columns.contains)
    if (missing.isEmpty)
      (df.filter(pred), df.filter(!orFalse))
    else {
      val lookup = nonEmptyUnion2(
        labels.flatMap { l =>
          val schema = graph.vertices(l).columns.toSet
          val (have, lack) = missing.partition(schema.contains)
          // a label resolving NO referenced column contributes nothing:
          // the left join below null-fills its rows identically
          if (have.isEmpty) None
          else {
            val base = df.where(col(GC.Label) === l)
              .select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label)
            Some(graph.hydrate(base, GC.Id, l, have)
              .select(Seq(col(GC.Id), col(GC.Label)) ++
                missing.map(m => if (lack.contains(m)) lit(null).as(m) else col(m)): _*))
          }
        },
        df.select(Seq(col(GC.Id), col(GC.Label)) ++
          missing.map(m => lit(null).as(m)): _*).where(lit(false)))
      val own = df.columns.toSeq
      val withCols = df.join(lookup, Seq(GC.Id, GC.Label), "left")
      (withCols.filter(orFalse).select(own.map(col): _*),
       withCols.filter(!orFalse).select(own.map(col): _*))
    }
  }

  /** Arbitrary predicate over current columns (edge props after outE/inE). */
  def where(cond: Column): Step = copy(df = df.filter(cond))

  /** Gremlin `dedup()`. */
  def dedup(): Step = copy(df = df.dropDuplicates(GC.Id, GC.Label))

  /** Deterministic `order().by(label, id).limit(n)`. */
  def limit(n: Int): Step = copy(df = df.orderBy(GC.Label, GC.Id).limit(n))

  /** Gremlin `order().by(key)`: sort the frontier by a property value
    * (hydrated per label if the step no longer carries it), with a
    * (label, id) tie-break for determinism. Labels whose schema lacks
    * the key contribute no rows — the `has()` convention. All carried
    * columns (edge properties from outE/inE, the `_path` column) are
    * preserved: the hydrated key is joined BACK onto the frontier
    * rather than replacing it, and per-row multiplicity is untouched
    * (the key lookup is deduplicated before the join). */
  def orderBy(key: String, ascending: Boolean = true): Step = {
    val withKey = withKeyColumn(key)
    val k = if (ascending) col(key).asc else col(key).desc
    copy(df = withKey.orderBy(k, col(GC.Label).asc, col(GC.Id).asc))
  }

  /** Gremlin multi-key `order().by(a).by(b)...` — each `(key, asc)`
    * pair is one `by()` modulator, compared in order before the same
    * deterministic (label, id) tie-break as the single-key form. Keys
    * are hydrated per label exactly like [[orderBy]] (one back-join per
    * key the frontier no longer carries). */
  def orderBy(keys: (String, Boolean)*): Step = {
    require(keys.nonEmpty, "orderBy needs at least one (key, ascending) pair")
    val hydrated = keys.map(_._1).distinct
      .foldLeft(this)((s, k) => s.copy(df = s.withKeyColumn(k)))
    val order = keys.map { case (k, asc) => if (asc) col(k).asc else col(k).desc } ++
      Seq(col(GC.Label).asc, col(GC.Id).asc)
    copy(df = hydrated.df.orderBy(order: _*))
  }

  /** The frontier with `key` available as a column: as-is when still
    * carried, otherwise hydrated per label and joined back (preserving
    * multiplicity and every carried column — see [[orderBy]]). */
  private def withKeyColumn(key: String): DataFrame =
    if (df.columns.contains(key)) df
    else {
      val kept = labels.filter(l => graph.vertices(l).columns.contains(key))
      val keyLookup = nonEmptyUnion2(kept.map { l =>
        graph.hydrate(
          df.where(col(GC.Label) === l)
            .select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label),
          GC.Id, l, Seq(key))
      }, df.select(col(GC.Id), col(GC.Label)).where(lit(false))
        .withColumn(key, lit(null)))
      df.join(keyLookup, Seq(GC.Id, GC.Label))
    }

  /** Project property values — Gremlin `values(keys...)`. */
  def values(keys: String*): DataFrame = {
    if (keys.toSet.subsetOf(df.columns.toSet)) df.select(keys.map(col): _*)
    else {
      val parts = labels
        .filter(l => keys.toSet.subsetOf(graph.vertices(l).columns.toSet))
        .map { l =>
          graph.hydrate(df.where(col(GC.Label) === l).select(col(GC.Id), col(GC.Label)),
            GC.Id, l, keys).select(keys.map(col): _*)
        }
      nonEmptyUnion(parts)
    }
  }

  /** Gremlin `union(branch1, branch2, ...)`: every traverser flows into
    * each branch; outputs concatenate (multiplicity preserved; branches
    * may end at different labels — missing columns null-fill). */
  def union(branches: (Step => Step)*): Step = {
    require(branches.nonEmpty, "union needs at least one branch")
    val outs = branches.map(b => b(this))
    copy(
      df = unionBranches(outs.map(_.df)),
      labels = outs.flatMap(_.labels).distinct.sorted,
      captures = outs.foldLeft(captures)((a, o) => mergeCaptures(a, o.captures)))
  }

  /** Gremlin `optional(branch)`: a traverser is replaced by its branch
    * results when the branch produces any, and passes through unchanged
    * when it produces none (the left-join of traversal steps). Origin
    * tracking rides the capture machinery, so multi-hop branches work. */
  def optional(branch: Step => Step): Step = {
    val (out, missed) = branchSplit(branch)
    copy(
      df = unionBranches(Seq(out.df, missed)),
      labels = (out.labels ++ labels).distinct.sorted,
      captures = mergeCaptures(captures, out.captures))
  }

  /** Gremlin `coalesce(branch1, branch2, ...)`: each traverser takes the
    * FIRST branch that produces output for it; traversers matching no
    * branch are dropped. */
  def coalesce(branches: (Step => Step)*): Step = {
    require(branches.nonEmpty, "coalesce needs at least one branch")
    var remaining = this
    val outs = Seq.newBuilder[DataFrame]
    var accLabels = Seq.empty[String]
    var accCaptures = captures
    branches.foreach { b =>
      val (out, missed) = remaining.branchSplit(b)
      outs += out.df
      accLabels = (accLabels ++ out.labels).distinct
      accCaptures = mergeCaptures(accCaptures, out.captures)
      remaining = remaining.copy(df = missed)
    }
    copy(df = unionBranches(outs.result()), labels = accLabels.sorted,
      captures = accCaptures)
  }

  /** Gremlin `choose(pred, onTrue, onFalse)`: traversers satisfying the
    * predicate flow into the first branch, the rest into the second;
    * outputs concatenate. `pred` follows [[repeatUntil]]'s hydration
    * rules (property columns hydrate per label; labels that cannot
    * resolve a referenced column route to `onFalse`, and a null
    * evaluation is false — the has() convention). */
  def choose(pred: Column)(onTrue: Step => Step, onFalse: Step => Step): Step = {
    val (pass, fail) = partitionByPredicate(pred)
    val a = onTrue(copy(df = pass))
    val b = onFalse(copy(df = fail))
    copy(
      df = unionBranches(Seq(a.df, b.df)),
      labels = (a.labels ++ b.labels).distinct.sorted,
      captures = mergeCaptures(a.captures, b.captures))
  }

  /** Gremlin `not(branch)`: keep only traversers whose branch produces
    * NO output — the complement of [[optional]]'s covered set, i.e. a
    * per-origin-element anti-join. Carried columns and multiplicity of
    * the surviving input rows are untouched. */
  def not(branch: Step => Step): Step = copy(df = branchSplit(branch)._2)

  /** Gremlin `where(traversal)` — keep only traversers whose branch
    * produces at least one output: the per-origin SEMI-join, the
    * positive twin of [[not]] (`where(t)` ≡ `not(not(t))`,
    * BranchAlgebraSpec law). The traversal-valued filter form the
    * reference inherits from gremlin-core (`where(out("X"))`,
    * pom.xml:19-27). Carried columns and multiplicity of the surviving
    * input rows are untouched. The branch executes exactly ONCE (its
    * covered-origin set feeds one semi-join) — unlike [[optional]] /
    * [[choose]], which pay [[branchSplit]]'s double execution. */
  def where(branch: Step => Step): Step =
    copy(df = df.join(coveredOrigins(branch), Seq(GC.Id, GC.Label), "left_semi"))

  /** Gremlin `project(a, b, ...).by(subtraversal)...` — per ORIGIN
    * ELEMENT scalar subqueries: each [[Projection]] runs its branch from
    * the DISTINCT frontier elements, aggregates the branch output per
    * origin (count, or an aggregate over a property of the landed
    * elements), and the scalars left-join back onto every traverser row.
    * Result: `(label, id, field1, field2, ...)` — one row per input
    * traverser (multiplicity preserved: duplicated origins repeat with
    * identical scalars, the per-traverser Gremlin semantics).
    * Count projections zero-fill uncovered origins; aggregate
    * projections yield null (SQL scalar-subquery convention). Each
    * branch is one aggregation subplan — no per-element execution, no
    * driver loop. */
  def project(fields: Projection*): DataFrame = {
    require(fields.nonEmpty, "project needs at least one field")
    val names = fields.map(_.name)
    require(names.distinct == names, s"duplicate project field in $names")
    fields.foldLeft(df.select(col(GC.Label), col(GC.Id))) { (acc, field) =>
      val cap = s"${CapPrefix}__project${Step.nextBranchTag()}"
      val origins = copy(df = df
        .select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label)
        .withColumn(cap,
          struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))))
      val out = field.branch(origins)
      // aggregate over a landed property: hydrate it per label first
      val outDf = field.key.map(out.withKeyColumn).getOrElse(out.df)
      val scalar = outDf
        .groupBy(col(cap).getField("label").as(GC.Label),
          col(cap).getField("id").as(GC.Id))
        .agg(field.agg(field.key.map(col).getOrElse(lit(1))).as(field.name))
      val joined = acc.join(scalar, Seq(GC.Id, GC.Label), "left")
      if (field.zeroFill)
        joined.withColumn(field.name,
          org.apache.spark.sql.functions.coalesce(col(field.name), lit(0L)))
      else joined
    }
  }

  /** Gremlin `range(lo, hi)` — the deterministic slice [lo, hi) of the
    * frontier ordered by (label, id, fingerprint): duplicate (label, id)
    * rows with different carried values (captures, paths, edge
    * properties) tie-break on an xxhash64 fingerprint of the remaining
    * columns — a cheap fixed-width sort key that works for carried
    * columns of any hashable type, i.e. everything the DSL itself
    * carries; a user-added MapType column is rejected by xxhash64 (and
    * by exceptAll) at analysis (sorting by the columns themselves would
    * reject unorderable types and drag wide payloads through the top-k
    * comparator). `limit(n)` == `range(0, n)`.
    *
    * Both bounds are distributed top-k sorts (TakeOrdered — no window,
    * no single-partition shuffle, no driver materialization beyond
    * `hi` rows); the [lo, hi) slice is their MULTISET difference
    * (`exceptAll`), which subtracts the top-`lo` rows from the
    * top-`hi` rows with duplicate counting. Fully-identical duplicate
    * rows slice by count, exactly like the row-number formulation.
    * (A fingerprint collision between rows with different payloads
    * could in principle make the two top-k evaluations break that tie
    * differently — with 64-bit hashes the risk is negligible.) */
  def range(lo: Int, hi: Int): Step = {
    require(0 <= lo && lo <= hi, s"range needs 0 <= lo <= hi, got [$lo, $hi)")
    val rest = df.columns.filterNot(c => c == GC.Label || c == GC.Id).sorted
    // collision-proof temp name: a carried column literally named "_fp"
    // must not be overwritten by the fingerprint (it is a payload)
    val fp = s"_fp${Step.nextBranchTag()}"
    val keyed =
      if (rest.isEmpty) df.withColumn(fp, lit(0L))
      else df.withColumn(fp, xxhash64(rest.map(col): _*))
    val order = Seq(col(GC.Label), col(GC.Id), col(fp))
    val top = keyed.orderBy(order: _*).limit(hi)
    val sliced =
      if (lo == 0) top
      else top.exceptAll(keyed.orderBy(order: _*).limit(lo))
    copy(df = sliced.drop(fp))
  }

  /** Gremlin `local(branch.range(lo, hi))` — the per-ORIGIN scoped
    * slice: run the branch from each frontier element and keep each
    * origin's [lo, hi) branch outputs in the deterministic
    * (label, id, payload-fingerprint) order [[range]] uses
    * (`local(out().limit(2))` == `localRange(0, 2)(_.out())`). One
    * window partitioned BY ORIGIN — ~fan-out rows per partition, never
    * a global sort; the distributed shape of TinkerPop's per-traverser
    * local scope. `local(count())`-style aggregations are [[project]];
    * this is the slicing form project cannot express. */
  def localRange(lo: Int, hi: Int)(branch: Step => Step): Step = {
    require(0 <= lo && lo <= hi, s"localRange needs 0 <= lo <= hi, got [$lo, $hi)")
    val cap = s"${CapPrefix}__local${Step.nextBranchTag()}"
    val tagged = copy(df = df.withColumn(cap,
      struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))))
    val out = branch(tagged)
    val rest = out.df.columns.filterNot(c => c == GC.Label || c == GC.Id || c == cap).sorted
    val fp = s"_fp${Step.nextBranchTag()}"
    val keyed =
      if (rest.isEmpty) out.df.withColumn(fp, lit(0L))
      else out.df.withColumn(fp, xxhash64(rest.map(col).toSeq: _*))
    val rn = s"_rn${Step.nextBranchTag()}"
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(cap))
      .orderBy(col(GC.Label), col(GC.Id), col(fp))
    out.copy(df = keyed.withColumn(rn, row_number().over(w))
      .where(col(rn) > lo && col(rn) <= hi).drop(rn, fp, cap))
  }

  /** `local(branch.limit(n))`: [[localRange]] from 0. */
  def localLimit(n: Int)(branch: Step => Step): Step = localRange(0, n)(branch)

  /** Gremlin `simplePath()`: drop traversers whose recorded path visits
    * any element twice. Requires [[withPath]]. */
  def simplePath(): Step = {
    require(df.columns.contains(PathCol), "call withPath() before simplePath()")
    copy(df = df.where(size(array_distinct(col(PathCol))) === size(col(PathCol))))
  }

  /** Gremlin `cyclicPath()`: the complement of [[simplePath]]. */
  def cyclicPath(): Step = {
    require(df.columns.contains(PathCol), "call withPath() before cyclicPath()")
    copy(df = df.where(size(array_distinct(col(PathCol))) < size(col(PathCol))))
  }

  /** Run `branch` with an origin capture attached; return (branch output
    * with the capture dropped, input rows whose origin produced no
    * branch output). The split is per ORIGIN ELEMENT (id, label) — a
    * multiplicity-bearing input row passes through with its carried
    * columns intact when uncovered.
    *
    * Cost note: the branch subplan appears TWICE in the composed plan
    * (its output, and the covered-origin set feeding the anti-join).
    * This is deliberate — steps stay lazy plan builders with zero
    * actions, and Spark's ReuseExchange dedupes the shuffle where the
    * subtrees match; for a very expensive branch, materialize the step
    * (`localCheckpoint`) before branching if double execution matters. */
  private def branchSplit(branch: Step => Step): (Step, DataFrame) = {
    val cap = s"${CapPrefix}__origin${Step.nextBranchTag()}"
    val tagged = copy(df = df.withColumn(cap,
      struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))))
    val out = branch(tagged)
    val covered = out.df.select(
      col(cap).getField("id").as(GC.Id),
      col(cap).getField("label").as(GC.Label)).distinct()
    val missed = df.join(covered, Seq(GC.Id, GC.Label), "left_anti")
    (out.copy(df = out.df.drop(cap)), missed)
  }

  /** The distinct (id, label) origin elements whose `branch` produces
    * at least one output — [[branchSplit]]'s covered set without the
    * branch output (for [[where]]'s semi-join). */
  private def coveredOrigins(branch: Step => Step): DataFrame = {
    val cap = s"${CapPrefix}__origin${Step.nextBranchTag()}"
    val tagged = copy(df = df.withColumn(cap,
      struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))))
    branch(tagged).df.select(
      col(cap).getField("id").as(GC.Id),
      col(cap).getField("label").as(GC.Label)).distinct()
  }

  /** Gremlin `match(pattern...)` — the declarative pattern-matching
    * step from the inherited step library (`pom.xml:19-27`). Each
    * [[MatchPattern]] names its start and end variable and the
    * traversal between them; a solution is an assignment of graph
    * elements to variables satisfying EVERY pattern. This step's
    * frontier seeds `seedVar`. Returns one `struct<label, id>` column
    * per variable, one row per DISTINCT solution (TinkerPop's solver
    * semantics, computed as the natural join of per-pattern binding
    * frames instead of its per-traverser enumerator — each pattern is
    * ONE subplan seeded from the candidates bound so far, and Catalyst
    * orders/broadcasts the joins). Bindings of a point-rooted seed keep
    * the mark on their `id` field ([[as]]), so each pattern's hops
    * broadcast the candidates.
    *
    * Patterns must be listed so each one's start variable is already
    * bound (by the seed or an earlier pattern's end) — the explicit
    * form of the ordering TinkerPop's match solver infers. A pattern
    * whose END variable is also already bound closes a cycle: the join
    * keeps only solutions where both bindings agree. */
  def matchAll(seedVar: String, patterns: MatchPattern*): DataFrame = {
    require(patterns.nonEmpty, "match needs at least one pattern")
    var bound = Map(seedVar -> labels)
    var solutions = df.select(element(df).as(seedVar)).distinct()
    patterns.foreach { p =>
      require(bound.contains(p.from),
        s"match pattern '${p.from}'->'${p.to}': start variable '${p.from}' " +
          "is unbound — order patterns so each start is the seed or an " +
          "earlier pattern's end")
      val cap = s"${CapPrefix}__match${Step.nextBranchTag()}"
      val seed = solutions
        .select(col(p.from).getField("id").as(GC.Id),
          col(p.from).getField("label").as(GC.Label))
        .distinct()
      val tagged = Step(graph, seed.withColumn(cap, element(seed)), bound(p.from))
      val out = p.branch(tagged)
      val pairs = out.df.select(col(cap).as(p.from), element(out.df).as(p.to)).distinct()
      solutions = solutions.join(pairs,
        solutions.columns.intersect(pairs.columns).toSeq)
      bound += (p.to ->
        (bound.getOrElse(p.to, Seq.empty) ++ out.labels).distinct.sorted)
    }
    solutions
  }

  /** Gremlin `valueMap(keys...)`-style projection: (label, id, keys...)
    * — [[values]] keeping element identity. Labels whose schema lacks a
    * key contribute no rows (the `has()` convention). */
  def valueMap(keys: String*): DataFrame = {
    val want = Seq(GC.Label, GC.Id) ++ keys
    if (keys.toSet.subsetOf(df.columns.toSet)) df.select(want.map(col): _*)
    else {
      val parts = labels
        .filter(l => keys.toSet.subsetOf(graph.vertices(l).columns.toSet))
        .map { l =>
          graph.hydrate(df.where(col(GC.Label) === l).select(col(GC.Id), col(GC.Label)),
            GC.Id, l, keys).select(want.map(col): _*)
        }
      nonEmptyUnion2(parts,
        df.select(col(GC.Id), col(GC.Label)).where(lit(false))
          .select(Seq(col(GC.Label), col(GC.Id)) ++ keys.map(k => lit(null).as(k)): _*))
    }
  }

  /** Gremlin `as(name)`: label the current position so a later
    * [[select]] can jump back to it (or project it). The capture is a
    * `struct<label, id>` column that rides every subsequent expansion
    * alongside `_path` — per traverser, like the reference's inherited
    * TinkerPop path engine. Re-using a name overwrites the capture
    * (TinkerPop's last-wins convention). A point-rooted position's
    * capture keeps the mark on its `id` field, so ids read back from it
    * ([[select]], `getField("id")`) are point-rooted too. */
  def as(name: String): Step =
    copy(df = df.withColumn(s"$CapPrefix$name", element(df)),
      captures = captures + (name -> labels))

  /** `frame`'s current element as the `struct<label, id>` of a capture
    * or a match binding; a point-rooted `_vid`'s mark rides on `id`. */
  private def element(frame: DataFrame): Column = {
    val mark =
      if (PropertyGraph.isPointRooted(frame, GC.Id)) PropertyGraph.PointRooted
      else org.apache.spark.sql.types.Metadata.empty
    struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id", mark))
  }

  /** Gremlin `select(name)`: move each traverser back to its capture.
    * Multiplicity is per-traverser (a customer captured before a 3-order
    * fan-out comes back 3 times — `dedup()` for set semantics). Carried
    * columns (`_path`, other captures) survive; edge-property columns
    * from the abandoned position do not. A capture of a point-rooted
    * position ([[as]]) gives back a point-rooted frontier. */
  def select(name: String): Step = {
    val cap = s"$CapPrefix$name"
    require(df.columns.contains(cap), s"""no as("$name") capture in scope""")
    val keepCarried = df.columns.filter(isCarried).toSeq.map(col)
    // Traversers without the capture (e.g. rows from a union branch
    // that never passed as(name) — null-filled by unionByName) are
    // DROPPED, matching Gremlin select semantics.
    copy(
      df = df.where(col(cap).isNotNull)
        .select(Seq(col(cap).getField("id").as(GC.Id),
          col(cap).getField("label").as(GC.Label)) ++ keepCarried: _*),
      labels = captures.getOrElse(name, graph.vertexLabels))
  }

  /** Gremlin `select(a, b, ...)` (terminal): one row per traverser, one
    * `struct<label, id>` column per named capture. Traversers missing
    * any requested capture are dropped (Gremlin semantics). */
  def select(first: String, second: String, rest: String*): DataFrame = {
    val names = first +: second +: rest
    names.foreach(n => require(df.columns.contains(s"$CapPrefix$n"),
      s"""no as("$n") capture in scope"""))
    df.where(names.map(n => col(s"$CapPrefix$n").isNotNull).reduce(_ && _))
      .select(names.map(n => col(s"$CapPrefix$n").as(n)): _*)
  }

  /** Gremlin `count()`. */
  def count(): Long = df.count()

  /** Gremlin `values(key).sum()/mean()/min()/max()` — property
    * aggregation terminals. The key hydrates per label like [[values]]
    * (labels lacking it contribute no rows), and multiplicity counts:
    * a vertex reached by three traversers contributes three times,
    * matching the inherited traverser semantics. */
  def sumValue(key: String): DataFrame =
    values(key).agg(sum(col(key)).as("sum"))
  def meanValue(key: String): DataFrame =
    values(key).agg(avg(col(key)).as("mean"))
  def minValue(key: String): DataFrame =
    values(key).agg(min(col(key)).as("min"))
  def maxValue(key: String): DataFrame =
    values(key).agg(max(col(key)).as("max"))

  /** Gremlin `groupCount()` by (label, id) over the frontier. */
  def groupCount(): DataFrame =
    df.groupBy(col(GC.Label), col(GC.Id))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))

  /** Gremlin `groupCount().by(key)`: frontier multiplicity per property
    * VALUE (the key hydrates per label like [[orderBy]]; labels lacking
    * it contribute no rows — the has() convention). */
  def groupCount(key: String): DataFrame =
    withKeyColumn(key).groupBy(col(key))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))

  /** Gremlin `dedup().by(key)`: ONE traverser per distinct property
    * value. TinkerPop keeps the first traverser encountered — an
    * order-of-arrival accident; the deterministic batch form keeps the
    * (label, id)-smallest traverser of each value so reruns and
    * repartitionings agree. Carried columns of the kept traverser
    * survive. */
  def dedupBy(key: String): Step = {
    val rn = s"_rn${Step.nextBranchTag()}"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(GC.Label), col(GC.Id))
    copy(df = withKeyColumn(key)
      .withColumn(rn, row_number().over(w)).where(col(rn) === 1).drop(rn))
  }

  /** Gremlin `group().by(key)` (terminal): frontier elements grouped by
    * a property value (hydrated if no longer carried), one row per key
    * with the sorted member list and its size. The member list
    * materializes per group — the Gremlin contract; for skew-safe
    * counting at corpus scale use [[groupCount]] or aggregate over
    * `toDF` instead. */
  def group(key: String): DataFrame =
    withKeyColumn(key).groupBy(col(key))
      .agg(
        sort_array(collect_list(
          struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))))
          .as("members"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Gremlin `aggregate(key)` — the eager barrier collect from the
    * inherited side-effect step library (`pom.xml:19-27`): register the
    * frontier's DISTINCT elements as the side-effect collection `key`,
    * then continue unchanged. The collection stays a DataFrame — when a
    * later [[whereWithin]]/[[whereWithout]] consumes it, the filter is
    * one (broadcastable when small) semi-join in the SAME plan, never a
    * driver-side materialization. Registrations ride the main chain;
    * one made inside a union/coalesce/optional branch is local to that
    * branch. */
  def aggregate(key: String): Step =
    copy(sideEffects = sideEffects + (key ->
      (df.select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label),
        labels)))

  /** Gremlin `store(key)` — TinkerPop's LAZY variant of [[aggregate]].
    * In a lazy plan builder the distinction vanishes: every consumer
    * sees the complete collection at action time either way, so this is
    * an alias kept for API parity. */
  def store(key: String): Step = aggregate(key)

  /** Gremlin `cap(key)`: continue FROM the side-effect collection — its
    * elements become the frontier (the `cap("x").unfold()` idiom in one
    * step). Carried columns and captures of the abandoned position
    * drop; registered side effects stay in scope. */
  def cap(key: String): Step = {
    val (set, ls) = namedSideEffect(key)
    copy(df = set, labels = ls)
  }

  /** The side-effect collection registered under `key`, as a
    * (id, label) DataFrame — the cross-traversal hook: pass it to
    * another chain's [[whereWithin]]/[[whereWithout]] (Gremlin reuses
    * collections across traversals through the bound variable). */
  def sideEffect(key: String): DataFrame = namedSideEffect(key)._1

  /** Gremlin `where(within(key))`: keep traversers whose CURRENT element
    * is in the side-effect collection — one semi-join. */
  def whereWithin(key: String): Step = whereWithin(sideEffect(key))

  /** [[whereWithin]] over an explicit element set (a [[sideEffect]]
    * from another traversal, or any (id, label) frame). */
  def whereWithin(set: DataFrame): Step =
    copy(df = df.join(
      set.select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label),
      Seq(GC.Id, GC.Label), "left_semi"))

  /** Gremlin `where(without(key))`: the anti twin of [[whereWithin]]. */
  def whereWithout(key: String): Step = whereWithout(sideEffect(key))

  /** [[whereWithout]] over an explicit element set. */
  def whereWithout(set: DataFrame): Step =
    copy(df = df.join(
      set.select(col(GC.Id), col(GC.Label)).dropDuplicates(GC.Id, GC.Label),
      Seq(GC.Id, GC.Label), "left_anti"))

  /** Gremlin `subgraph()` re-expressed: the subgraph induced by the
    * CURRENT frontier's element set, as a full [[PropertyGraph]] —
    * traverse it with `G(...)`, persist it with `GraphLoader.persist`/
    * `persistBucketed`. TinkerPop's step is edge-induced (it collects
    * the traversed edges into a driver-held graph); the batch form
    * keeps every edge between surviving vertices — the
    * neighborhood-extraction contract, with no driver materialization
    * (see [[graft.graph.PropertyGraph.inducedSubgraph]]). */
  def subgraph(materialize: Boolean = false): graft.graph.PropertyGraph =
    graph.inducedSubgraph(df, materialize)

  /** TinkerPop `connectedComponent()` (GraphComputer step) — annotate
    * each frontier element with its component representative over the
    * graph's undirected edge set (restricted to `edgeLabels` when
    * given): the whole-graph component map is computed once
    * ([[graft.analytics.Iterative.connectedComponents]], the
    * DataFrame-native min-label supersteps) and joined back — adds
    * `component_label`/`component_id` columns. The representative is
    * the packed-smallest member, so reruns agree; TinkerPop writes an
    * arbitrary cluster id. */
  def componentId(edgeLabels: String*): Step = {
    val comp = graft.analytics.Iterative
      .connectedComponents(graph, edgeLabels.toSet)
      .withColumnRenamed("label", GC.Label)
    copy(df = df.join(comp, Seq(GC.Label, GC.Id), "left"))
  }

  /** TinkerPop `peerPressure()` (GraphComputer step) — annotate each
    * frontier element with its community under deterministic
    * synchronous label propagation
    * ([[graft.analytics.Iterative.labelPropagation]]; most-frequent
    * neighbor label, ties to the smallest — reruns agree where
    * TinkerPop/GraphX keep an iteration-order accident). Adds
    * `community_label`/`community_id` columns. */
  def community(iters: Int, edgeLabels: String*): Step = {
    val comm = graft.analytics.Iterative
      .labelPropagation(graph, iters, edgeLabels.toSet)
      .withColumnRenamed("label", GC.Label)
    copy(df = df.join(comm, Seq(GC.Label, GC.Id), "left"))
  }

  /** TinkerPop `pageRank()` (GraphComputer step) — annotate each
    * frontier element with its rank (damping 0.85, `iters` fixed power
    * iterations over the stored edge directions, GraphX
    * `staticPageRank` semantics) via
    * [[graft.analytics.Iterative.pageRank]], the DataFrame-native
    * superstep form. Adds a `rank` column. */
  def pageRank(iters: Int, edgeLabels: String*): Step = {
    val pr = graft.analytics.Iterative
      .pageRank(graph, iters, edgeLabels.toSet)
      .withColumnRenamed("label", GC.Label)
    copy(df = df.join(pr, Seq(GC.Label, GC.Id), "left"))
  }

  /** Gremlin `coin(p)` — deterministic per-ELEMENT form: an element's
    * traversers all survive or all drop (seeded hash of (label, id) vs
    * p), so the sample is reproducible under any partitioning, retry,
    * or rerun — `ext.Sampling.hashSample`'s discipline applied to
    * frontiers. TinkerPop's per-traverser randomness is not
    * reproducible in a distributed engine and would break the oracle
    * gate. */
  def coin(p: Double, seed: Long = 42L): Step = {
    require(p >= 0 && p <= 1, s"coin needs p in [0, 1], got $p")
    copy(df = df.where(
      pmod(xxhash64(col(GC.Label), col(GC.Id), lit(seed)), lit(1000000L)) <
        lit(math.round(p * 1000000L))))
  }

  /** Gremlin `sample(n)`: n deterministic traversers — the top-n of a
    * seeded hash over (label, id, carried payload), a distributed
    * top-k like [[range]] (TakeOrdered: no window, no single-partition
    * sort, at most n rows reach the driver side of the plan). */
  def sample(n: Int, seed: Long = 42L): Step = {
    require(n >= 0, s"sample needs n >= 0, got $n")
    val h = s"_h${Step.nextBranchTag()}"
    val rest = df.columns.filterNot(c => c == GC.Label || c == GC.Id).sorted
    val keyed = df.withColumn(h,
      xxhash64(Seq(col(GC.Label), col(GC.Id), lit(seed)) ++ rest.map(col): _*))
    copy(df = keyed.orderBy(col(h)).limit(n).drop(h))
  }

  private def namedSideEffect(key: String): (DataFrame, Seq[String]) = {
    require(sideEffects.contains(key),
      s"""no aggregate("$key")/store("$key") in scope""")
    sideEffects(key)
  }

  /** Gremlin `tree()` (side-effect barrier over recorded paths): the
    * traversal tree in RELATIONAL form — one row per observed
    * parent→child step across all paths, tagged with its depth (the
    * root edge is depth 0) and the number of traversers that walked it.
    * TinkerPop returns a nested driver-side map; the edge-set form is
    * the same information kept distributed (group by `parent` to
    * recover children lists). Requires [[withPath]]. */
  def tree(): DataFrame = {
    require(df.columns.contains(PathCol), "call withPath() before tree()")
    val parents = slice(col(PathCol), lit(1), size(col(PathCol)) - 1)
    val children = slice(col(PathCol), lit(2), size(col(PathCol)) - 1)
    df.select(posexplode(zip_with(parents, children,
        (p, c) => struct(p.as("parent"), c.as("child")))))
      .groupBy(col("pos").as("depth"), col("col.parent").as("parent"),
        col("col.child").as("child"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_traversers"))
  }

  /** Start recording traversal paths — Gremlin `path()` needs every step
    * from here on to carry its history. The path is a
    * `array<struct<label, id>>` column maintained by each expansion. */
  def withPath(): Step = copy(df = df.withColumn(PathCol,
    array(struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id")))))

  /** Gremlin `withSack(init)`: attach a per-traverser accumulator that
    * rides every subsequent expansion/branch like `_path` and the
    * `as()` captures (the inherited sack machinery,
    * `pom.xml:19-27`). Splitting traversers (fan-out joins) COPY the
    * sack — TinkerPop's default splitOperator — and each copy then
    * accumulates independently. For exact aggregation downstream,
    * initialize with a DECIMAL (the q15 rule), not a float. */
  def withSack(init: Column): Step =
    copy(df = df.withColumn(Step.SackCol, init))

  /** Gremlin `sack(op).by(...)`: update each traverser's sack from its
    * current position — `f` receives the sack column and may reference
    * any frontier column (edge properties after `outE`/`inE`, vertex
    * properties still carried). One projection, codegen'd; no shuffle. */
  def modifySack(f: Column => Column): Step = {
    require(df.columns.contains(Step.SackCol), "call withSack() before modifySack()")
    copy(df = df.withColumn(Step.SackCol, f(col(Step.SackCol))))
  }

  /** Terminal Gremlin `sack()`: one row per traverser —
    * `(label, id, sack)`. */
  def sack(): DataFrame = {
    require(df.columns.contains(Step.SackCol), "call withSack() before sack()")
    df.select(col(GC.Label), col(GC.Id), col(Step.SackCol).as("sack"))
  }

  /** The recorded paths (call after `withPath()` + expansions):
    * one row per traverser, `path` = the visited (label, id) chain. */
  def paths(): DataFrame = {
    require(df.columns.contains(PathCol), "call withPath() before paths()")
    df.select(col(PathCol).as("path"))
  }

  /** Gremlin `path().by(key)`: the recorded paths projected through a
    * property — each element becomes its `key` value as a STRING
    * (hydrated per label; an element whose label lacks the key projects
    * null, the valueMap convention; the cast is what lets differently
    * typed per-label values share one array). Identical projected paths
    * aggregate with a multiplicity count — the relational form of
    * one-path-per-traverser, computed over DISTINCT paths so the
    * element hydration joins touch each unique path once. Output:
    * (path_values: array<string>, n_traversers). Requires
    * [[withPath]]. */
  def pathsBy(key: String): DataFrame = {
    require(df.columns.contains(PathCol), "call withPath() before pathsBy()")
    val counted = df.groupBy(col(PathCol))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_traversers"))
    val exploded = counted
      .select(col(PathCol), col("n_traversers"),
        posexplode(col(PathCol)).as(Seq("_pos", "_el")))
      .select(col(PathCol), col("n_traversers"), col("_pos"),
        col("_el").getField("label").as("_pl"), col("_el").getField("id").as("_pi"))
    val kept = graph.vertexLabels.filter(l => graph.vertices(l).columns.contains(key))
    val lookup = nonEmptyUnion2(kept.map { l =>
      graph.vertices(l).select(lit(l).as("_ll"), col(GC.Id).cast("bigint").as("_li"),
        col(key).cast("string").as("_lv"))
    }, exploded.select(col("_pl").as("_ll"), col("_pi").as("_li"),
      lit(null).cast("string").as("_lv")).where(lit(false)))
    exploded
      .join(lookup, col("_pl") === col("_ll") && col("_pi") === col("_li"), "left")
      .groupBy(col(PathCol), col("n_traversers"))
      .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_lv")))),
        s => s.getField("_lv")).as("path_values"))
      .select(col("path_values"), col("n_traversers"))
  }

  /** TinkerPop `shortestPath()` — the GraphComputer step from the
    * inherited library (`/root/reference/pom.xml:19-27`) in its
    * PATH-returning form. [[graft.analytics.GraphXBridge.hopDistances]]
    * is the distance map (q26); this enumerates the shortest paths
    * themselves, per ORIGIN in the current frontier. BFS supersteps
    * (the [[untilFixpoint]] closure: one distributed join + cut per
    * level) over a per-origin visited set that carries every reached
    * row with its level and is itself the result; BFS
    * first-reach level == distance, so every surviving row's path is
    * shortest by construction, and prefixes of shortest paths are
    * shortest — expanding only the surviving rows loses nothing.
    *
    * `all = false` (default) keeps ONE deterministic representative per
    * (origin, vertex) — the id-sequence-smallest path, so reruns agree
    * under any partitioning — sized like the distance map: the scale
    * path for bounded origin sets. `all = true` keeps EVERY shortest
    * path (TinkerPop's contract); row multiplicity per (origin, vertex)
    * IS the shortest-path count. Path counts on dense graphs are
    * exponential-by-contract; `maxDepth` is the bound (the e04/e20
    * discipline, BASELINE.md). Parallel stored edges count separately,
    * exactly as [[both]] expands them.
    *
    * Output: (src_label, src_id, dst_label, dst_id, dist,
    * path: array<struct<label,id>>), origins included at dist 0.
    * Level frames are pruned to (element, origin, path) before each
    * checkpoint; the representative window partitions by
    * (origin, vertex) — fan-in-sized partitions, never a global
    * sort. */
  def shortestPaths(maxDepth: Int, all: Boolean = false)(hop: Step => Step): DataFrame = {
    require(maxDepth >= 1, s"shortestPaths needs maxDepth >= 1, got $maxDepth")
    val tag = Step.nextBranchTag()
    val src = s"${CapPrefix}__sp$tag"
    val self = struct(col(GC.Label).as("label"), col(GC.Id).cast("bigint").as("id"))
    val seed = unrooted.df.select(col(GC.Label), col(GC.Id))
      .dropDuplicates(GC.Label, GC.Id)
      .withColumn(src, self).withColumn(PathCol, array(self))
      .localCheckpoint()
    val keys = Seq(src, GC.Label, GC.Id)
    val narrow = Seq(col(GC.Label), col(GC.Id), col(src), col(PathCol))
    // the visited set IS the result: every reached row, tagged with its
    // level, so no level frame outlives its round
    val level0 = seed.withColumn(Step.DepthCol, lit(0))
    var front = copy(df = seed)
    val (reached, _) = Supersteps.closure(level0, maxDepth,
        Supersteps.Bounded) { (delta, visited, d) =>
      val next = hop(front.copy(df = delta.drop(Step.DepthCol)))
      front = next
      val freshAll = next.df.select(narrow: _*)
        .join(visited.select(keys.map(col): _*), keys, "left_anti")
      val fresh =
        if (all) freshAll
        else {
          val rn = s"_rn$tag"
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(src), col(GC.Label), col(GC.Id))
            .orderBy(transform(col(PathCol), e => e.getField("id")),
              transform(col(PathCol), e => e.getField("label")))
          freshAll.withColumn(rn, row_number().over(w))
            .where(col(rn) === 1).drop(rn)
        }
      fresh.withColumn(Step.DepthCol, lit(d))
    }
    if (!(reached eq level0)) Supersteps.release(seed)
    reached
      .select(col(src).getField("label").as("src_label"),
        col(src).getField("id").as("src_id"),
        col(GC.Label).as("dst_label"), col(GC.Id).cast("bigint").as("dst_id"),
        col(Step.DepthCol).cast("long").as("dist"), col(PathCol).as("path"))
  }

  /** Current frontier as (id, label[, eprops]) DataFrame. */
  def toDF: DataFrame = df

  /** This step without the point-rooted mark — where a loop step starts,
    * since its output is not a fixed number of hops from the ids. */
  private def unrooted: Step = copy(df = PropertyGraph.unmarked(df))

  private val PathCol = "_path"
  private val CapPrefix = "_as_"
  private def isCarried(c: String): Boolean =
    c == PathCol || c == Step.DepthCol || c == Step.SackCol ||
      c.startsWith(CapPrefix)

  /** Merge capture registries from parallel branches: when BOTH sides
    * registered the same name, the label sets UNION — last-wins (the
    * linear-chain `as()` rule) would under-approximate the frontier a
    * later select(name) can hold and silently drop label-pruned rows. */
  private def mergeCaptures(a: Map[String, Seq[String]],
      b: Map[String, Seq[String]]): Map[String, Seq[String]] =
    (a.keySet ++ b.keySet).map { k =>
      k -> (a.getOrElse(k, Nil) ++ b.getOrElse(k, Nil)).distinct.sorted
    }.toMap

  /** `unionByName` of branch frontiers. Spark's Union keeps the FIRST
    * child's column metadata, so the point-rooted mark is kept only when
    * every branch carries it (a branch through a loop step does not). */
  private def unionBranches(dfs: Seq[DataFrame]): DataFrame = {
    val u = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    if (dfs.forall(PropertyGraph.isPointRooted(_, GC.Id))) u else PropertyGraph.unmarked(u)
  }

  private def nonEmptyUnion(parts: Seq[DataFrame]): DataFrame =
    if (parts.isEmpty) df.where(lit(false)) // empty result, same schema
    else parts.reduce(_.unionByName(_))

  /** [[nonEmptyUnion]] with an explicit empty-case frame (for unions
    * whose schema differs from the step's own `df`). */
  private def nonEmptyUnion2(parts: Seq[DataFrame], empty: => DataFrame): DataFrame =
    if (parts.isEmpty) empty
    else parts.reduce(_.unionByName(_))
}

/** One pattern of [[Step.matchAll]] — Gremlin
  * `as(from).<traversal>.as(to)` inside `match()`: `branch` is the
  * traversal between the two variables. */
final case class MatchPattern(from: String, to: String, branch: Step => Step)

/** One projected field of [[Step.project]] — a Gremlin `by(subtraversal)`
  * modulator: run `branch` from each origin element and reduce its output
  * to ONE scalar. Build with the [[Projection$ companion]] constructors. */
final case class Projection private (
    name: String,
    branch: Step => Step,
    agg: Column => Column,
    key: Option[String],
    zeroFill: Boolean)

object Projection {
  import org.apache.spark.sql.functions.{count => fCount}

  /** `project(name).by(branch.count())`: the number of branch outputs
    * per origin element, 0 when the branch produces none. */
  def count(name: String)(branch: Step => Step): Projection =
    Projection(name, branch, fCount, None, zeroFill = true)

  /** `project(name).by(branch.values(key).agg(...))`: an aggregate
    * (max/min/sum/first...) of a property of the branch's landed
    * elements, hydrated per label; null when the branch produces none
    * (labels lacking the key contribute no rows — the has()
    * convention). */
  def agg(name: String, key: String, agg: Column => Column)(
      branch: Step => Step): Projection =
    Projection(name, branch, agg, Some(key), zeroFill = false)
}

object Step {
  /** Depth tag emitted by [[Step.repeatEmit]] — the Gremlin `loops()`
    * value of each emitted frontier row. Carried through subsequent
    * expansions (constant once emitted); a nested repeatEmit overwrites
    * it with its own depths. */
  val DepthCol = "_depth"

  /** Per-traverser sack accumulator column ([[Step.withSack]]). */
  val SackCol = "_sack"

  /** Unique suffix for internal origin captures — nested
    * optional/coalesce branches must not collide. Plan-construction
    * state only (never evaluated on executors). */
  private val branchTags = new java.util.concurrent.atomic.AtomicLong
  private def nextBranchTag(): Long = branchTags.incrementAndGet()
}
