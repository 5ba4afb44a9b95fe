package graft

/** Automated plan audit over EVERY SparkEntry query — the "iterate until
  * it's the plan you'd want" discipline as a regression gate instead of
  * a manual Explain pass:
  *
  *  - no CartesianProduct anywhere (a quadratic plan is never intended);
  *  - no BroadcastNestedLoopJoin outside the whitelisted queries whose
  *    broadcast side is a bounded literal set (ANN query vectors, IVF
  *    probe assignment) — for those the NLJ is the right plan at any
  *    corpus scale because the small side is constant-bounded;
  *  - point lookups push their id filters into the parquet scan.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries where a BroadcastNestedLoopJoin is the intended plan:
    * the broadcast side is a constant-bounded query/centroid set — or,
    * for the SNB fixture queries, the ONE-ROW person-count aggregate the
    * knows-edge generator joins in (Catalyst constant-folds the `_one`
    * equi-key away; a 1-row broadcast NLJ streams the probe side
    * untouched, linear at any scale). */
  // (q33 is NOT here: its 1-row-count NLJ runs inside the superstep
  // checkpoints, so the final unroll plan contains no NLJ at all.)
  // e43 composes bruteForceTopK, so it carries e06's query-vector NLJ;
  // e47's NLJ is the k-centroid broadcast of its k-means assignment
  // (the e23/e32 class — k rows against the corpus, linear)
  // e52/e54 broadcast ONE-ROW corpus totals (gram/token counts) onto
  // the stream for fixed-point normalization; e53 broadcasts the
  // ONE-ROW per-dim range frame for encoding — all 1-row NLJs that
  // stream the probe side untouched, linear at any scale. (q51 is NOT
  // here: its per-round 1-row renorm joins run inside the superstep
  // checkpoints, so the final plan contains no NLJ — the q33 class.)
  // e57 carries e06's query-anchor broadcast NLJ (|Q| rows against the
  // corpus — the brute-force scoring class)
  // e60 broadcasts the ONE-ROW doc/token totals onto the postings
  // stream for the fixed-point idf/avgdl normalization (the e52 class)
  // (e63 is NOT here: its 1-row cost-total NLJs all run inside the
  // per-round superstep checkpoints, so the final plan has none — the
  // q33/q51 class. e64 IS here: its APPLY pass computes piece costs
  // from the checkpointed vocabulary in the live plan, so the 1-row
  // count-total broadcast survives — the e52 class.)
  // e66 broadcasts the LITERAL six-row threshold list onto the margins
  // for the confusion sweep — constant-bounded by construction
  // e72 composes ALL FIVE ANN pipelines, so it carries every bounded
  // query/centroid broadcast of the e06/e23/e48/e53/e56 class; e73
  // broadcasts its md5-selected query-token vectors over the trained
  // vocabulary (the e06 class on LEARNED vectors)
  // e67 broadcasts the ONE-ROW token total for the fixed-point phrase
  // ratio (the e52/e60 class); e69/e70 broadcast the ONE-ROW
  // vocabulary count / mass totals for the negative-draw modulus
  // (same class; e70's interval RESOLUTION is a banded equi-join)
  // e92 shares e60's BM25 scoring stage, so it carries the same
  // 1-row corpus-total broadcasts (the e52/e60 class)
  // e96 carries e60's 1-row corpus-total broadcasts inside its memoized
  // BM25/dense rank builds, plus the four 1-row scoreboard-count
  // broadcasts (n_queries/n_relevant/hits/mrr_fp — the e66/e83 class)
  // e98 embeds e89's two 1-row broadcasts (pool mean, weight sum) and
  // adds its own 1-row max-density broadcast onto the source-cardinality
  // threshold frame (the e82 class)
  private val intendedNlj = Set("e06_knn_cosine", "e23_knn_ivf", "e32_media_ivf",
    "e60_bm25", "e92_hard_negatives",
    "e96_retrieval_scoreboard", "e98_doremi_mix",
    "e64_unigram_tokenize", "e66_classifier_eval", "e67_phrases",
    "e69_skipgram_pairs", "e70_skipgram_weighted", "e72_ann_recall_harness",
    "e73_glove_knn",
    // (e47 left this list in round 16: the k-centroid argmax assignment
    // is now ROW-LOCAL — Similarity.bestCellStruct scores collected
    // centroid literals, so no broadcast join of any kind remains; the
    // same change removed the NLJs from e80/e95/e109/e116/e117/e123/
    // e124, the whole trained-quantizer class.)
    "e43_ann_recall", "e52_dsir_select", "e53_knn_sq8",
    "e54_surprisal", "e57_hard_triplets", "q25_snb_fof", "q27_bothe",
    // e74's dense side is the e06 shape (tiny query set broadcast onto
    // the candidate scan under a non-equi self-exclusion predicate);
    // e75/e77 carry the e54-class 1-row corpus-total broadcast (e78
    // left this list when it switched to the MEMOIZED e75 scorer — the
    // checkpointed frame has no in-plan total broadcast any more)
    "e74_hybrid_rrf", "e75_bigram_lm", "e77_domain_shift",
    // e101: the e75-class 1-row broadcast (the continuation-type total
    // B under the KN unigram level); e104: the e86-class bounded
    // triangular join over the bucket histogram inside globalRank
    // (|buckets|² rows — the price of NOT global-sorting the corpus)
    "e101_kn_trigram_lm", "e104_lm_agreement",
    // e79: the bounded benchmark side broadcast under the non-equi
    // cosine-threshold predicate (the e06/e20 class)
    "e79_semantic_decontaminate",
    // (e80/e95/e109: the k-centroid argmax went row-local in round 16 —
    // no NLJ remains; see the e47 note above.)
    // e113: e60's 1-row corpus-total broadcasts (N, total tokens),
    // computed from the maintained dl frame instead of the raw scan
    "e113_incremental_bm25",
    // (e115 is NOT here: its BM25 serving stage — the e113-class 1-row
    // corpus-total broadcasts — executes eagerly at construction time
    // inside the Supersteps.cut of the |Q|·10 rank frame, so the LIVE
    // plan reads the checkpointed rows and carries no NLJ at all —
    // the q33/q51/e63 checkpointed class.)
    // e120: e75's 1-row corpus-total broadcast (the unigram mass N
    // under the interpolation), computed from the maintained count
    // frames instead of the raw train scan — the e113 class applied
    // to the LM family; e121 the same one order up (e101's 1-row
    // continuation-type total B)
    "e120_incremental_lm", "e121_incremental_kn",
    // (e122 is NOT here: both LM serving stages — the e120/e121-class
    // 1-row total broadcasts — execute eagerly at construction time
    // inside the doc-grain Supersteps.cuts, so the live plan reads
    // the checkpointed score rows and carries no NLJ — the e115
    // class.)
    // (e116/e117/e123/e124: the frozen/trained-quantizer argmax went
    // row-local in round 16 — no NLJ remains; see the e47 note above.)
    // e82: two 1-row total broadcasts (corpus tokens, weight sum) onto
    // the group-cardinality-sized frame (the e52/e67 class)
    "e82_temperature_mix",
    // e83/e87: 1-row count aggregates (n_detected, tp, n_truth)
    // cross-joined into each detector's scoreboard row (the e66
    // literal-margin class)
    "e83_dedup_scoreboard", "e87_decon_scoreboard",
    // e85: the 1-row corpus word-count broadcast onto each tokenizer's
    // 1-row token total (same class); its BPE/unigram legs also carry
    // the e59/e64 bounded vocab-chain broadcasts
    "e85_tokenizer_fertility",
    // e86: the triangular bucket-histogram offset join of the two-phase
    // global rank (<= 64 rows, the e69/e70 class) plus the e75-leg
    // 1-row corpus-total broadcast
    "e86_scorer_agreement",
    // e88: the same two-phase-rank histogram joins (difficulty buckets
    // then <= 64*phases order buckets) plus the 1-row corpus-count
    // broadcast that turns rank into phase
    "e88_curriculum_order",
    // e89: two 1-row broadcasts (pool mean, weight sum) onto the
    // source-cardinality frame (the e82 class)
    "e89_doremi_weights",
    // q58's degree aggregation reads the live generated KNOWS frame, so
    // the 1-row person-count generator broadcast survives in-plan (the
    // q25 class; q44's triangle side hides its copy behind the canon
    // checkpoint)
    // (q59's condensation edge scan reads the live generated KNOWS
    // frame too — same 1-row generator-broadcast class)
    "q29_snb_posts", "q38_match", "q58_snb_clustering",
    "q59_snb_condensation")

  private lazy val dfs: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf0001)
    }

  private lazy val plans: Map[String, String] =
    dfs.map { case (name, df) =>
      name -> df.queryExecution.executedPlan.toString
    }

  test("no query plans a partition-less Window (single-task global sort gate)") {
    // A Window with an empty partitionSpec moves EVERY row to one task
    // ("WARN WindowExec: No Partition Defined") — the one plan shape
    // that cannot survive a 100-TB input no matter how the rest of the
    // query scales. The engine's global-order needs are all expressed
    // as two-phase or per-bucket forms instead (per-shard partitioned
    // window + bounded shard offsets: Text.skipgramPairs,
    // Packing.shardShuffle; Sampling.budgetSelect's boundary-bucket
    // top-up partitions on the bucket expression) — so the gate holds
    // with NO whitelist: zero partition-less Windows anywhere in the
    // suite's optimized plans.
    val bad = dfs.collect {
      case (n, df) =>
        val wins = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }
        n -> wins.size
    }.filter(_._2 > 0)
    assert(bad.isEmpty, s"partition-less Window in: ${bad.keys.toSeq.sorted}")
  }

  /** Queries allowed a window whose partition key is a fixture-constant-
    * cardinality column over a corpus-grain frame, each with its
    * documented rationale — the class the partition-less gate cannot
    * see (VERDICT r12 finding 1: `ringGames` hid a ~corpus/|sources|
    * partition behind a partition column). An entry here must be a
    * DELIBERATE per-group total-order need; anything else should take
    * the Agreement.globalRank two-phase form (the round-13 sweep
    * converted `ringGames` and `stratifiedSample`). */
  private val intendedLowCardWindow: Map[String, String] = Map(
    "e78_perplexity_buckets" -> ("CCNet's head/middle/tail split IS ntile(3) over " +
      "each language's full score distribution, and the oracle pins ntile's exact " +
      "remainder placement (a two-phase ((rk-1)*3) div n rebucketing distributes " +
      "remainders differently, so it would change green values); when a language " +
      "outgrows a partition, the declared path is per-language quantile CUTS from " +
      "the e24 sketch family, not a global sort"))

  test("no corpus-grain window partitions only on a constant-cardinality column") {
    // A Window WITH a partition column still single-tasks ~corpus/|groups|
    // rows when that column's cardinality is a fixture constant (source,
    // lang, ...). Gate: every logical Window whose partition expressions
    // resolve — through project aliases — to ONLY constant-cardinality
    // leaf columns must either sit above an aggregation (its input grain
    // is already group-sized, e.g. a bucket histogram) or carry a
    // whitelist rationale above.
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Window => LWindow}
    val lowCard = Set("source", "lang", "label", "event_type", "split", "kind", "method")
    def aliases(p: LogicalPlan): Map[ExprId, Expression] =
      p.collect { case pr: Project => pr.projectList }.flatten
        .collect { case a: Alias => a.exprId -> a.child }.toMap
    def leaves(e: Expression, am: Map[ExprId, Expression], depth: Int): Set[String] = e match {
      case ar: AttributeReference if depth < 20 && am.contains(ar.exprId) =>
        leaves(am(ar.exprId), am, depth + 1)
      case ar: AttributeReference => Set(ar.name)
      case other => other.children.flatMap(c => leaves(c, am, depth)).toSet
    }
    val offenders = dfs.flatMap { case (n, df) =>
      val plan = df.queryExecution.optimizedPlan
      val am = aliases(plan)
      val bad = plan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty =>
          val names = w.partitionSpec.flatMap(e => leaves(e, am, 0)).toSet
          val aggBelow = w.child.collectFirst { case _: Aggregate => () }.isDefined
          names.nonEmpty && names.subsetOf(lowCard) && !aggBelow
      }.count(identity)
      if (bad > 0) Some(n) else None
    }.toSet
    val unexplained = offenders -- intendedLowCardWindow.keySet
    assert(unexplained.isEmpty,
      s"corpus-grain low-cardinality-partition windows in: ${unexplained.toSeq.sorted} " +
        "(fix with the two-phase bucketed form, or whitelist with a rationale)")
    val stale = intendedLowCardWindow.keySet -- offenders
    assert(stale.isEmpty,
      s"stale low-card-window whitelist entries (plan no longer trips): ${stale.toSeq.sorted}")
  }

  test("the one-diff compositions carry ZERO full-outer joins (the diff ran at cut time)") {
    // The one-diff discipline: deltaWorkLists materializes the
    // content-addressed full-outer hash join ONCE (Supersteps.cut), so
    // the composed consumers' LIVE plans must contain no full-outer
    // join at all — each consumer reads the delta-sized checkpoint,
    // never re-running the corpus join. (The diff itself plans exactly
    // one — asserted in SnapshotSpec.) RRF's candidate-list-sized
    // full-outer (e74/e96) is a different, bounded shape — this gate
    // is specifically the snapshot-diff compositions'.
    Seq("e115_incremental_all", "e122_incremental_retrain_inputs")
      .foreach { n =>
        assert(!plans(n).contains("FullOuter"),
          s"$n's live plan re-runs the snapshot diff join:\n${plans(n)}")
      }
  }

  test("no query plans a CartesianProduct") {
    val bad = plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(bad.isEmpty, s"cartesian products in: ${bad.toSeq.sorted}")
  }

  test("no query plans a BroadcastNestedLoopJoin outside the bounded-broadcast whitelist") {
    val bad = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !intendedNlj(n) => n
    }
    assert(bad.isEmpty, s"unexpected nested-loop joins in: ${bad.toSeq.sorted}")
  }

  test("whitelisted NLJ queries still broadcast the small side (not the corpus)") {
    intendedNlj.foreach { n =>
      assert(plans(n).contains("BroadcastNestedLoopJoin"),
        s"$n no longer uses its intended bounded-broadcast plan; update the whitelist")
    }
  }

  test("point lookup pushes id filters into the parquet scan") {
    val p = SparkEntry.queries("q10_point_lookup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("In(") ,
      s"no pushed In-filter in q10 plan:\n$p")
  }

  test("mid-chain hasId pushes its In-filter into a fresh scan") {
    // hasId after V(label) must land in the parquet scan exactly like
    // the V(label, ids...) start step — the filter is on the aliased id
    // column, so Catalyst rewrites it onto the source column.
    val G = graft.dsl.G(graft.sources.GraphLoader.tpch(spark, sf0001))
    val p = G.V("Customer").hasId(1L, 2L, 3L).out("IN_NATION").toDF
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("In(c_custkey"),
      s"no pushed In-filter from mid-chain hasId:\n$p")
  }

  test("q24 composite is one pipeline with both filters pushed to the scans") {
    // The SNB shape lives or dies on the hop-chain staying declarative:
    // the segment filter must reach the customer scan and the edge
    // filter the lineitem scan — no mid-chain action can exist because
    // the whole query is a single DataFrame (this spec builds the plan
    // without executing anything).
    val p = plans("q24_snb_composite")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to customer scan:\n$p")
    assert(p.contains("GreaterThan(l_quantity,45"),
      s"quantity filter not pushed to lineitem scan:\n$p")
  }

  test("q01/q05/q15/q17 frontier joins are eliminated by the RI rule (and kept without declarations)") {
    // These queries are written in the PLAIN traverse(frontier(label),
    // ...) form — an explicit edge-frame-vs-frontier join — and rely on
    // RiJoinElimination + GraphLoader.declareTpchRi's FK contracts to
    // remove it. The optimizer-grade mechanism must fire on the real
    // oracle-green queries, not only in RiJoinEliminationSpec.
    Seq("q01_one_hop", "q05_edge_filter", "q15_pricing_summary", "q17_rollup")
      .foreach { q =>
        val p = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.optimizedPlan.toString
        assert(!p.contains("Join"), s"frontier join not eliminated in $q:\n$p")
      }
    // control: same shape without the declarations keeps its join —
    // proving the elimination is licensed by the contract, not generic
    graft.plans.RiJoinElimination.clearDeclarations(spark)
    try {
      val g = graft.sources.GraphLoader.tpch(spark, sf0001)
      val ctl = g.traverse(g.frontier("Nation"), "Nation", "IN_NATION",
        graft.model.Direction.In, fillEdge = false, Seq("Customer"))
      assert(ctl.df.queryExecution.optimizedPlan.toString.contains("Join"))
    } finally graft.sources.GraphLoader.declareTpchRi(spark, sf0001)
  }

  test("q25's 2-hop expansion reuses the knows-edge exchange at runtime") {
    // The generated KNOWS frame feeds both hops (and both directions of
    // each BOTH expansion); its distinct() shuffle must materialize ONCE
    // and be reused, not recomputed per subtree. Static planning can't
    // see this (each subtree is a separate read), but AQE's runtime
    // exchange reuse dedupes the canonically-identical shuffle — the
    // property that keeps the fan-out affordable when the edge table is
    // the 100-TB side.
    val df = SparkEntry.queries("q25_snb_fof")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"), "AQE did not finalize")
    assert("ReusedExchange \\[_src#\\d+L?, _dst#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"knows-edge (_src, _dst) exchange not reused:\n${p.linesIterator.take(60).mkString("\n")}")
  }

  test("q33's unroll plan computes the comment rank window ZERO times") {
    // The six unrolled REPLY_OF expansions all derive from the same
    // ranked-comment frame (lineitem distinct + window + parent
    // self-join). ReusedExchange alone is NOT enough: it dedupes the
    // shuffles, but the window/join computation above each reused
    // exchange re-executes per depth subtree (measured 24 s at sf0.1).
    // q33 therefore materializes the REPLY_OF frames once
    // (localCheckpoint) before unrolling — so the executed plan must
    // contain NO Window node at all (the rank ran once, inside the
    // checkpoint) and scan the materialized RDD instead.
    val df = SparkEntry.queries("q33_snb_thread")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"comment-rank window leaked into the unroll plan:\n${p.linesIterator.take(60).mkString("\n")}")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "REPLY_OF frames not materialized before the unroll")
  }

  test("q36's reply plan computes the comment rank window ZERO times") {
    // q36 consumes the ranked comment frame TWICE — once under the
    // REPLY_OF expansion and once under the Comment hydrate. Without
    // materialization each consumer re-runs the rank Window + parent
    // self-join (the exact re-execution mode q33's doc block warns
    // about), doubling the most expensive stage of the thread workload
    // at scale. With materializeComments = true both consumers project
    // from one checkpointed frame: zero Window nodes, and the 1-row
    // person-count NLJ never reaches the executed plan either.
    val df = SparkEntry.queries("q36_snb_replies")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"comment-rank window leaked into the q36 plan:\n${p.linesIterator.take(60).mkString("\n")}")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "comment frames not materialized in q36")
  }

  test("point-rooted read shapes build every join on the frontier, never on a whole frame") {
    // The six read shapes of the interactive point-op mix on the
    // point-read SNB graph (checkpointed frames) and the TPC-H graph.
    // Catalyst sizes join sides by plan estimates and cannot see that a
    // frontier rooted at literal ids is small; left alone it broadcasts
    // lineitem, Post or KNOWS, or shuffles REPLY_OF through
    // SortMergeJoins. The point-rooted mark makes the frontier the build
    // side of every hop and hydration, so no shape may plan a
    // SortMergeJoin, and no BroadcastExchange may sit over an
    // unfiltered scan of a whole frame.
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions._
    import graft.dsl.G
    import graft.model.{GraphColumns => GC}
    import graft.sources.GraphLoader

    def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def notNullOnly(e: Expression): Boolean = e match {
      case _: IsNotNull => true
      case And(l, r) => notNullOnly(l) && notNullOnly(r)
      case _ => false
    }
    // a whole frame: scans under projections and inferred null checks only
    def wholeFrame(p: SparkPlan): Boolean = p match {
      case f: FilterExec if !notNullOnly(f.condition) => false
      case _: BaseJoinExec => false
      case leaf if leaf.children.isEmpty => true
      case other => other.children.forall(wholeFrame)
    }
    def broadcastsWholeFrame(p: SparkPlan): Boolean =
      p.collect { case b: BroadcastExchangeExec => b }.exists(b => wholeFrame(b.child))

    val snb = GraphLoader.snb(spark, sf0001, materializeComments = true)
    val tpch = GraphLoader.tpch(spark, sf0001)
    val g = G(snb)
    val shapes = Seq(
      "person" -> snb.verticesById("Person", Seq(19L))
        .select(GC.Id, "name", "acctbal", "segment", "city"),
      "friends" -> g.V("Person", 19L).bothE("KNOWS").toDF
        .select(col(GC.Id), col("since")).orderBy(desc("since"), asc(GC.Id)).limit(20),
      "posts" -> snb.hydrate(g.V("Person", 19L).in("HAS_CREATOR", "Post").toDF.select(col(GC.Id)),
          GC.Id, "Post", Seq("created", "score"))
        .select(col(GC.Id), col("created"), col("score"))
        .orderBy(desc("created"), asc(GC.Id)).limit(10),
      "fof" -> g.V("Person", 19L).both("KNOWS").both("KNOWS").dedup().toDF
        .where(col(GC.Id) =!= 19L).select(col(GC.Id)).orderBy(GC.Id).limit(20),
      "thread" -> g.V("Post", 1L).repeatEmit(3)(_.in("REPLY_OF", "Comment")).toDF
        .select(col(GC.Id), col(graft.dsl.Step.DepthCol)),
      "order_lines" -> G(tpch).V("Customer", 19L).in("PLACED_BY", "Order")
        .outE("CONTAINS", "Part").toDF.select(col(GC.Id), col("l_extendedprice"))
        .orderBy(desc("l_extendedprice"), asc(GC.Id)).limit(20),
      // q36's shape: the ids read back from an as() capture keep the
      // mark, so the final hydrate builds on the replies
      "q36" -> snb.hydrate(g.V("Person", 19L).in("HAS_CREATOR", "Post")
          .in("REPLY_OF", "Comment").as("c").out("HAS_CREATOR", "Person").toDF
          .select(col("_as_c").getField("id").as("comment_id"), col(GC.Id).as("replier_id")),
          "comment_id", "Comment", Seq("created")))
    shapes.foreach { case (n, df) =>
      val p = physical(df)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty, s"$n plans a SortMergeJoin:\n$p")
      assert(!broadcastsWholeFrame(p), s"$n broadcasts a whole frame:\n$p")
    }

    // Control: an unmarked frontier carries no broadcast hint. At
    // sf0.001 every frame is under the broadcast threshold, so Catalyst
    // would broadcast the Person scan on its own; with the threshold off,
    // only a hint can plan a broadcast. The first hop from V(label, ids)
    // joins nothing on this graph (the next test), so the marked
    // frontier checked is hop 1's output.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val scan = physical(g.V("Person").out("KNOWS").toDF)
      assert(scan.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"an unmarked frontier was broadcast:\n$scan")
      val point = physical(g.V("Person", 19L).out("KNOWS").out("KNOWS").toDF)
      assert(point.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
        s"a point-rooted frontier was not broadcast:\n$point")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the first hop from V(label, ids) is a key filter only where the layout guarantees the endpoints") {
    // GraphLoader's SNB and TPC-H layouts record referential integrity,
    // so a hop taken straight on V(label, ids) filters the edge frames
    // by the ids and reads no vertex frame: no join at all. The same
    // frames wrapped in `new PropertyGraph` carry no such guarantee and
    // keep the join that drops edges of missing vertices.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.dsl.{G, Step}
    import graft.graph.PropertyGraph
    import graft.sources.GraphLoader

    def joins(step: Step): Int = {
      val p: SparkPlan = step.toDF.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      p.collect { case j: BaseJoinExec => j }.size
    }
    val snb = GraphLoader.snb(spark, sf0001, materializeComments = true)
    val tpch = GraphLoader.tpch(spark, sf0001)
    def hops(graph: PropertyGraph): Seq[(String, Step)] = {
      val g = G(graph)
      if (graph.vertexFrames.contains("Person")) Seq(
        "friends" -> g.V("Person", 19L).bothE("KNOWS"),
        "posts" -> g.V("Person", 19L).in("HAS_CREATOR", "Post"),
        "fof hop 1" -> g.V("Person", 19L, 97L).both("KNOWS"),
        "thread hop 1" -> g.V("Post", 1L).in("REPLY_OF", "Comment"))
      else Seq(
        "order_lines hop 1" -> g.V("Customer", 19L).in("PLACED_BY", "Order"),
        "nation both" -> g.V("Nation", 5L).both("IN_NATION"))
    }
    Seq(snb, tpch).foreach { graph =>
      hops(graph).foreach { case (n, st) => assert(joins(st) == 0, s"$n plans a join") }
      val plain = new PropertyGraph(spark, graph.vertexFrames, graph.edgeFrames)
      hops(plain).foreach { case (n, st) =>
        assert(joins(st) > 0, s"$n over new PropertyGraph lost its existence join") }
    }
  }

  test("pipeline composition (e31) is one pruned plan end to end") {
    // The composed pipeline references `documents` in several subtrees
    // (dedup window, band self-join, Jaccard verify, survivor anti-join);
    // every one of those scans must be pruned to (doc_id, text) — a scan
    // dragging lang/source/n_chars through the shuffles would be wrong
    // at 100 TB. (No-cartesian/no-NLJ is asserted suite-wide above.)
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plans("e31_pipeline")).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, "no parquet scans found in e31 plan")
    schemas.foreach { s =>
      val colsRead = s.split(",").map(_.split(":").head.trim).toSet
      assert(colsRead.subsetOf(Set("doc_id", "text")),
        s"e31 scan reads extra columns: $colsRead")
    }
  }

  test("span dedup (e44/e45) scans are pruned to (doc_id, text)") {
    // e44 explodes stride-1 windows and e45 scans documents again for
    // the excision join — every documents scan in both plans must read
    // only (doc_id, text): dragging lang/source/n_chars through an
    // O(corpus tokens) explode is exactly the 100-TB mistake the
    // pruning gate exists to catch.
    for (q <- Seq("e44_duplicated_spans", "e45_span_removal")) {
      val schemas = "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(plans(q)).map(_.group(1)).toSeq
      assert(schemas.nonEmpty, s"no parquet scans found in $q plan")
      schemas.foreach { s =>
        val colsRead = s.split(",").map(_.split(":").head.trim).toSet
        assert(colsRead.subsetOf(Set("doc_id", "text")),
          s"$q scan reads extra columns: $colsRead")
      }
    }
  }

  test("index-reuse dedup (e97) scans are pruned to (doc_id, text)") {
    // e97 touches the documents table three ways — the new batch's
    // signature build, the semi-join-routed candidate hydration, and the
    // batch's verify shingles. Every one must read only (doc_id, text):
    // dragging lang/source/n_chars through the ingest path would charge
    // the fixed-size batch a corpus-width scan at 100 TB.
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plans("e97_index_dedup")).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, "no parquet scans found in e97 plan")
    schemas.foreach { s =>
      val colsRead = s.split(",").map(_.split(":").head.trim).toSet
      assert(colsRead.subsetOf(Set("doc_id", "text")),
        s"e97 scan reads extra columns: $colsRead")
    }
  }

  test("column pruning reaches the scan for the JSON-extraction query") {
    val p = SparkEntry.queries("e26_json_extract")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // only the two referenced columns should be read
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      s"e26 reads more than (event_type, props):\n$p")
  }
}
