package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Timing forces full result materialization via a `noop`-format write —
  * `count()` would let Catalyst prune every unreferenced column and
  * under-measure. One small warm-up action absorbs session/codegen
  * startup so the first query isn't charged for it.
  *
  * `--scale k` (dev/judge tier, driver never passes it): materializes a
  * k-times replica of the fixture (shifted keys so join/group
  * cardinality grows with the data; per-replica word suffixes so the
  * document corpus grows with DISTINCT content at constant near-dup
  * density, BASELINE.md round-4 note) and times the most expensive
  * queries on it. At sf0.1 nearly every query
  * sits on the ~0.3-0.7 s job-launch floor, so the default tier mostly
  * measures overhead; this tier is the one where plan regressions are
  * visible (round-5 verdict task 6). Results land in bench_scale.json,
  * which the DEFAULT mode embeds into its bench_spread.json sidecar so
  * the per-round artifact carries the scale table.
  */
object Bench {

  /** The scale-tier subset: the highest-cost query per operator family
    * (bulk load, SNB composite, LSH banding, exact-quadratic oracle twin,
    * composed near-dup, transitive clusters, five-stage pipeline,
    * media IVF). */
  private val scaleQueries = Seq("q14_bulk_load", "q24_snb_composite",
    "e03_minhash_pairs", "e04_ngram_jaccard", "e17_near_dup_pipeline",
    "e29_dedup_clusters", "e31_pipeline", "e32_media_ivf",
    // e44: the span-dedup digest shuffle is the linear-work claim —
    // the 8x curve is the evidence it holds off the job floor
    "e44_duplicated_spans",
    // e47/e48: the embedding-family scale paths — SemDeDup's pair work
    // is n^2/k (fixed k at 8x shows the documented growth; production
    // grows k with n), PQ's train/encode/ADC are linear with the code
    // table as the only scan
    "e47_semdedup", "e48_knn_pq",
    // e51: the bloom-prefilter claim IS a scale claim — the 8x curve
    // shows the candidate shuffle staying bounded while the gram
    // stream grows linearly; e52/e54: the two fixed-point corpus
    // scorers — one gram/token shuffle each plus a broadcast weight
    // join, the shapes that must stay linear at corpus scale
    "e51_bloom_decontaminate", "e52_dsir_select", "e54_surprisal",
    // e60: the inverted-index claim — postings/df shuffles grow
    // linearly while the broadcast query set stays fixed; e61: the
    // trainer's per-round cost is one broadcast join over the feature
    // stream + one bucket agg — rounds are fixed, so the 8x curve
    // must track the feature stream alone
    "e60_bm25", "e61_quality_classifier",
    // e68: the co-occurrence claim — the pair generator is row-local,
    // so the only data-sized term is the (center, context) aggregation;
    // e65: the cross-corpus band join must track the banded candidate
    // volume, never |A|x|B|
    "e65_fuzzy_join", "e68_cooccurrence",
    // e69/e70: the post-round-9 sharded two-phase vocab rank — the 8x
    // curve is the evidence the fix removed the single-task sort (a
    // partition-less window would grow superlinearly here); e70 adds
    // the banded cumulative-mass resolution to the same lens
    "e69_skipgram_pairs", "e70_skipgram_weighted",
    // e58/e59: the two serial-floor queries closest to the 2x gate in
    // round 9 (load-amplified) — the 8x tier pins their SHAPE so host
    // drift can't masquerade as a plan regression: the data term must
    // stay flat (round-count floor). e24 is NOT here: it reads the
    // deliberately-unreplicated events table (its declared scale path
    // is the Sketches.valueQuantilesApprox twin, not the exact buffer)
    "e58_bpe_train", "e59_bpe_tokenize",
    // e71/e73: the GloVe training chain and its knn consumer — the 8x
    // curve splits their serial-round floor from the data term
    // (token-keyed joins must track the co-occurrence volume)
    "e71_glove_train", "e73_glove_knn",
    // e75: the bigram-LM scorer — counts are map-side-combined and
    // vocabulary-bounded, so the 8x curve must track the row-local
    // bigram stream alone; e76: the WordPiece trainer joins e58's
    // serial-floor class (8 rounds over the vocabulary-sized frame —
    // the data term must stay flat). e74 is NOT here: its dense side
    // is the DECLARED brute-force oracle shape (query count x corpus
    // both grow -> 64x by construction; the corpus-scale dense path
    // is e72's index families, and the fusion join itself is |Q|k)
    "e75_bigram_lm", "e76_wordpiece_train",
    // e77: the e54-class corpus-scorer shape one join wider (group
    // counts vs pool counts) — the 8x curve must track the token
    // stream, with the divergence join staying vocabulary-sized.
    // e78 is NOT here: it is e75's scorer plus one language-partitioned
    // window, so e75's curve already pins its only data-sized term;
    // e79 is NOT here: its benchmark split grows with the replicated
    // corpus, so the 8x point would measure the declared brute-force
    // oracle shape at 64x work, not the production bounded-benchmark
    // path (the e74 rationale).
    // e80 is NOT here: it is e47's k-means train + assignment plus a
    // cell-partitioned quota window over the k-bounded output, so
    // e47's curve already pins its only data-sized terms (the e78
    // rationale); e81 is NOT here: a single row-local projection over
    // the scan (the e08/e09 stat class, which the tier never carried —
    // no shuffle to regress); e82 is NOT here: one group agg over
    // row-local token counts + two 1-row broadcasts — e77's curve
    // already pins the identical group-count shape; e83 is NOT here:
    // an evaluation harness that runs the exact-Jaccard truth by
    // contract (the e72 rationale — calibration-sized by design), and
    // its detector legs are e03/e04's shapes, both already in the tier
    // via e17/e29's composed pipelines; e84 is NOT here: the e44/e45
    // digest/island/excision shapes already in the tier via e44, with
    // the dup mark swapped for a semi join against the (deliberately
    // unreplicated-split) benchmark hash set; e85 is NOT here: a
    // memo-consuming evaluation harness (the e72/e83 class) whose
    // tokenize legs are e59/e64's shapes, pinned via e58/e59's entries
    "e77_domain_shift",
    // e87: promoted INTO the tier (VERDICT r12 task 8) — its detector
    // legs are e03/e04/e51/e65's shapes individually, but the bloom
    // fold + triple gram join COMPOSITION is the decontamination path
    // a 100-TB run actually executes, and its 4.4-15.9 s sf0.1 spread
    // is exactly the load-noise profile the tier exists to de-noise
    "e87_decon_scoreboard",
    // e97: the index-reuse ingest claim IS a scale claim — the new
    // batch is a FIXED id range (doc_id % 5 == 0, < 1000), so the 8x
    // curve directly tests that cost tracks the constant batch (its
    // signatures, band probes, candidate verifies) plus a pruned
    // corpus scan, never the corpus's shingle/signature work
    "e97_index_dedup",
    // e90: the preference-MM fixpoint — a NEW iterative shape (edge-
    // grain double join + incidence aggregate per round over the
    // ring-games frame, which grows with the replicated corpus); the
    // 8x curve splits its serial-round floor from the data term, the
    // e71 lens. e86/e88 are NOT here: memo-consuming harnesses whose
    // only data-sized machinery is the two-phase bucketed rank, which
    // e69/e70's entries already pin at 8x; e89 is NOT here: e77's source-grain scorer shape
    // over the memoized scoring pass (the e78 rationale — e75's and
    // e77's curves pin both terms). e91 is NOT here: memo-consuming
    // 1-row-aggregate pairs (the e66 class); e92 is NOT here: e60's
    // scoring shape plus one qrels-sized anti-join — e60's curve pins
    // the data term; e93 is NOT here: a single shuffle-free native
    // projection (the e08/e81 row-local class the tier never carried);
    // e94 is NOT here: e29's fixpoint plus a cluster-partitioned
    // argmax window — e29's curve pins the only data-sized term;
    // e95 is NOT here: e47's train+assign plus group-grain aggregates
    // (the e80 rationale — e47's curve pins the data term).
    // e96 is NOT here: a memo-consuming scoreboard (the e72/e83/e85
    // class) whose lex leg is e60's shape (in the tier) and whose
    // dense leg is the DECLARED brute-force oracle shape (the e74
    // rationale — query count x corpus grow together by construction);
    // e98 is NOT here: e89's source-grain weights plus one codegen'd
    // hash filter over the scan (the e40/e82 class — no data-sized
    // machinery the tier doesn't already pin via e75's scorer);
    // e99 is NOT here: e07's banded-bucket shape with a 5x QUERY-side
    // (bounded) probe expansion — the corpus-side terms are identical
    // to e07's, whose family the tier pins via e03/e17's banding.
    "e90_bradley_terry",
    // e101: e75's scorer shape one model order up, but with a NEW
    // data-sized term the bigram entry can't pin — the trigram type
    // frame (and its three derived continuation-count frames) grows
    // much closer to the token stream than the vocabulary-bounded
    // bigram model, and the scoring stage is five model joins instead
    // of three; the 8x curve tests that the count frames stay
    // map-side-combined and the joins stay model-keyed.
    // e100/e106: promoted INTO the tier (VERDICT r13 task 6) — the
    // Gram pass is the one mapPartitions kernel with a fixed 2144-long
    // per-partition state, and its 8x ratio (expected ~linear in rows,
    // flat in driver iteration time) should be MEASURED, not argued;
    // e106 rides along to show the k-1 extra deflations stay
    // corpus-invisible (same pass, driver-side 64x64 loops only).
    "e100_pca_scores", "e106_pca_map",
    // e102 is NOT here: two row-local hash projections + one id-keyed
    // equi-join (the e01/e18 hash-reconcile class — the tier pins
    // id-keyed join growth via a dozen entries already); e103 is NOT
    // here: e38/e38b's shard-window shapes (both never tiered — the
    // window partition is the FIXED shard count, so 8x data deepens
    // per-shard windows linearly, the same term every tiered window
    // query already pins) plus two 1-row folds; e104 is NOT here:
    // a memo-consuming agreement harness (the e86/e91 class) whose
    // only data-sized machinery is the two-phase bucketed rank,
    // e110: the incremental-refresh claim IS a scale claim (the e97
    // lens applied to the dashboard family) — the delta is a FIXED id
    // range (caps at 1100-1400), so the 8x curve directly tests that
    // cost tracks the constant delta's feature work plus the 16-byte
    // hash diff, never the corpus's tokenize/quality pass (the memoized
    // base builds once in the untimed warm-up, the production shape).
    // e111–e116: the WHOLE incremental family promoted into the tier
    // (VERDICT r14 task 5 — their delta-tracking claims were argued
    // from shape via e110's curve; the judge wants them MEASURED).
    // Each has a FIXED-cap delta (the e97/e110 lens), so every curve
    // directly tests that cost tracks the constant delta: e111's
    // signed vocabulary-grain merge (the vocab frame grows with the
    // replicated corpus — per-replica word suffixes — so ITS term is
    // the one to watch), e112's k-longs-per-row index anti-join,
    // e113's maintained-frame upsert + e60-shape serving, e114's two
    // delta-sized Gram passes over the fixed 2144-long state, e115's
    // composed one-diff pass over all five artifacts, and e116's
    // broadcast-8-centroid delta re-assign over 2-long rows.
    "e110_incremental_health", "e111_incremental_hh",
    "e112_incremental_index", "e113_incremental_bm25",
    "e114_incremental_pca", "e115_incremental_all",
    "e116_incremental_ann",
    // e119: the co-occurrence merge's growth term is the PAIR-grain
    // frame (much wider than e111's vocabulary), so its signed-merge
    // aggregate deserves its own curve; the delta's pair generation
    // stays constant (fixed caps). e120/e121 are NOT here: their merge
    // terms are e111's vocabulary-grain shape (e121's at the
    // trigram-type grain, which e101's tier entry already grows) and
    // their scoring stages are e75's/e101's (both in the tier) over
    // the maintained frames — the e113 rationale applied to the LM
    // family.
    "e119_incremental_cooc",
    // e118: the dirty-shard repack — cost is ~|dirty shards|/shards of
    // the corpus BY CONTRACT (delta ids stay in replica 0 but their
    // shards hold 1/8 of the whole replicated corpus each), so the
    // expected curve is linear scaled by the dirty fraction, with the
    // clean-shard pass-through as the flat term; the tier makes that
    // contract a measured number instead of a scaladoc claim.
    "e118_delta_repack",
    // e117: the PRODUCTION SemDeDup schedule (k = ceil(n/targetCell))
    // — promoted INTO the tier (VERDICT r15 task 2): its pair stage is
    // O(n·targetCell) linear BY the schedule, but the pinned-Lloyd
    // train and final assignment are O(n·k·iters) = O(n²/targetCell)
    // at full-corpus train, the one super-linear term left on the
    // production dedup path; the 8x curve MEASURES that term (and
    // e123's bounded-sample train is the gate-checked escape — its
    // curve rides here too, expected to split train growth k·|sample|
    // from e117's k·n).
    "e117_semdedup_auto", "e123_semdedup_sampled",
    // e122 is NOT here: its three serving stages are e119's (in the
    // tier) plus e120/e121's vocabulary-/type-grain merges and
    // e75/e101-shape scorers (pinned via e75/e101's entries), all off
    // the ONE shared diff whose growth e115's entry already measures —
    // the e113/e120/e121 rationale applied to the composed form.
    // e124 is NOT here: its drift leg is e100's Gram pass + e108's
    // group aggregate (e100/e106 pin the Gram term), and its retrain
    // leg is e47's pinned-Lloyd train + one broadcast-k assignment
    // (e47/e117 pin both terms); the trigger compare is a 1-row fold.
    // pinned at 8x via e69/e70. e109 is NOT here: e100's Gram pass
    // (now tiered directly) + a row-local whitening projection +
    // e47's train/assign/pair machinery, whose curve already pins the
    // only data-sized terms (the e80/e95 rationale).
    "e101_kn_trigram_lm")

  /** Knows-graph queries timed against the CONTIGUOUS-keyspace SNB
    * replica (`$outDir/snb`, written by replicate via
    * GraphLoader.snbReplicaTables): the generated graph computes targets
    * as `key % count`, so the main replica's 1e8-shifted keys would
    * dangle most edges and these timings would measure a broken graph.
    * q25 covers the FoF fan-out family (q26/q27/q29 share its shape);
    * q33 is the reply-tree unroll — the most expensive non-bulk query,
    * which previously had no at-scale evidence; q42 is the whole-graph
    * min-label superstep loop (rounds scale with diameter, which GROWS
    * only if the replicated graph's does — contiguous replicas keep
    * per-replica structure, so rounds stay flat and the ratio measures
    * per-round join cost); q44/q45 put the wedge join and the LPA
    * rounds under the same 8x lens; q46/q47 complete the analytics
    * family — the k-core peel (two semi-joins + a count per round) and
    * the multi-source bounded BFS (seeds 0-4 exist in every contiguous
    * replica, so the frontier sweep reads a valid graph). */
  // q50 rides along: the fixed-point PageRank pays iters shuffles per
  // run — the 8x curve shows the per-round join cost scaling, the same
  // lens as q42's min-label loop
  private val snbScaleQueries =
    Seq("q25_snb_fof", "q33_snb_thread", "q42_snb_components", "q50_snb_pagerank",
      "q44_snb_triangles", "q45_snb_communities", "q46_snb_kcore",
      "q47_snb_closeness",
      // q49: the incremental fold's contract is per-batch-sized work —
      // its 8x growth vs q42's is the direct test of that claim
      "q49_snb_components_inc",
      // q53: walks are one-row-in/one-row-out per step — the 8x curve
      // isolates the ranked-adjacency build (the only data-sized term);
      // q54: the SCC peel composes two min-label fixpoints per outer
      // round — its 8x growth vs q42's single fixpoint tests that the
      // peel adds rounds, not per-round cost
      "q53_snb_walks", "q54_snb_scc",
      // q57: the wedge join's fan-out is Σ_seed Σ_{z~seed} deg(z) —
      // the 8x curve tests that seeds bound it (never all-pairs)
      "q57_snb_linkpred",
      // q59/q60: the condensation build and its layering consumer —
      // both serial-fixpoint floors whose per-round work must stay
      // sub-linear (the q54 lens extended to the component DAG; q60's
      // rounds are bounded by DAG depth, which contiguous replicas
      // keep flat)
      // q61 completes the condensation family: the semi-naive closure's
      // per-round work must track the growth frontier, not the known set
      "q59_snb_condensation", "q60_snb_layers", "q61_snb_reachability")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // localSession declares sfDir's RI contracts. (Scale-tier queries
    // read the replica dir, whose paths match no declaration; q01 is not
    // in that subset.)
    val spark = SparkEntry.localSession(sfDir)

    // Warm-up: a tiny end-to-end job (scan + shuffle) before any timing.
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()

    // Fail fast on a malformed flag: a silent fallback to the default
    // tier would spend ~4 min and overwrite the sidecar instead of
    // running the intended scale tier. k must be a positive integer —
    // '' and '0' pass a bare forall(isDigit) but crash later in
    // replicate()'s empty reduce.
    // (toIntOption, not forall(isDigit) + toInt: an all-digit value past
    // Int.MaxValue must hit this message, not a NumberFormatException.)
    require(!args.contains("--scale") || (
      args.indexOf("--scale") + 1 < args.length &&
        args(args.indexOf("--scale") + 1).toIntOption.exists(_ >= 1)),
      s"usage: Bench [--scale k] with k >= 1; got: ${args.mkString(" ")}")
    val scaleK = args.sliding(2).collectFirst { case Array("--scale", k) => k.toInt }
    scaleK match {
      case Some(k) => runScaleTier(spark, sfDir, k)
      case None    => runDefault(spark, sfDir)
    }
    spark.stop()
  }

  /** One untimed warm-up + `reps` timed noop-writes per query; returns
    * (sorted (name, sorted times), failed-query names). */
  private def timeQueries(spark: SparkSession, dir: String,
      names: Seq[String], reps: Int): (Seq[(String, Seq[Double])], Seq[String]) = {
    val failures = Seq.newBuilder[String]
    val results = names.sorted.flatMap { name =>
      val fn = SparkEntry.queries(name)
      var failed = false
      def once(): Double = {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.plans.Supersteps.sweep(spark, before)
        dt
      }
      once() // warm-up, untimed
      val times = Seq.fill(reps)(once()).sorted
      // A failed run's elapsed time is NOT a datapoint: the round-10
      // scale tier found q50's 8x overflow failure had been RECORDED
      // as a ~1 s "timing" since the tier existed — and the
      // scale_vs_baseline ratio then ratchets against garbage. Failures
      // are excluded from the map (loudly), never averaged in.
      if (failed) {
        System.err.println(s"[bench] $name EXCLUDED from results (failed)")
        failures += name
        None
      } else Some(name -> times)
    }
    (results, failures.result())
  }

  // Locale.ROOT: a comma-decimal default locale would break the JSON
  // artifacts (ADVICE round 7)
  private def f(d: Double) =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  private def runDefault(spark: SparkSession, sfDir: String): Unit = {
    // Every query gets one UNTIMED warm-up run (absorbing per-query
    // codegen compilation) and then `reps` timed runs — so even the
    // driver's default run measures warm execution, per the BASELINE.md
    // protocol. The default of 3 keeps a single rep's scheduler/GC noise
    // from masquerading as a plan regression; the full suite at 3 reps
    // is ~4 min. Raise to an odd 5+ for lower-variance medians when
    // re-recording baselines.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Dev-loop filter (the driver leaves it unset -> all queries).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val (results, failed) = timeQueries(spark, sfDir, names, reps)
    // The stdout line must stay under the driver's ~2 KiB tail capture
    // (round-3 lesson: inlining the per-query spread overflowed it and
    // the artifact parsed as null), so the line carries ONE 3-decimal
    // number per query; the full distribution goes to a sidecar file.
    // That number is the MIN of the warm reps, not the median: round-4
    // lesson — concurrent machine load inflated driver medians 2-6×
    // while the plans were unchanged (judge rerun confirmed), and of
    // the warm reps the minimum is the statistic least contaminated by
    // external load. `median_total` rides along for spread visibility.
    // Two decimals per query (the sidecar keeps 6): with 68 queries the
    // 3-decimal line hit 1799 B of the driver's 2000 B tail capture.
    // trailing zeros trimmed (0.40 -> 0.4, 5.00 -> 5): with 79 queries
    // the fixed-width line crossed the 1900 B safety margin of the
    // driver's 2000 B tail capture
    def fd(d: Double, dec: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(d))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    def renderQs(dec: Int): String =
      results.map { case (k, t) => "\"" + k + "\":" + fd(t.head, dec) }
        .mkString("{", ",", "}")
    // The per-query map must fit the driver's ~2 KiB stdout tail. Past
    // ~90 queries the NAMES alone exceed it — no precision tier can
    // save a map that big (the round-8 lesson: 93 queries rendered at
    // ZERO decimals still hit 1935 B). So: full map at 2 decimals when
    // it fits, else the TOP-K most expensive queries (the ones a
    // baseline comparison actually resolves — sub-second entries sit
    // on the job floor and carry no plan signal) plus an explicit
    // "_others" rollup (count + summed seconds) so nothing is silently
    // dropped. The committed bench_spread.json sidecar carries the
    // full 6-decimal record either way.
    val qs2 = renderQs(2)
    val qs = if (qs2.length <= 1780) qs2 else {
      val byCost = results.sortBy { case (_, t) => -t.head }
      val k = (40 to 1 by -1).find { n =>
        val top = byCost.take(n)
        top.map { case (q, t) => q.length + 8 }.sum + 40 <= 1700
      }.getOrElse(1)
      val top = byCost.take(k).sortBy(_._1)
      val restT = byCost.drop(k).map(_._2.head).sum
      (top.map { case (q, t) => "\"" + q + "\":" + fd(t.head, 2) } :+
        ("\"_others\":{\"n\":" + (results.size - k) + ",\"sec\":" +
          fd(restT, 2) + "}"))
        .mkString("{", ",", "}")
    }
    val total = results.map { case (_, t) => t.head }.sum
    val medianTotal = results.map { case (_, t) => t(t.size / 2) }.sum
    // Sidecar: per-query latency distribution, mirroring the reference's
    // OpTester report shape — min/max/mean plus p25..p99 when reps >= 5
    // (reference: src/main/java/net/.../OpTester.java:175-226). With
    // reps < 5 percentiles of 3 points would be noise, so only
    // min/median/max are emitted.
    def pct(t: Seq[Double], p: Int): Double =
      t(math.min(t.size - 1, math.ceil(p / 100.0 * t.size).toInt - 1).max(0))
    def f6(d: Double) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    val spread = results.map { case (k, t) =>
      val base = Seq(
        "\"min\":" + f6(t.head), "\"median\":" + f6(t(t.size / 2)),
        "\"max\":" + f6(t.last), "\"mean\":" + f6(t.sum / t.size))
      val pcts = if (reps >= 5)
        Seq(25, 50, 75, 90, 95, 99).map(p => "\"p" + p + "\":" + f6(pct(t, p)))
      else Seq.empty
      "\"" + k + "\":" + (base ++ pcts).mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // "queries_stat" tags the statistic behind each per-query number
    // (min since round 5; rounds 1-4 recorded medians) so cross-round
    // tooling can't mix statistics unnoticed.
    // median_total lives in the SIDECAR only: every ~22 B on this line
    // is a query we can't add before overflowing the driver's 2000 B
    // tail capture (the per-query medians are in the spread anyway).
    // basename only: the full fixture path spent 15 B of the tail budget
    // on information the driver already records itself. reps and
    // queries_stat (the per-query statistic tag, min since round 5)
    // live in the SIDECAR now for the same reason — the stdout line
    // keeps only what the driver's artifact needs.
    // Excluded-failure names ride the artifact machine-readably: a
    // query that REGRESSES into failure would otherwise just shrink
    // the comparand set and make totals look better (advisor, round
    // 10) — the only trace being a stderr line the gate never parses.
    // ("failed":[] always present: an explicit empty list is the
    // machine-readable "nothing was excluded", 14 B of tail budget.)
    val failedPart =
      ",\"failed\":" + failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total_of_mins","value":${f(total)},"unit":"sec","queries":$qs$failedPart,"sf":"${sfDir.split('/').last}"}"""
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} B exceeds the driver's tail capture budget")
    // Print the driver's artifact FIRST: the sidecar write can throw on a
    // read-only CWD, and the timing work must not be lost to it.
    println(line)
    // A previously-recorded scale-tier table (bench_scale.json, written
    // by `--scale k`) rides the sidecar so the round artifact carries it.
    val scalePart =
      try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_SCALE_FILE", "bench_scale.json"))
        if (java.nio.file.Files.exists(p))
          ",\"scale_tier\":" + new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        else ""
      } catch { case _: Throwable => "" }
    // bench_spread.json is RESERVED for full-surface sweeps: a focused
    // SPARK_GRAFT_ONLY probe that overwrote it would shadow the
    // committed 170-query record with a handful of rows (round-13
    // verdict, what's-wrong #1 — exactly what happened). Probes land in
    // bench_probe.json unless the caller names a file explicitly.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_SPREAD_FILE",
      if (only.isDefined) "bench_probe.json" else "bench_spread.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      s"""{"reps":$reps,"queries_stat":"min","sf":"$sfDir","median_total":${f(medianTotal)},"spread":$spread$scalePart}""".getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: sidecar write failed (${e.getMessage}) — spread lost, stdout line already emitted")
    }
  }

  /** The committed previous-round bench_scale.json — the gate's
    * baseline. Reading the mutable output file would let a same-round
    * rerun ratchet against itself (advisor, round 7: the first `--scale`
    * run overwrites the file the second one compares against, so a
    * regression can read as an improvement). `HEAD:` is stable for the
    * whole round; the on-disk file is only the non-git-checkout
    * fallback. */
  private def recordedScaleBaseline(path: String): Option[String] = {
    val fromGit =
      try {
        val out = scala.sys.process.Process(Seq("git", "show", s"HEAD:$path")).!!
        Option(out).map(_.trim).filter(_.nonEmpty)
      } catch { case _: Throwable => None }
    fromGit.orElse(
      try {
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(p))
          Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
        else None
      } catch { case _: Throwable => None })
  }

  private def runScaleTier(spark: SparkSession, sfDir: String, k: Int): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val outDir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_${k}x_${math.abs(sfDir.hashCode)}"
    replicate(spark, sfDir, outDir, k)
    val (mainRes, mainFailed) = timeQueries(spark, outDir, scaleQueries, reps)
    val (snbRes, snbFailed) = timeQueries(spark, s"$outDir/snb", snbScaleQueries, reps)
    val results = (mainRes ++ snbRes).sortBy(_._1)
    val failed = mainFailed ++ snbFailed
    val qs = results.map { case (n, t) => "\"" + n + "\":" + f(t.head) }
      .mkString("{", ",", "}")
    val total = results.map(_._2.head).sum
    // Gate against the RECORDED scale tier (the committed
    // bench_scale.json from the previous round, same k): the ratio makes
    // plan regressions visible where the sf0.1 default tier mostly
    // measures the ~0.3-0.7 s job-launch floor. > 1 = slower than the
    // recorded baseline; absent on a first run or a k mismatch. The
    // ratio is computed over the queries BOTH runs timed (and records
    // the comparand), so adding a query to the subset can't skew it.
    val ratio =
      try {
        recordedScaleBaseline(
          sys.env.getOrElse("SPARK_GRAFT_SCALE_FILE", "bench_scale.json"))
          .flatMap { prev =>
            val prevK = "\"k\":(\\d+)".r.findFirstMatchIn(prev).map(_.group(1).toInt)
            val prevQs = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(prev)
              .map(_.group(1)).getOrElse("")
            val prevTimes = "\"([A-Za-z0-9_]+)\":([0-9.]+)".r
              .findAllMatchIn(prevQs)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            val shared = results.collect {
              case (n, t) if prevTimes.contains(n) => (t.head, prevTimes(n)) }
            val prevSum = shared.map(_._2).sum
            if (!prevK.contains(k) || shared.isEmpty || prevSum <= 0) None
            else Some(s""","scale_vs_baseline":${f(shared.map(_._1).sum / prevSum)},"baseline_total":${f(prevSum)},"baseline_shared":${shared.size}""")
          }.getOrElse("")
      } catch { case _: Throwable => "" }
    val failedPart =
      ",\"failed\":" + failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"scale_total_of_mins","value":${f(total)},"unit":"sec","k":$k,"reps":$reps,"queries_stat":"min","queries":$qs$failedPart$ratio,"base_sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_FILE", "bench_scale.json")),
      line.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: bench_scale.json write failed (${e.getMessage})")
    }
  }

  /** Materialize a k-times fixture replica under `outDir`. Keys shift by
    * 1e8 per replica so cardinalities grow with the data; dimension
    * tables (nation/region) copy once so FK targets stay valid and the
    * RI contracts still hold; document text gets per-replica word
    * suffixes so replicas share ZERO shingles (constant near-dup
    * density — a text-identical replication would measure synthetic
    * k-cliques, not the operators; BASELINE.md round-4 note). */
  private def replicate(spark: SparkSession, srcDir: String, outDir: String,
      k: Int): Unit = {
    val S = 100000000L
    def read(n: String) = {
      // events.ts is TIMESTAMP(NANOS), which the vectorized reader
      // rejects — read nanos as long (like Extensions.events) and write
      // them back as long; the downstream reader converts as usual.
      if (n == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$srcDir/$n.parquet")
    }
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    Seq("region", "nation").foreach(n => write(read(n), n))
    def rep(n: String, keys: Seq[String], distinctText: Boolean = false): Unit = {
      val df = read(n)
      val out = (0 until k).map { i =>
        val shifted = keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * S)))
        if (distinctText) shifted.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$i")))))
        else shifted
      }.reduce(_.unionByName(_))
      write(out, n)
    }
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // The SNB queries need CONTIGUOUS person keys (the generated graph's
    // `% count` arithmetic) — a separate replica under $outDir/snb via
    // GraphLoader.snbReplicaTables, read only by snbScaleQueries.
    locally {
      val (cS, oS, lS) = graft.sources.GraphLoader.snbReplicaTables(
        read("customer"), read("orders"), read("lineitem"), k)
      write(cS, "snb/customer"); write(oS, "snb/orders"); write(lS, "snb/lineitem")
    }
    // events deliberately NOT replicated: no scaleQueries entry reads it
    // (an events query added to the subset will fail loudly on the
    // missing file rather than silently time a stale copy)
    rep("documents", Seq("doc_id"), distinctText = true)
    rep("embeddings", Seq("vec_id"))
  }
}
