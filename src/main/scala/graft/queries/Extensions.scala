package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Glove, Pca, Preference, Sampling, Similarity, Sketches, Text}
import graft.operators.{AsOfJoin, RangeJoin}
import graft.plans.SessionMemo

/** Extension queries (SURVEY.md §2.3 E1–E4): the LLM-training-pipeline
  * operators layered over the `documents`/`embeddings`/`events` fixture
  * tables, each with a DuckDB oracle where SQL can express it (simhash is
  * rows-only: 60-bit integer hashing is not sanely SQL-expressible).
  */
object Extensions {

  // Trained artifacts (BPE e58/e59, perceptron e61/e66, unigram
  // vocabulary e63/e64, ...) are deterministic per (session, fixture):
  // they train once and are held as `SessionMemo` checkpoints for their
  // apply/eval consumers (the q59-family SCC-peel pattern).

  // Memoized fixture reads (graft.sources.Tables) — each bare
  // spark.read.parquet re-ran listing + schema inference (~84 ms of
  // driver metadata work per call, the dominant per-query floor term).
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(s, s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(s, s"$dir/embeddings.parquet")
  // WIDE variant (Tables.readWide): a scale-adaptive round-robin
  // fan-out below per-row-expensive single-chain passes (64-dim vector
  // folds, tokenize/gram explodes) — the single-row-group fixture files
  // cap a scan at ONE task, so without it those passes run on one core.
  // Applied PER QUERY and only where measured faster: a query whose
  // plan re-scans the table many times (e72's trainer chains, e87's
  // n-gram legs) pays one added exchange per scan and got SLOWER with
  // a blanket fan-out (r17 A/B), so the default readers stay narrow.
  private def embWide(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.readWide(s, s"$dir/embeddings.parquet")
  /** Normalizes `events.ts` to session-timezone TIMESTAMP regardless of
    * how the fixture stored it. Earlier generations wrote
    * TIMESTAMP(NANOS), which Spark's vectorized Parquet reader rejects —
    * those are read as long nanos and floor-divided to microseconds
    * (exactly DuckDB's nanos->micros truncation; integer `div`, not `/`:
    * epoch nanos ~1.7e18 overflow double precision). Current fixtures
    * store TIMESTAMP(MICROS) without a zone, which Spark infers as
    * TIMESTAMP_NTZ — cast to TIMESTAMP (session tz is UTC everywhere, so
    * the cast is value-preserving and keeps `.as[java.sql.Timestamp]`
    * encoders and event-time windows working unchanged). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.sources.Tables.read(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  val knnQueryIds: Seq[Long] = 0L until 20L
  val KnnK = 10

  // ---- E1: deduplication ----

  def e01_exact_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir))
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")

  def e02_minhash_signature(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(docs(s, dir)).orderBy("doc_id")

  def e03_minhash_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(docs(s, dir)).orderBy("doc_a", "doc_b")

  def e04_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  def e05_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir)).orderBy("doc_id")

  // ---- E2: similarity search ----

  def e06_knn_cosine(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(emb(s, dir), knnQueryIds, KnnK)
      .orderBy("query_id", "neighbor_id")

  def e07_knn_lsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(emb(s, dir), knnQueryIds, KnnK)
      .orderBy("query_id", "neighbor_id")

  // ---- E3: text analysis ----

  def e08_token_stats(s: SparkSession, dir: String): DataFrame =
    Text.tokenStats(docs(s, dir)).orderBy("doc_id")

  def e09_quality_score(s: SparkSession, dir: String): DataFrame =
    Text.qualityScore(docs(s, dir)).orderBy("doc_id")

  def e10_langid(s: SparkSession, dir: String): DataFrame =
    Text.langId(docs(s, dir)).orderBy("doc_id")

  def e11_fingerprint(s: SparkSession, dir: String): DataFrame =
    Text.fingerprints(docs(s, dir)).orderBy("doc_id")

  // ---- E4: event-time windows over the events table ----

  def e12_window_tumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("min_value"), col("max_value"))
      .orderBy("window_start", "event_type")

  /** e13: one-hour windows sliding every 15 minutes, counted per event
    * type. Windows align to the epoch, matching the oracle's
    * `time_bucket`. */
  def e13_window_sliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))
      .orderBy("window_start", "event_type")

  /** e14: session windows per user — events within 30 minutes of each
    * other merge into one session, which ends 30 minutes after its last
    * event. */
  def e14_sessionize(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  def e15_bpe_tokens(s: SparkSession, dir: String): DataFrame =
    Text.bpeTokenCounts(docs(s, dir)).orderBy("doc_id")

  def e16_winnow_fingerprint(s: SparkSession, dir: String): DataFrame =
    Text.winnowFingerprints(docs(s, dir)).orderBy("doc_id")

  /** The composed scale path: LSH candidates -> exact Jaccard verify.
    * Computed FRESH per invocation (the e58/e75 trainer discipline:
    * e17 MEASURES the pipeline; [[nearDupPairsMemo]]'s consumers —
    * e92's positives, e96's relevance truth — read the artifact). */
  def e17_near_dup_pipeline(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(docs(s, dir), threshold = 0.5).orderBy("doc_a", "doc_b")

  /** The e17 near-dup pair relation as a session-lifetime artifact
    * (trainers pay, consumers memoize — VERDICT r12 task 5): e92 and
    * e96 each consumed a full LSH+verify chain of their own before. */
  private def nearDupPairsMemo(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "near_dup_pairs")) {
      Dedup.nearDupPairs(docs(s, dir), threshold = 0.5)
    }

  def e18_distinct_users(s: SparkSession, dir: String): DataFrame =
    Sketches.distinctUsersExact(events(s, dir)).orderBy("event_type")

  def e20_embedding_neardup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairsFast(emb(s, dir), threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Multimodal plumbing end-to-end: binary payload column ->
    * mapPartitions feature extraction. Only the SQL-derivable columns
    * are exposed here (the decode stub's fake dims are library-only). */
  def e19_media_features(s: SparkSession, dir: String): DataFrame = {
    val media = graft.ext.Multimodal.mediaFromDocuments(docs(s, dir))
    graft.ext.Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("byte_len"))
      .orderBy("media_id")
  }

  /** As-of join (the operator Spark lacks natively): each purchase joined
    * to the user's most recent click at or before it. The right side is
    * pre-aggregated to one row per (user, ts) — the as-of contract. */
  def e21_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("click_value"))
    AsOfJoin.backward(purchases, clicks, Seq("user_id"), "purchase_ts", "ts",
        Seq("click_value"), matchedTs = "click_ts")
      // epoch-micros for the nullable matched ts: pandas compares nullable
      // datetime columns of differing storage units raw, so a NULLABLE
      // timestamp column would false-FAIL the oracle gate
      .withColumn("click_ts_us", unix_micros(col("click_ts"))).drop("click_ts")
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Banded range join: clicks in the 30 minutes before each purchase,
    * counted per purchase (zero-match purchases kept at 0). */
  def e22_range_join(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val pairs = RangeJoin.bandedIntervalJoin(purchases, clicks, Seq("user_id"),
      "purchase_ts", "click_ts", loMicros = -30L * 60 * 1000000, hiMicros = 0L)
    val counts = pairs.groupBy("user_id", "purchase_id", "purchase_ts")
      .agg(count(lit(1)).as("cnt"))
    purchases.join(counts, Seq("user_id", "purchase_id", "purchase_ts"), "left")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        coalesce(col("cnt"), lit(0L)).as("n_clicks"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Deterministic IVF centroid picks: 8 vectors spread across the id
    * space (swap for k-means at corpus scale; the dataflow is unchanged). */
  val IvfCentroidIds: Seq[Long] = (0 until 8).map(_ * 63L)
  val IvfNProbe = 2

  def e23_knn_ivf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(s, dir), IvfCentroidIds, knnQueryIds, KnnK, IvfNProbe)
      .orderBy("query_id", "neighbor_id")

  /** Exact quantiles per event type (interpolated, matching DuckDB's
    * quantile_cont definition), rounded to 6 decimals on both sides. */
  /** Semi-structured payloads: the events fixture carries a JSON `props`
    * column; extract a typed field with the codegen'd JSON path
    * function and aggregate — the json-function leg of the scalar
    * surface (SURVEY §2.2). */
  def e26_json_extract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Term importance: top tf-idf-style term per document (log-free
    * rational score so it oracle-checks bit-exactly). */
  def e25_top_tfidf(s: SparkSession, dir: String): DataFrame =
    Text.topTermTfIdf(docs(s, dir)).orderBy("doc_id")

  /** Exact corpus heavy hitters (top-25 tokens; CMS is the scale twin,
    * spec-checked against this in SketchesSpec). */
  def e30_heavy_hitters(s: SparkSession, dir: String): DataFrame =
    Sketches.heavyHittersExact(docs(s, dir), k = 25)

  /** Transitive dedup resolution: every doc mapped to its cluster's
    * canonical survivor (connected components over LSH pairs). */
  def e29_dedup_clusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(docs(s, dir)).orderBy("doc_id")

  /** Deterministic 10% corpus downsample (content-hash membership —
    * the reproducible-sampling leg of the pipeline surface). */
  def e27_hash_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(docs(s, dir), col("doc_id"), fraction = 0.1)
      .select(col("doc_id"), length(col("text")).as("text_len"))
      .orderBy("doc_id")

  /** Deterministic corpus MIXING to target source weights (src0:src1:
    * src2 = 2:1:1 — exact binary doubles, so the SQL replay is
    * bit-identical): the binding group keeps rate 1, the others
    * hash-downsample to the mixture rate — reproducible mixture
    * construction in one pass with no data shuffle
    * ([[graft.ext.Sampling.weightedMix]]). */
  def e40_weighted_mix(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedMix(docs(s, dir), col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Token-budget selection: the best-quality documents whose running
    * token sum fits a 12 000-token budget — the greedy
    * `sum OVER (ORDER BY quality DESC) <= budget` contract computed
    * WITHOUT a global window ([[graft.ext.Sampling.budgetSelect]]:
    * bucket histogram + whole-bucket filter + one boundary-bucket
    * top-up). */
  def e41_token_budget(s: SparkSession, dir: String): DataFrame =
    Sampling.budgetSelect(
        docs(s, dir).select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          Text.qualityScoreCol.as("_q")),
        col("_q"), col("n_tokens"), col("doc_id"), budget = 12000L)
      .select(col("doc_id"), col("n_tokens"))
      .orderBy("doc_id")

  /** Recall@10 of the banded-LSH index against exact brute force — the
    * ANN evaluation harness as a first-class query
    * ([[graft.ext.Similarity.recallAtK]]); the oracle replays BOTH
    * pipelines and the intersection arithmetic. */
  def e43_ann_recall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAtK(
        Similarity.lshTopK(emb(s, dir), knnQueryIds, KnnK),
        Similarity.bruteForceTopK(emb(s, dir), knnQueryIds, KnnK),
        KnnK)
      .orderBy("query_id")

  /** Maximal duplicated token spans at 8-token granularity — the
    * substring-level dedup pass ([[graft.ext.Dedup.duplicatedSpans]]);
    * linear in corpus tokens where a suffix array is not
    * distributable. */
  def e44_duplicated_spans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(s, dir), k = 8)
      .orderBy("doc_id", "span_start")

  /** The cleaning transform over e44's report: every duplicated span
    * excised, untouched documents passed through
    * ([[graft.ext.Dedup.removeDuplicatedSpans]]). */
  def e45_span_removal(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedSpans(docs(s, dir), k = 8)
      .orderBy("doc_id")

  /** The canonical 80/10/10 split over doc_id ([[Sampling.assignSplits]]
    * — membership is a pure key-hash interval, so a document can never
    * migrate splits as the corpus grows). */
  val splitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  def e46_split_assign(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplits(docs(s, dir), col("doc_id"), splitWeights)
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  /** e55: leakage-safe splits ([[graft.ext.Dedup.leakageSafeSplits]]) —
    * the e46 hash-interval assignment keyed on the e29 near-dup cluster
    * representative, so no near-duplicate pair straddles train and
    * test. The oracle composes both replays: the recursive-CTE
    * transitive closure, then the split CASE over md5(keep_id). */
  def e55_leakage_safe_splits(s: SparkSession, dir: String): DataFrame =
    Dedup.leakageSafeSplits(docs(s, dir), splitWeights)
      .orderBy("doc_id")

  /** SemDeDup parameters: 8 clusters, 2 pinned Lloyd rounds (means
    * rounded to 6 decimals — the e32 portability discipline), cosine
    * 0.44 — sized so the sf0.01 fixture yields a nonempty dropped set
    * under balanced ~60-vector cells. */
  val E47K = 8
  val E47Iters = 2
  val E47Threshold = 0.44
  val E80PerCell = 5

  /** e47: semantic dedup (SemDeDup, Abbas et al. 2023) over the
    * embeddings corpus — k-means clustering bounds the pair work,
    * within-cluster cosine >= threshold drops the greater id under the
    * keep-first policy ([[Similarity.semDedup]]). The oracle replays
    * the ENTIRE pipeline in SQL: both Lloyd rounds (the e32 CTE
    * pattern), final assignment, within-cell pairs, min-partner
    * selection. */
  def e47_semdedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(emb(s, dir), k = E47K, iters = E47Iters,
      threshold = E47Threshold, roundDecimals = 6)
      .orderBy("vec_id")

  /** PQ parameters: 4 subspaces x 4 centroids (a 4-byte code per
    * 64-float vector), 2 pinned Lloyd rounds, top-5 for queries 0..9. */
  val E48M = 4
  val E48Ks = 4
  val E48Iters = 2
  val E48TopK = 5
  val E48QueryIds: Seq[Long] = 0L until 10L

  /** e48: product-quantization ANN ([[Similarity.pqTopK]]) — per-subspace
    * L2 codebooks, 4-code encoding, asymmetric-distance top-k. The
    * oracle replays codebook training, encoding, and the ADC lookup sum
    * (DECIMAL-exact) in SQL. */
  def e48_knn_pq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(emb(s, dir), E48QueryIds, E48TopK,
      m = E48M, ks = E48Ks, iters = E48Iters, dims = 64, roundDecimals = 6)
      .orderBy("query_id", "neighbor_id")

  /** IVF-PQ parameters: 8 coarse cells probed 2-deep over the e48 code
    * table. */
  val E50Kc = 8
  val E50NProbe = 2

  /** e50: IVF-PQ ([[Similarity.ivfPqTopK]]) — the inverted file bounds
    * WHICH codes are read, PQ bounds WHAT a read costs. Shares e48's
    * fine codebook parameters; the coarse quantizer is the same PQ
    * machinery with one full-vector subspace. Oracle replays BOTH
    * Lloyd chains, the probe routing, and the ADC sum. */
  def e50_knn_ivfpq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(emb(s, dir), E48QueryIds, E48TopK,
      kc = E50Kc, nprobe = E50NProbe, m = E48M, ks = E48Ks,
      iters = E48Iters, dims = 64, roundDecimals = 6)
      .orderBy("query_id", "neighbor_id")

  /** e54: corpus-LM surprisal quality scores
    * ([[graft.ext.Text.surprisalScores]]) — the CCNet/Gopher perplexity
    * filter reduced to its unigram term with integer floor-log2
    * quantization; exact BIGINT end to end. */
  def e54_surprisal(s: SparkSession, dir: String): DataFrame =
    Text.surprisalScores(docs(s, dir)).orderBy("doc_id")

  /** e53: SQ8 scalar-quantization ANN ([[Similarity.sq8TopK]]) — uint8
    * codes from per-dim min/max ranges, integer code-dot-product
    * candidate generation (top-30), exact cosine re-rank to top-5. The
    * quantized score is integer-exact in both engines (float-exact code
    * values, exactly-summable products), so the oracle replays range
    * training, encoding, candidate selection, and the re-rank. */
  def e53_knn_sq8(s: SparkSession, dir: String): DataFrame =
    Similarity.sq8TopK(emb(s, dir), E48QueryIds, E48TopK,
      rerank = 30, dims = 64)
      .orderBy("query_id", "neighbor_id")

  /** e56: RESIDUAL IVF-PQ ([[Similarity.ivfPqResidualTopK]]) — e50's
    * composition with the fine codes quantizing `x - coarse_centroid`
    * (FAISS's default IVFADC; the refinement e50's doc names as the
    * production next step). Same coarse/fine parameters as e50; the
    * oracle adds the residual construction and the per-probed-cell ADC
    * grid to the two-Lloyd-chain replay. */
  def e56_knn_ivfpq_residual(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqResidualTopK(emb(s, dir), E48QueryIds, E48TopK,
      kc = E50Kc, nprobe = E50NProbe, m = E48M, ks = E48Ks,
      iters = E48Iters, dims = 64, roundDecimals = 6)
      .orderBy("query_id", "neighbor_id")

  /** e72: unified ANN evaluation ([[Similarity.recallScoreboard]]) —
    * every index family scored against exact brute force at its own
    * e-query configuration (LSH/IVF at the e07/e23 setting: queries
    * 0..19, k = 10; PQ/SQ8/residual-IVF-PQ at the e48/e53/e56 setting:
    * queries 0..9, k = 5). One row per method with exact-integer hits
    * and the deterministic single-division recall; the oracle replays
    * ALL five approximate pipelines plus both brute-force baselines
    * and the intersection arithmetic. */
  def e72_ann_recall_harness(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // The six pipelines and two brute-force baselines are INDEPENDENT
    // until the final scoreboard union, but four of them run EAGER
    // driver actions while being built (the brute-force checkpoints;
    // the pinned-Lloyd rounds inside the PQ/residual trainers — one
    // localCheckpoint per round). Built serially those action chains
    // ADD; built on driver threads they OVERLAP and the wall clock is
    // the longest single chain (optimization-guide §2.6 — the
    // Iterative.sccAssignments fwd/bwd precedent; results are exact
    // integer/rounded frames, identical under any job scheduling).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val bf10F = Future(
      Similarity.bruteForceTopK(e, knnQueryIds, KnnK).localCheckpoint())
    val bf5F = Future(
      Similarity.bruteForceTopK(e, E48QueryIds, E48TopK).localCheckpoint())
    // The corpus-side LSH band index is BYTE-IDENTICAL between the
    // plain and multi-probe entries (probing is query-side only), so
    // it is built and materialized ONCE and probed twice — previously
    // each entry re-bucketed the corpus and re-paid the cap window's
    // (band, bh) shuffle of vector-carrying rows.
    val lshIdxF = Future(Similarity.lshCandidateIndex(e).localCheckpoint())
    val residF = Future(Similarity.ivfPqResidualTopK(e, E48QueryIds, E48TopK,
      kc = E50Kc, nprobe = E50NProbe, m = E48M, ks = E48Ks,
      iters = E48Iters, dims = 64, roundDecimals = 6))
    val pqF = Future(Similarity.pqTopK(e, E48QueryIds, E48TopK,
      m = E48M, ks = E48Ks, iters = E48Iters, dims = 64,
      roundDecimals = 6))
    val (bf10, bf5, lshIdx) =
      (Await.result(bf10F, Inf), Await.result(bf5F, Inf),
        Await.result(lshIdxF, Inf))
    Similarity.recallScoreboard(Seq(
        ("ivf", KnnK, bf10,
          Similarity.ivfTopK(e, IvfCentroidIds, knnQueryIds, KnnK, IvfNProbe)),
        ("ivfpq_residual", E48TopK, bf5, Await.result(residF, Inf)),
        ("lsh", KnnK, bf10,
          Similarity.lshTopKWith(e, lshIdx, knnQueryIds, KnnK)),
        ("lsh_multiprobe", KnnK, bf10,
          Similarity.lshTopKWith(e, lshIdx, knnQueryIds, KnnK, probes = 4)),
        ("pq", E48TopK, bf5, Await.result(pqF, Inf)),
        ("sq8", E48TopK, bf5,
          Similarity.sq8TopK(e, E48QueryIds, E48TopK, rerank = 30, dims = 64))))
      .orderBy("method")
  }

  /** e73: nearest neighbors over the TRAINED e71 vectors — the full
    * loop corpus → co-occurrence → [[graft.ext.Glove.train]] → cosine
    * top-3, oracle-gated end to end (the GloveSpec sanity check
    * promoted to the correctness gate). Trained fixed-point vectors
    * pivot to float arrays EXACTLY (|v| < 2^24 at a power-of-two
    * scale, so the float cast is value-preserving and the codegen'd
    * [[graft.functions.dotProduct]] double fold equals DuckDB's
    * double-list arithmetic bit for bit); query tokens are an
    * md5-selected deterministic subset. Brute force is the declared
    * shape here (the trained vocab is model-sized); at corpus scale
    * the e72 ANN family indexes the same vectors. */
  def e73_glove_knn(s: SparkSession, dir: String): DataFrame = {
    val vecs = Glove.train(
      Text.cooccurrence(docs(s, dir).where(col("doc_id") % 20 === 5),
        window = 3),
      dims = E71Dims, rounds = E71Rounds, etaShift = E71EtaShift)
    val wv = vecs.where(col("side") === "w")
      .groupBy(col("t"))
      .agg(sort_array(collect_list(struct(col("k"), col("v")))).as("_kv"))
      .select(col("t"), transform(col("_kv"), e =>
        (e.getField("v").cast("double") / lit(1L << graft.ext.Glove.Shift))
          .cast("float")).as("vec"))
      .localCheckpoint() // both sides of the knn join reread the pivot
    val q = wv.where(pmod(conv(substring(md5(col("t")), 1, 15), 16, 10)
        .cast("long"), lit(7L)) === 0)
      .select(col("t").as("qt"), col("vec").as("qv"))
    val scored = wv.join(broadcast(q), col("qt") =!= col("t"))
      .select(col("qt"), col("t").as("neighbor"),
        round(graft.functions.cosineSimilarity(col("qv"), col("vec")), 9)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qt").orderBy(desc("sim"), asc("neighbor"))
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= 3)
      .drop("_rn")
      .orderBy("qt", "neighbor")
  }

  /** e74: hybrid lexical+dense retrieval with reciprocal-rank fusion
    * ([[graft.ext.Retrieval.rrfFuse]]) — the e60 BM25 top-10 and the
    * exact dense cosine top-10 over the SAME corpus-derived query set
    * (documents and embeddings share the id space), fused by
    * `Σ 2^20 div (60 + rank)` and re-ranked. The production RAG
    * candidate-mining combiner: ranks only, no score calibration. */
  def e74_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val qs = bm25Queries(d)
    val lex = graft.ext.Retrieval.bm25TopK(d, qs, k = 10, excludeSelf = true)
    val dense = graft.ext.Retrieval.denseRanks(emb(s, dir),
      qs.select(col("query_id")), k = 10)
    graft.ext.Retrieval.rrfFuse(lex, dense, k = 10)
      .orderBy("query_id", "rank")
  }

  /** e76: WordPiece tokenizer training
    * ([[graft.ext.Bpe.train]] with `likelihood = true`) — the BERT
    * tokenizer family alongside BPE (e58) and unigram-LM (e63): same
    * merge machinery, but each round merges the pair with the highest
    * corpus-likelihood gain `count(pair) / (count(lhs)·count(rhs))` in
    * eighth-bit integer log space. Computes FRESH per invocation (the
    * e58 trainer discipline: trainers pay, consumers memoize). */
  def e76_wordpiece_train(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bpe.bpeMerges(docs(s, dir), rounds = 8, likelihood = true)
      .orderBy("round")

  /** e75: interpolated bigram-LM perplexity scoring
    * ([[graft.ext.Text.bigramSurprisal]]) — the CCNet-style quality
    * filter one model order above e54: counts train on the held-in
    * 4/5 split (`doc_id % 5 != 3`), every document scores under the
    * frozen model in eighth-bit integer surprisal. Held-out docs see
    * genuinely unseen events, so the split exercises the backoff and
    * unknown floors the fixture would otherwise never hit. */
  def e75_bigram_lm(s: SparkSession, dir: String): DataFrame =
    Text.bigramSurprisal(docs(s, dir), trainFilter = col("doc_id") % 5 =!= 3)
      .orderBy("doc_id")

  /** e79: semantic decontamination
    * ([[graft.ext.Similarity.semanticDecontaminate]]) — the
    * embedding-space leakage detector closing the decontamination
    * matrix (exact e34 / Bloom e51 / fuzzy-lexical e65 / SEMANTIC):
    * corpus vectors scoring cosine >= 0.35 against the `vec_id % 40
    * == 1` benchmark split, reported as dirty pairs. */
  def e79_semantic_decontaminate(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDecontaminate(emb(s, dir),
        benchPred = col("vec_id") % 40 === 1, threshold = 0.35)
      .orderBy("vec_id", "bench_id")

  /** The e75 bigram-LM scoring pass, memoized like [[bpeSyms]]
    * (e75 MEASURES the scorer; e78/e86 consume the memo). */
  private def bigramScored(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "bigram_surprisal")) {
      Text.bigramSurprisal(docs(s, dir), trainFilter = col("doc_id") % 5 =!= 3)
    }

  /** The e101 KN-trigram scoring pass, memoized the same way (e101
    * MEASURES the scorer; e104 consumes the memo). */
  private def knScored(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "kn_trigram_surprisal")) {
      Text.knTrigramSurprisal(docs(s, dir), trainFilter = col("doc_id") % 5 =!= 3)
    }

  /** e104: LM scorer agreement — e86's question asked at the seam the
    * new scorer creates: does the CHEAP bigram-JM perplexity (e75)
    * rank documents like the EXPENSIVE KN trigram (e101)? Spearman
    * over global ranks of the shared `-mean_milli` quality order; a
    * high rho is the license to gate with the bigram and reserve the
    * trigram for the shortlist. Both scoring passes are the memoized
    * artifacts (trainers pay once, consumers compose); ranks are the
    * two-phase bucketed [[graft.ext.Agreement.globalRank]] — the plan
    * that survives a corpus-sized frame, while the bucket choice
    * provably never moves a rank. */
  def e104_lm_agreement(s: SparkSession, dir: String): DataFrame = {
    val b = bigramScored(s, dir).select(col("doc_id"), (-col("mean_milli")).as("q"))
    val k = knScored(s, dir).select(col("doc_id"), (-col("mean_milli")).as("q"))
    def ranked(df: DataFrame) = graft.ext.Agreement.globalRank(df,
      least(greatest(expr("q div 5000"), lit(-33L)), lit(0L)),
      Seq(col("q").asc, col("doc_id").asc))
    graft.ext.Agreement.spearman(Seq(
        "bigram_jm" -> ranked(b), "trigram_kn" -> ranked(k)))
      .orderBy("scorer_a", "scorer_b")
  }

  /** e78: CCNet head/middle/tail perplexity buckets
    * ([[graft.ext.Text.perplexityBucketsFrom]]) — the e75 scores cut
    * into per-language terciles, the split CCNet keeps/down-samples
    * by. Bucket 1 = lowest perplexity. Consumes the MEMOIZED e75
    * scoring pass (trainers pay, consumers memoize). */
  def e78_perplexity_buckets(s: SparkSession, dir: String): DataFrame =
    Text.perplexityBucketsFrom(docs(s, dir), bigramScored(s, dir))
      .orderBy("doc_id")

  /** e80: cluster-balanced coreset sampling
    * ([[graft.ext.Similarity.clusterSample]]) — e47's k-means machinery
    * reused as a DIVERSITY selector: each of the 8 trained cells keeps
    * its 5 most-prototypical vectors (highest cosine to the cell's own
    * centroid), the uniform-quota guard against one dominant mode
    * flooding a sampled corpus. Same k/iters/rounding as e47, so the
    * oracle shares the pinned-Lloyd CTE chain. */
  def e80_cluster_sample(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterSample(emb(s, dir), k = E47K, iters = E47Iters,
        perCell = E80PerCell, roundDecimals = 6)
      .orderBy("cell", "rnk")

  /** e81: Gopher rule-based quality flags
    * ([[graft.ext.Text.gopherRules]]) — the word-level Rae et al. 2021
    * Table-A1 filters as measured statistics plus the composite keep
    * bit; the cheap rule gate that runs AHEAD of the model scorers
    * (e61 perceptron, e75 perplexity) in a production curation stack. */
  def e81_gopher_rules(s: SparkSession, dir: String): DataFrame =
    Text.gopherRules(docs(s, dir)).orderBy("doc_id")

  /** The trained WordPiece segmentation, memoized like [[bpeSyms]]
    * (e76 MEASURES the trainer; consumers read the memo). */
  private def wordpieceSyms(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "wordpiece_syms")) {
      graft.ext.Bpe.train(docs(s, dir), rounds = 8, likelihood = true)._2
    }

  /** e85: tokenizer fertility scoreboard — tokens-per-word for all
    * three trained subword tokenizers (BPE e58, unigram-LM e63,
    * WordPiece e76) over the SAME corpus: the model-selection number a
    * tokenizer choice is actually made on (lower fertility = fewer
    * tokens for the same text = cheaper training and longer effective
    * context). The e72/e83 scoreboard discipline, applied to the
    * tokenizer family; consumes the MEMOIZED artifacts (trainers pay
    * in their own queries), and each leg is one dictionary-join
    * aggregate over the corpus word stream. */
  def e85_tokenizer_fertility(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nWords = d.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .agg(count(lit(1)).as("n_words"))
    def row(method: String, perDoc: DataFrame, cnt: String): DataFrame =
      perDoc.agg(sum(col(cnt)).as("n_tokens"))
        .crossJoin(broadcast(nWords))
        .select(lit(method).as("method"), col("n_words"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"))
    row("bpe", e59_bpe_tokenize(s, dir), "n_bpe_tokens")
      .unionAll(row("unigram", e64_unigram_tokenize(s, dir), "n_tokens"))
      .unionAll(row("wordpiece",
        graft.ext.Bpe.tokenCountsFrom(d, wordpieceSyms(s, dir)), "n_bpe_tokens"))
      .orderBy("method")
  }

  /** e86: quality-scorer agreement
    * ([[graft.ext.Agreement.spearman]] over
    * [[graft.ext.Agreement.globalRank]]) — pairwise Spearman rank
    * correlation between the three quality signals (e09 rule score,
    * e61 classifier margin from the memoized model, e75 bigram
    * perplexity NEGATED so every scorer orients quality-ascending):
    * the number that says whether the cheap rule gate can proxy the
    * expensive model scorers. Ranks are the two-phase monotone-bucket
    * form (no partition-less window); bucket choices are plan-only —
    * the oracle ranks with plain global windows and must agree
    * rank-for-rank. */
  def e86_scorer_agreement(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val rules = Text.qualityScore(d)
    val clf = graft.ext.Classify.score(d, perceptronW(s, dir),
        buckets = E61Buckets)
      .select(col("doc_id"), col("margin"))
    val ppl = bigramScored(s, dir)
      .select(col("doc_id"), (-col("mean_milli")).as("q"))
    val rRules = graft.ext.Agreement.globalRank(rules,
      least(greatest(floor(col("quality_score") * 32), lit(0.0)), lit(31.0))
        .cast("long"),
      Seq(col("quality_score").asc, col("doc_id").asc))
    val rClf = graft.ext.Agreement.globalRank(clf,
      least(greatest(expr("margin div 1024"), lit(-32L)), lit(31L)),
      Seq(col("margin").asc, col("doc_id").asc))
    val rPpl = graft.ext.Agreement.globalRank(ppl,
      least(greatest(expr("q div 5000"), lit(-33L)), lit(0L)),
      Seq(col("q").asc, col("doc_id").asc))
    graft.ext.Agreement.spearman(Seq(
        "classifier" -> rClf, "perplexity" -> rPpl, "rules" -> rRules))
      .orderBy("scorer_a", "scorer_b")
  }

  /** e84: span-level decontamination
    * ([[graft.ext.Dedup.decontaminateSpans]]) — the surgical face of
    * the decontamination family (whole-doc e34 / Bloom e51 / fuzzy e65
    * / semantic e79): every maximal run of training 8-grams that also
    * appears in the `doc_id % 40 == 1` benchmark split is CUT from the
    * document and the rest survives; clean docs pass through with 0
    * tokens removed. */
  def e84_span_decontaminate(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminateSpans(docs(s, dir), benchPred = col("doc_id") % 40 === 1)
      .orderBy("doc_id")

  /** e95: per-source semantic diversity
    * ([[graft.ext.Similarity.clusterDiversity]]) — the eighth-bit
    * entropy of each source's k-means cell distribution (the shared
    * pinned-Lloyd cells of e47/e80), the mixture-design number that
    * says whether a source's VOLUME is worth anything: a billion
    * near-identical pages pile into one cell and read ~0. Vector ids
    * map to sources through the documents table (the fixture's id
    * spaces coincide). */
  def e95_source_diversity(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterDiversity(emb(s, dir),
        docs(s, dir).select(col("doc_id").as("vec_id"), col("source")),
        k = E47K, iters = E47Iters, roundDecimals = 6)
      .orderBy("source")

  /** e96: retrieval-quality scoreboard
    * ([[graft.ext.Retrieval.scoreboard]]) — the e72/e83/e87 measured-
    * not-folklore discipline closing the last scoreboard-less family:
    * BM25 (the e60 ranker), exact dense cosine
    * ([[graft.ext.Retrieval.denseRanks]]) and RRF hybrid fusion (the
    * e74 combiner) each scored as micro precision/recall@10 and MRR
    * against the near-dup relation — the same ground truth e92's
    * positives already trust. Queries are every doc in a verified
    * pair (each has ≥ 1 relevant partner by construction); the truth
    * comes from the MEMOIZED e17 artifact and each rank list is a
    * session-lifetime memo, so the scoreboard prices the MEASUREMENT,
    * not re-running its member pipelines. */
  def e96_retrieval_scoreboard(s: SparkSession, dir: String): DataFrame = {
    val dup = nearDupPairsMemo(s, dir)
    val truth = dup
      .select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"))
      .unionAll(dup.select(col("doc_b").as("query_id"), col("doc_a").as("doc_id")))
    val qids = truth.select(col("query_id")).distinct()
    val d = docs(s, dir)
    val lex = SessionMemo.frame(s, (dir, "e96_lex_ranks")) {
      val qs = d.join(qids, col("doc_id") === col("query_id"))
        .select(col("query_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("q_text"))
      graft.ext.Retrieval.bm25TopK(d, qs, k = KnnK, excludeSelf = true)
    }
    val dense = SessionMemo.frame(s, (dir, "e96_dense_ranks")) {
      graft.ext.Retrieval.denseRanks(emb(s, dir), qids, KnnK)
    }
    val fused = graft.ext.Retrieval.rrfFuse(lex, dense, KnnK)
    graft.ext.Retrieval.scoreboard(
        Seq("bm25" -> lex, "dense" -> dense, "rrf" -> fused),
        truth, qids, KnnK)
      .orderBy("method")
  }

  /** The e97 ingest split: a FIXED-ID-RANGE new batch (doc_id % 5 == 0
    * and doc_id < 1000 — constant-sized once the corpus passes 1000
    * docs, so the 8x scale tier measures cost tracking the BATCH while
    * the corpus grows 8x underneath it) against the frozen remainder. */
  private val e97NewPred: org.apache.spark.sql.Column =
    col("doc_id") % 5 === 0 && col("doc_id") < 1000

  /** e97: batch index-reuse dedup
    * ([[graft.ext.Dedup.dedupAgainstIndex]]) — the production
    * crawl-ingest shape: the corpus's MinHash signature index is built
    * ONCE (a session-lifetime memo standing in for the persisted index
    * table) and a new shard dedups against it by band-probe join +
    * exact verify of only the candidate corpus docs; no corpus
    * signature or shingle is ever recomputed. The restriction law vs
    * [[graft.ext.Dedup.fuzzyJoin]] is pinned in DedupSpec. */
  def e97_index_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.where(!e97NewPred)
    val index = SessionMemo.frame(s, (dir, "minhash_index")) {
      Dedup.minhashSignatures(corpus)
    }
    Dedup.dedupAgainstIndex(d.where(e97NewPred), index, corpus, threshold = 0.5)
      .orderBy("new_id", "corpus_id")
  }

  /** e98: the mixture family composed end to end — e40's deterministic
    * hash mixer CONSUMING e89's DoReMi weights through the fixed-point
    * seam ([[graft.ext.Sampling.weightedMixFp]]): e77 diagnoses the
    * shift, e89 produces `mix_fp`, this query mixes the corpus to those
    * weights, all under ONE oracle so a fixed-point scale mismatch at
    * the interface cannot hide (VERDICT r12 task 7). The reference-LM
    * scoring pass is the memoized e75 artifact. */
  def e98_doremi_mix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val w = Sampling.doremiWeights(d, bigramScored(s, dir), col("source"))
      .select(col("source"), col("mix_fp"))
    Sampling.weightedMixFp(d, col("source"), col("doc_id"), w)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** e99: multi-probe banded LSH ANN ([[graft.ext.Similarity.lshTopK]]
    * with `probes = 4`) — each query band also probes its four
    * Hamming-1 buckets (Lv et al., VLDB'07), the standard recall
    * lever that leaves the corpus-side index UNTOUCHED: recall rises
    * at probe-time cost instead of re-bucketing the corpus with more
    * bands. Same query set, banding, and k as e07, so the e72
    * scoreboard reports the measured recall gain side by side. */
  def e99_knn_lsh_multiprobe(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(emb(s, dir), knnQueryIds, KnnK, probes = 4)
      .orderBy("query_id", "neighbor_id")

  /** e100: the PCA corpus axis ([[graft.ext.Pca.pc1Scores]]) — every
    * vector's exact fixed-point projection onto the corpus's dominant
    * covariance direction, learned by ONE shuffle-free Gram pass (a
    * per-partition 2144-long accumulator, the treeAggregate shape) and
    * a driver-side 64×64 fixed-point power iteration whose integer
    * sequence the oracle replays verbatim as sixteen unrolled CTE
    * rounds. The 1-D axis is the cheap global structure a curation
    * stack keeps reaching for: diversity-aware range sharding, drift
    * monitoring between crawl snapshots, and the first whitening step
    * before cosine-based semantic dedup. */
  def e100_pca_scores(s: SparkSession, dir: String): DataFrame =
    Pca.pc1Scores(emb(s, dir)).orderBy("vec_id")

  /** e105: common-direction removal ([[graft.ext.Pca.removePc1]]) —
    * the whitening transform the e100 axis exists to feed: every
    * vector minus its PC1 component, exact by scaling instead of
    * dividing (w = q·(vᵀv) − (qᵀv)·v — cosine downstream is
    * scale-invariant, so nothing truncates). Long-form output
    * `(vec_id, d, w_fp)`; the algebraic law Σ_d w·v = 0 holds in
    * exact integers (PcaSpec). */
  def e105_pc1_removal(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (n, sArr, g) = Pca.gramPass(e)
    val v = Pca.pc1Direction(n, sArr, g)
    Pca.removePc1(e, v).orderBy("vec_id", "d")
  }

  /** e106: the k-D PCA corpus map ([[graft.ext.Pca.pcaMap]], k = 3) —
    * PC1 plus two repeatedly-deflated directions (exact-integer
    * deflation, λ truncated once per level, the `// vᵀv` rescale
    * keeping the oracle's HUGEINT ledger flat at any k — identical in
    * both engines), giving every vector cheap global coordinates for
    * stratified sharding (the consumer wants 2–4 axes) and drift
    * dashboards. Same single Gram pass as e100; the extra iterations
    * are driver-side 64×64. */
  val E106K = 3
  def e106_pca_map(s: SparkSession, dir: String): DataFrame =
    Pca.pcaMap(emb(s, dir), k = E106K).orderBy("vec_id")

  /** e109: whiten→dedup, END-TO-END under one oracle — the reason the
    * e105 whitening exists ([[graft.ext.Pca.whiten]] scaladoc): remove
    * the corpus's common direction, THEN run SemDeDup's k-means +
    * within-cell cosine over the whitened vectors as ONE plan. The
    * common-direction argument: all-MiniLM-family embeddings share a
    * dominant component that inflates every raw cosine, so raw-space
    * SemDeDup (e47) both over-drops (unrelated pairs pushed past the
    * threshold by the shared component) and mis-clusters; whitened
    * cosines concentrate near zero unless the RESIDUAL directions
    * agree (PcaSpec measures the shift on the fixture — the e104
    * discipline: the law is a measurement, not prose). The threshold
    * is re-sized for the whitened geometry (whitened cosines are
    * lower by construction). Scale shape: e100's Gram pass + a
    * row-local projection + e47's bounded-pair clustering — nothing
    * new at scale; the production k-schedule is
    * [[graft.ext.Similarity.semDedupAuto]]. */
  val E109Threshold = 0.30
  def e109_whitened_semdedup(s: SparkSession, dir: String): DataFrame = {
    // wide input: the Gram fold, the whiten projection and each Lloyd
    // round are full-corpus single-chain passes (measured 4 x ~900 ms
    // single-task jobs on the narrow scan; 2.9 s -> wide ~1.6 s)
    val e = embWide(s, dir)
    val (n, sArr, g) = Pca.gramPass(e)
    val v1 = Pca.pc1Direction(n, sArr, g)
    Similarity.semDedup(Pca.whiten(e, v1), k = E47K, iters = E47Iters,
      threshold = E109Threshold, roundDecimals = 6)
      .orderBy("vec_id")
  }

  /** e107: deterministic weighted sampling
    * ([[graft.ext.Sampling.weightedSample]]) — k = 100 docs drawn
    * ∝ token count without replacement (Efraimidis-Spirakis A-Res in
    * exact quantized log space): the subsample-to-a-budget primitive
    * when longer/higher-weight docs should win proportionally, not
    * deterministically (contrast [[graft.ext.Sampling.budgetSelect]]'s
    * greedy quality argmax and e27's unweighted Bernoulli). */
  val E107K = 100
  def e107_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Sampling.weightedSample(toks, col("doc_id"), col("n_tokens"), E107K)
      .orderBy("doc_id")
  }

  /** e108: axis drift ([[graft.ext.Pca.axisDrift]]) — per-source mean
    * position along the frozen e100 axis for two snapshot halves (the
    * deterministic stand-in for consecutive crawls): the
    * crawl-over-crawl drift monitor, measured. The half is
    * `(id div 20) % 2`, NOT id parity — the fixture assigns source as
    * `id % 20`, so a parity half would put every source entirely in
    * one half and the dashboard would have nothing to compare. Vector
    * ids map to sources through the documents table (the e95
    * precedent). */
  def e108_axis_drift(s: SparkSession, dir: String): DataFrame =
    Pca.axisDrift(emb(s, dir),
        docs(s, dir).select(col("doc_id").as("vec_id"), col("source")),
        half = expr("(vec_id div 20) % 2"))
      .orderBy("source", "half")

  /** e101: interpolated Kneser-Ney trigram perplexity
    * ([[graft.ext.Text.knTrigramSurprisal]]) — the KenLM-shaped filter
    * (CCNet's quality signal) one model order and one smoothing idea
    * up from e75's Jelinek-Mercer bigram: absolute discounting with
    * CONTINUATION-count back-off, D = 3/4 in exact 2^20 fixed point,
    * same held-in train split and the same
    * `(doc_id, n, surprisal8, mean_milli)` output contract, so the
    * two models' scores line up row-for-row for e86-style scorer
    * agreement. */
  def e101_kn_trigram_lm(s: SparkSession, dir: String): DataFrame =
    Text.knTrigramSurprisal(docs(s, dir), trainFilter = col("doc_id") % 5 =!= 3)
      .orderBy("doc_id")

  /** e102: snapshot diff ([[graft.ext.Snapshot.diff]]) — the
    * incremental-processing primitive: which documents a new crawl
    * added, removed, or changed, content-addressed so byte-identical
    * re-crawls read `unchanged`. The fixture derives two snapshots
    * from the documents table (older drops `% 7 == 2` and carries a
    * ` v1` suffix on `% 11 == 0`; newer drops `% 13 == 5`), so all
    * three statuses are populated and deterministic. The changed set
    * IS the downstream re-process work-list — the e97 cost-tracks-the-
    * delta discipline applied pipeline-wide. */
  def e102_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val older = d.where(col("doc_id") % 7 =!= 2)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    val newer = d.where(col("doc_id") % 13 =!= 5)
    graft.ext.Snapshot.diff(older, newer).orderBy("doc_id")
  }

  /** e110: delta-driven dashboard refresh
    * ([[graft.ext.Snapshot.refreshHealth]]) — the e102 snapshot seam
    * COMPOSED with its downstream consumer: the e39 corpus-health
    * rollup is frozen as mergeable mass on the older snapshot (the
    * memoized base — dashboards compute once, refreshes consume), a
    * crawl lands, and the NEW dashboard is produced by subtracting the
    * removed/changed-old contributions and adding the added/changed-new
    * ones — re-featurizing ONLY the delta. The oracle is the FULL
    * recompute over the newer snapshot, so the hash match IS the proof
    * that incremental maintenance loses nothing (the q49 discipline
    * applied to the aggregate family). The delta is BOUNDED (ids under
    * fixed caps — the e97 fixed-batch discipline), so the 8× tier
    * measures cost tracking the constant delta plus the 16-byte hash
    * diff, never the corpus's feature work. */
  val E110AddedCap = 1400L // ids absent from older, present in newer
  val E110ChangedCap = 1100L // ids whose older text carries the bump
  val E110RemovedCap = 1300L // ids present in older, absent from newer
  /** The bounded-delta snapshot pair shared by e110 and e111. */
  private def e110Snapshots(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    val older = d
      .where(not((col("doc_id") % 7 === 2) && (col("doc_id") < E110AddedCap)))
      .withColumn("text",
        when((col("doc_id") % 11 === 0) && (col("doc_id") < E110ChangedCap),
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
    val newer = d
      .where(not((col("doc_id") % 13 === 5) && (col("doc_id") < E110RemovedCap)))
    (older, newer)
  }

  def e110_incremental_health(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val base = SessionMemo.frame(s, (dir, "health_base_110")) {
      graft.ext.Snapshot.healthSums(older)
    }
    graft.ext.Snapshot.refreshHealth(base, older, newer)
      .orderBy("source", "lang")
  }

  /** e111: delta-driven heavy-hitter refresh
    * ([[graft.ext.Snapshot.refreshHeavyHitters]]) — the e110 seam
    * applied to the sketch family's exact anchor: the frozen per-term
    * count frame (vocabulary-sized memo — a top-k is not mergeable,
    * its source frame is) absorbs the delta's signed token counts and
    * the top-25 re-derives. Oracle = the FULL e30 recompute over the
    * newer snapshot, so the hash match proves the incremental merge
    * exact. Same bounded delta as e110. */
  def e111_incremental_hh(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val base = SessionMemo.frame(s, (dir, "term_counts_110")) {
      graft.ext.Snapshot.termCounts(older)
    }
    graft.ext.Snapshot.refreshHeavyHitters(base, older, newer, k = 25)
  }

  /** e112: delta-driven MinHash-index maintenance
    * ([[graft.ext.Snapshot.refreshSignatureIndex]]) — the composition
    * that makes e97's frozen index SUSTAINABLE across crawls: the base
    * signature index (memoized — built once offline) absorbs the
    * delta by one anti join + a re-sign of only the added/changed
    * docs. Oracle = the FULL universal-hash signature build over the
    * newer snapshot, so the hash match proves the maintained index
    * indistinguishable from a rebuild. Same bounded delta as e110. */
  def e112_incremental_index(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val base = SessionMemo.frame(s, (dir, "sig_index_110")) {
      Dedup.minhashSignatures(older)
    }
    graft.ext.Snapshot.refreshSignatureIndex(base, older, newer)
      .orderBy("doc_id")
  }

  /** e113: delta-driven BM25-index maintenance
    * ([[graft.ext.Snapshot.refreshBm25Index]]) — the incremental seam
    * on the retrieval surface: the frozen inverted index (postings /
    * doc lengths / document frequencies, memoized — a search service's
    * warm state) absorbs the bounded delta (per-doc frames upsert,
    * term-grain df merges signed) and e60's scoring runs over the
    * MAINTAINED index via [[graft.ext.Retrieval.bm25TopKFromIndex]].
    * Oracle = e60's full replay over the newer snapshot, so the hash
    * match proves the maintained index indistinguishable from a
    * rebuild all the way through ranking. */
  def e113_incremental_bm25(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    // ONE tokenize pass over the older snapshot: postings materialize
    // first, dfreq derives from the CHECKPOINTED postings, and dl is a
    // row-local projection (advisor, round 14 — the previous form
    // re-tokenized the older corpus once per memoized frame).
    val basePostings = SessionMemo.frame(s, (dir, "bm25_post_110")) {
      graft.ext.Retrieval.buildBm25Index(older).postings
    }
    val base = graft.ext.Retrieval.Bm25Index(
      basePostings,
      SessionMemo.frame(s, (dir, "bm25_dl_110")) {
        graft.ext.Retrieval.buildBm25Index(older).dl
      },
      SessionMemo.frame(s, (dir, "bm25_df_110")) {
        graft.ext.Retrieval.dfreqOf(basePostings)
      })
    val idx = graft.ext.Snapshot.refreshBm25Index(base, older, newer)
    graft.ext.Retrieval.bm25TopKFromIndex(idx, bm25Queries(newer),
      k = 10, excludeSelf = true)
      .orderBy("query_id", "rank")
  }

  /** e114: delta-driven PCA-axis maintenance ([[graft.ext.Pca.mergeGram]])
    * — the incremental seam reaching the LINEAR-ALGEBRA state: the
    * Gram state (n, s, G) is pure integer sums, so the frozen base
    * (memoized — computed once offline) absorbs the vector delta by
    * two delta-sized Gram passes and a driver-side signed merge, and
    * the axis re-derives from the merged state bit-identically to a
    * full rebuild. Oracle = the e100 replay over the newer snapshot.
    * Embedding rows are immutable keyed vectors, so the delta is
    * add/remove only (a changed vector is remove+add); the bounded id
    * caps are the e110 discipline. */
  def e114_incremental_pca(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val older = e
      .where(not((col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap)))
    val newer = e
      .where(not((col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap)))
    val base = SessionMemo(s, (dir, "gram_base_114")) { Pca.gramPass(older) }
    val sub = Pca.gramPass(older.where(
      (col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap)))
    val add = Pca.gramPass(newer.where(
      (col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap)))
    val (n, sv, g) = Pca.mergeGram(base, sub, add)
    val v = Pca.pc1Direction(n, sv, g)
    newer.select(col("vec_id"), Pca.pc1Col(col("embedding"), v).as("pc1_fp"))
      .orderBy("vec_id")
  }

  /** e115: ONE diff, EVERY incremental consumer — the composed
    * crawl-over-crawl maintenance pass a production pipeline actually
    * runs (the e31 one-plan discipline applied to the incremental
    * seam): [[graft.ext.Snapshot.deltaWorkLists]] computes the
    * content-addressed diff ONCE (the single full-outer hash join,
    * materialized delta-sized at cut time) and the SAME work-list pair
    * feeds all five frozen artifacts — health mass (e110), the
    * heavy-hitter count frame (e111), the MinHash signature index
    * (e112), the BM25 inverted index (e113, read through its top-k
    * serving face), and the PCA Gram state (e114: the doc work-lists
    * drive the embeddings delta too — vec_ids ⊆ doc_ids by fixture
    * contract, and a text-changed doc's unchanged vector enters both
    * signed Gram passes and cancels exactly, so the merged state
    * equals a full pass over the newer vectors set-algebraically).
    * Output = the five maintained artifacts in one long-format frame
    * `(artifact, k1, k2, v)`; oracle = the UNION of the five FULL
    * recomputes over the newer snapshot, so a single hash match proves
    * every consumer exact off the shared diff. PlanAuditSpec pins the
    * shape: the composition's live plan contains ZERO full-outer
    * joins — the one diff already ran, delta-sized, at cut time.
    * (The round-15 seam additions — the co-occurrence matrix (e119)
    * and the bigram-LM counts (e120) — accept the same shared pair
    * via their `refresh*With` forms; they stay out of this
    * composition so its five-recompute oracle and its committed
    * record stay stable.) */
  def e115_incremental_all(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val snap = graft.ext.Snapshot
    // Frozen bases — memoized once per session under the SAME keys as
    // e110–e114 (they are the same offline artifacts; untimed warm-up).
    val healthBase = SessionMemo.frame(s, (dir, "health_base_110")) {
      snap.healthSums(older)
    }
    val hhBase = SessionMemo.frame(s, (dir, "term_counts_110")) {
      snap.termCounts(older)
    }
    val sigBase = SessionMemo.frame(s, (dir, "sig_index_110")) {
      Dedup.minhashSignatures(older)
    }
    val basePostings = SessionMemo.frame(s, (dir, "bm25_post_110")) {
      graft.ext.Retrieval.buildBm25Index(older).postings
    }
    val bmBase = graft.ext.Retrieval.Bm25Index(
      basePostings,
      SessionMemo.frame(s, (dir, "bm25_dl_110")) {
        graft.ext.Retrieval.buildBm25Index(older).dl
      },
      SessionMemo.frame(s, (dir, "bm25_df_110")) {
        graft.ext.Retrieval.dfreqOf(basePostings)
      })
    val e = emb(s, dir)
    val olderE = e
      .where(not((col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap)))
    val newerE = e
      .where(not((col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap)))
    val gramBase = SessionMemo(s, (dir, "gram_base_114")) { Pca.gramPass(olderE) }

    // THE one diff — computed once, shared by all five consumers.
    val (subIds, addIds) = snap.deltaWorkLists(older, newer)

    // The two artifacts projected into MULTIPLE long-format branches
    // below (health ×3, the BM25 top-k ×2) are cut once at their tiny
    // final grain — group-sized mass rows, |Q|·10 ranks — so the union
    // fan-out re-reads the materialized rows instead of re-running the
    // merge/scoring pipelines per branch (measured: the uncut plan
    // paid the BM25 scoring stage twice, ~2× on the whole query).
    // Zero-mass groups drop (advisor, round 15): a group whose docs
    // ALL leave in the delta cancels to an exact (0, 0, 0) mass row
    // that the oracle's full recompute never shows — the same
    // zero-drop finishHealth applies at read time (n_docs = 0 implies
    // every sum is 0, so the filter IS the full-recompute law).
    // The five artifact branches are INDEPENDENT once the shared diff
    // is cut, but three of them run EAGER actions (the health and BM25
    // final-grain cuts; the two delta Gram folds) — overlapped on
    // driver threads so the wall clock is the longest branch, not the
    // sum (optimization-guide §2.6; the e72/sccAssignments pattern).
    // hh and sig stay lazy and execute inside the final union job.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val healthF = Future(graft.plans.Supersteps.cut(
      snap.refreshHealthSumsWith(healthBase, older, newer, subIds, addIds)
        .where(col("n_docs") > 0)))
    val hh = snap.refreshHeavyHittersWith(hhBase, older, newer,
      subIds, addIds, k = 25)
    val sig = snap.refreshSignatureIndexWith(sigBase, newer, subIds, addIds)
    val bmIdx = snap.refreshBm25IndexWith(bmBase, older, newer,
      subIds, addIds)
    val bmF = Future(graft.plans.Supersteps.cut(
      graft.ext.Retrieval.bm25TopKFromIndex(bmIdx, bm25Queries(newer),
        k = 10, excludeSelf = true)))
    val subGF = Future(Pca.gramPass(
      olderE.join(subIds, col("vec_id") === col("doc_id"), "left_semi")))
    val addGF = Future(Pca.gramPass(
      newerE.join(addIds, col("vec_id") === col("doc_id"), "left_semi")))
    val health = Await.result(healthF, Inf)
    val bm = Await.result(bmF, Inf)
    val (n, sv, g) = Pca.mergeGram(gramBase,
      Await.result(subGF, Inf), Await.result(addGF, Inf))
    val v = Pca.pc1Direction(n, sv, g)
    val pca = newerE.select(col("vec_id"),
      Pca.pc1Col(col("embedding"), v).as("pc1_fp"))

    def longForm(src: DataFrame, a: String, k1: org.apache.spark.sql.Column,
        k2: org.apache.spark.sql.Column,
        v: org.apache.spark.sql.Column): DataFrame =
      src.select(lit(a).as("artifact"), k1.cast("string").as("k1"),
        k2.cast("string").as("k2"), v.cast("long").as("v"))
    val sigLong = sig.select(col("doc_id"),
      explode(map((0 until Dedup.NumHashes)
        .flatMap(j => Seq(lit(s"h$j"), col(s"h$j"))): _*)))
    longForm(health, "health:docs", col("source"), col("lang"), col("n_docs"))
      .unionByName(longForm(health, "health:tokens", col("source"),
        col("lang"), col("sum_tokens")))
      .unionByName(longForm(health, "health:q1e6", col("source"),
        col("lang"), col("sum_q") * 1000000))
      .unionByName(longForm(hh, "hh", col("term"), lit(""), col("freq")))
      .unionByName(longForm(sigLong, "sig", col("doc_id"), col("key"),
        col("value")))
      .unionByName(longForm(bm, "bm25:doc", col("query_id"), col("rank"),
        col("doc_id")))
      .unionByName(longForm(bm, "bm25:score", col("query_id"), col("rank"),
        col("score_fp")))
      .unionByName(longForm(pca, "pca", col("vec_id"), lit(""),
        col("pc1_fp")))
      .orderBy("artifact", "k1", "k2")
  }

  /** e116: delta-driven IVF-assignment maintenance
    * ([[graft.ext.Snapshot.refreshIvfAssignments]]) — the incremental
    * seam closing over the ANN SERVING index, the one frozen artifact
    * e112–e114 left outside it: under the FROZEN e23 coarse quantizer
    * (centroids are the persistent serving artifact; the e108
    * axis-drift alarm is the retrain trigger) the base assignment
    * lists absorb the vector delta by one anti join + a broadcast-k
    * re-assign of only the added vectors. Embedding rows are immutable
    * keyed vectors, so the delta is add/remove only (the e114
    * discipline, same bounded id caps). Oracle = the FULL assignment
    * replay over the newer snapshot, so the hash match proves the
    * maintained serving index indistinguishable from a rebuild. */
  def e116_incremental_ann(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val older = e
      .where(not((col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap)))
    val newer = e
      .where(not((col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap)))
    // The frozen quantizer + its base assignment lists (offline
    // artifacts, memoized once per session — untimed warm-up). The e23
    // centroid picks are all %7==0 ids, so every centroid vector
    // exists in the older snapshot.
    val centroids = SessionMemo.frame(s, (dir, "ivf_cen_116")) {
      older.where(col("vec_id").isin(IvfCentroidIds: _*))
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    }
    val base = SessionMemo.frame(s, (dir, "ivf_asg_116")) {
      Similarity.ivfAssignments(older, centroids)
    }
    val subIds = older.where(
      (col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap))
      .select("vec_id")
    val addIds = newer.where(
      (col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap))
      .select("vec_id")
    graft.ext.Snapshot.refreshIvfAssignments(base, newer, centroids,
      subIds, addIds)
      .orderBy("vec_id")
  }

  /** e117: the PRODUCTION SemDeDup schedule under the gate (VERDICT
    * r14 task 6): [[graft.ext.Similarity.semDedupAuto]] derives
    * k = ⌈n / targetCell⌉ from ONE corpus count — k grows with the
    * corpus so per-cell pair work stays O(targetCell²) and total work
    * linear (the remedy the e47 fixed-k contract points at; e47 holds
    * k constant BY DESIGN, which is what makes its pair stage n²/k).
    * The oracle replays the e47 chain AT THE DERIVED k, pinned as a
    * literal for the sf0.01 fixture the correctness gate runs on
    * (500 vectors / targetCell 50 = 10); the Spark side keeps deriving
    * k from the data at every SF, so the bench tier measures the
    * production schedule itself. */
  val E117TargetCell = 50
  def e117_semdedup_auto(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAuto(emb(s, dir), targetCell = E117TargetCell,
      iters = E47Iters, threshold = E47Threshold, roundDecimals = 6)
      .orderBy("vec_id")

  /** e118: delta-stable packing
    * ([[graft.ext.Packing.repackDirtyShards]]) — the incremental seam
    * reaching the TRAINING-SHARD layout (VERDICT r14 task 7: e38's
    * contiguous packing is order-dependent WITHIN a shard, so without
    * this operator a small crawl delta would invalidate every exported
    * shard): shard membership is id-pure, so only the shards holding
    * delta ids re-pack from the newer snapshot; every clean shard's
    * rows pass through from the frozen base packing byte-identically
    * (the PackingSpec law — those shard files never rewrite). Oracle =
    * e38's FULL repack replay over the newer snapshot, so the hash
    * match proves the dirty-shard path indistinguishable from a
    * rebuild. Same bounded delta as e110; the delta ids come from the
    * content-addressed diff, so a text-changed doc (whose token count
    * moved) correctly dirties its shard. */
  def e118_delta_repack(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    def toks(d: DataFrame) = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val base = SessionMemo.frame(s, (dir, "pack_base_118")) {
      graft.ext.Packing.contiguousPack(toks(older), col("doc_id"),
          col("n_tokens"), E38Budget, E38Shards)
        .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack_id"))
    }
    val (subIds, addIds) = graft.ext.Snapshot.deltaWorkLists(older, newer)
    graft.ext.Packing.repackDirtyShards(base, toks(newer),
        subIds.unionByName(addIds), col("doc_id"), col("n_tokens"),
        E38Budget, E38Shards)
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack_id"))
      .orderBy("doc_id")
  }

  /** e119: delta-driven co-occurrence maintenance
    * ([[graft.ext.Snapshot.refreshCooccurrence]]) — the incremental
    * seam reaching the embedding-training input: the frozen
    * (center, context) weight frame (pair-grain memo — the artifact
    * GloVe trains from) absorbs the bounded delta's signed pair mass
    * and the e68 top-100 re-derives from the merged frame. Oracle =
    * the FULL e68 recompute over the newer snapshot, so the hash
    * match proves the crawl→retrain input exact without re-windowing
    * the corpus. Same bounded delta as e110. */
  def e119_incremental_cooc(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val base = SessionMemo.frame(s, (dir, "cooc_base_110")) {
      Text.cooccurrence(older, window = 3)
    }
    graft.ext.Snapshot.refreshCooccurrence(base, older, newer, window = 3)
      .orderBy(desc("weight_fp"), col("center"), col("context"))
      .limit(100)
  }

  /** e120: delta-driven bigram-LM maintenance
    * ([[graft.ext.Snapshot.refreshBigramCounts]]) — the incremental
    * seam reaching the perplexity-filter model: the frozen train-split
    * count frames (the artifact e75's scorer derives from) absorb
    * the bounded delta restricted to the train split, and e75's scoring
    * runs over the NEWER corpus under the maintained model. Oracle =
    * e75's full retrain+rescore replay over the newer snapshot, so
    * the hash match proves model maintenance exact through scoring.
    * Same bounded delta as e110. */
  def e120_incremental_lm(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val trainF = col("doc_id") % 5 =!= 3
    val base = Text.BigramCounts(
      SessionMemo.frame(s, (dir, "lm_big_110")) {
        Text.buildBigramCounts(older.where(trainF)).big
      },
      SessionMemo.frame(s, (dir, "lm_uni_110")) {
        Text.buildBigramCounts(older.where(trainF)).uni
      })
    val m = graft.ext.Snapshot.refreshBigramCounts(base, older, newer, trainF)
    Text.bigramSurprisalFrom(m, newer).orderBy("doc_id")
  }

  /** e121: delta-driven KN-trigram maintenance
    * ([[graft.ext.Snapshot.refreshTrigramCounts]]) — e120's seam one
    * model order up, closing the LM family: the frozen train-split
    * trigram frame (the ONE artifact every continuation count derives
    * from) absorbs the bounded delta and e101's full KN scoring runs
    * over the NEWER corpus under the maintained model. Oracle = e101's
    * full retrain+rescore replay over the newer snapshot. */
  def e121_incremental_kn(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val trainF = col("doc_id") % 5 =!= 3
    val base = SessionMemo.frame(s, (dir, "kn_c3_110")) {
      Text.buildTrigramCounts(older.where(trainF))
    }
    // The scorer derives five frames from the maintained c3 — cut the
    // merged frame once at model grain (the e115 final-grain lesson;
    // a production index is persisted anyway) or every derivation
    // re-runs the signed union.
    val c3 = graft.plans.Supersteps.cut(
      graft.ext.Snapshot.refreshTrigramCounts(base, older, newer, trainF))
    Text.knTrigramSurprisalFrom(c3, newer).orderBy("doc_id")
  }

  /** e122: ONE diff, every RETRAIN input — the e115 composition
    * applied to the round-15 seam members: the same materialized
    * work-list pair maintains the co-occurrence matrix (e119), the
    * bigram-LM counts (e120, served through e75's scorer) and the KN
    * trigram frame (e121, served through e101's), in one session under
    * one oracle (the union of the three full retrain replays over the
    * newer snapshot, long-format like e115). The LM score frames are
    * cut at doc grain before the union fan-out (each projects into
    * three metric branches — the e115 final-grain lesson). */
  def e122_incremental_retrain_inputs(s: SparkSession, dir: String): DataFrame = {
    val (older, newer) = e110Snapshots(s, dir)
    val snap = graft.ext.Snapshot
    val trainF = col("doc_id") % 5 =!= 3
    val coocBase = SessionMemo.frame(s, (dir, "cooc_base_110")) {
      Text.cooccurrence(older, window = 3)
    }
    val lmBase = Text.BigramCounts(
      SessionMemo.frame(s, (dir, "lm_big_110")) {
        Text.buildBigramCounts(older.where(trainF)).big
      },
      SessionMemo.frame(s, (dir, "lm_uni_110")) {
        Text.buildBigramCounts(older.where(trainF)).uni
      })
    val knBase = SessionMemo.frame(s, (dir, "kn_c3_110")) {
      Text.buildTrigramCounts(older.where(trainF))
    }

    // THE one diff.
    val (subIds, addIds) = snap.deltaWorkLists(older, newer)

    val co = snap.refreshCooccurrenceWith(coocBase, older, newer,
        subIds, addIds, window = 3)
      .orderBy(desc("weight_fp"), col("center"), col("context"))
      .limit(100)
    // The two LM serving legs are INDEPENDENT once the shared diff is
    // cut, but each runs eager doc-grain cut actions (kn two of them,
    // back to back) — overlapped on driver threads (guide §2.6; the
    // e72/e115 pattern), so the wall clock is max(lm, kn), not the sum.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val lmF = Future(graft.plans.Supersteps.cut(Text.bigramSurprisalFrom(
      snap.refreshBigramCountsWith(lmBase, older, newer, subIds, addIds,
        trainF), newer)))
    val knF = Future(graft.plans.Supersteps.cut(Text.knTrigramSurprisalFrom(
      graft.plans.Supersteps.cut(snap.refreshTrigramCountsWith(knBase,
        older, newer, subIds, addIds, trainF)), newer)))
    val lm = Await.result(lmF, Inf)
    val kn = Await.result(knF, Inf)

    def longForm(src: DataFrame, a: String, k1: org.apache.spark.sql.Column,
        k2: org.apache.spark.sql.Column,
        v: org.apache.spark.sql.Column): DataFrame =
      src.select(lit(a).as("artifact"), k1.cast("string").as("k1"),
        k2.cast("string").as("k2"), v.cast("long").as("v"))
    longForm(co, "cooc", col("center"), col("context"), col("weight_fp"))
      .unionByName(longForm(lm, "lm:n", col("doc_id"), lit(""),
        col("n_bigrams")))
      .unionByName(longForm(lm, "lm:s8", col("doc_id"), lit(""),
        col("surprisal8")))
      .unionByName(longForm(lm, "lm:mean", col("doc_id"), lit(""),
        col("mean_milli")))
      .unionByName(longForm(kn, "kn:n", col("doc_id"), lit(""),
        col("n_trigrams")))
      .unionByName(longForm(kn, "kn:s8", col("doc_id"), lit(""),
        col("surprisal8")))
      .unionByName(longForm(kn, "kn:mean", col("doc_id"), lit(""),
        col("mean_milli")))
      .orderBy("artifact", "k1", "k2")
  }

  /** e123: bounded-sample quantizer training under the gate (VERDICT
    * r15 task 1) — [[graft.ext.Similarity.semDedupAuto]] with its
    * train-sample cap LOWERED so the sf-fixture corpus crosses it:
    * the quantizer trains on a deterministic
    * [[graft.ext.Sampling.hashSample]] subset (expected
    * `E123MaxTrainRows` rows), then ONE full-corpus broadcast-k
    * assignment + e47's within-cell pair stage. This converts the
    * production schedule's O(n·k·iters) full-train bound — the last
    * super-linear term on the dedup path — into O(cap·k·iters),
    * linear since k ∝ n. Membership is a pure function of vec_id, so
    * the oracle replays the WHOLE chain: the e47 CTEs with the train
    * side filtered by the same 60-bit md5 threshold, init stride and
    * per-round means over the sample's own count, final assignment
    * over the full corpus (k and the threshold pinned as literals for
    * the 500-vector gate fixture — the e117 discipline; the Spark
    * side derives both from the data at every SF, so the 8x tier
    * measures the production sampled schedule itself). */
  val E123MaxTrainRows = 250L
  def e123_semdedup_sampled(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAuto(emb(s, dir), targetCell = E117TargetCell,
      iters = E47Iters, threshold = E47Threshold, roundDecimals = 6,
      maxTrainRows = E123MaxTrainRows)
      .orderBy("vec_id")

  /** e124: drift-triggered quantizer retrain, composed end-to-end
    * (VERDICT r15 task 7) — the prose seam between e108 and e116 made
    * ONE gate-checked query: measure the newer snapshot's shift along
    * the older snapshot's frozen PC1 (exact fixed-point milli means —
    * the axisDrift arithmetic at snapshot grain), compare against
    * `E124DriftThresholdMilli`, and EITHER fully retrain the coarse
    * quantizer on the newer snapshot (pinned-Lloyd, e47's chain at
    * k = `E124K`) and reassign every vector, OR keep the maintained
    * e116 path (frozen quantizer + delta re-assign). The branch
    * condition is exact integer arithmetic, so the oracle replays it:
    * both paths are CTEs, each emitted under the complementary WHERE
    * on the same drift scalar — whichever the data selects, Spark
    * executed the same one. The two mean collects are 1-row folds
    * (the trainCentroids count precedent); the drift rides every
    * output row so the gate hashes the trigger arithmetic, not just
    * the branch outcome. Threshold units are frozen-axis pc1 MILLI
    * (the e108 scale): the sf0.01 fixture's add/remove caps move the
    * mean by ~5.7e10, so 1e10 fires the RETRAIN leg under the gate —
    * the leg only this query checks (the maintained leg is e116's
    * arithmetic, green under its own entry, and was verified here too
    * by a one-off run above the drift). */
  val E124K = 8
  val E124DriftThresholdMilli = 10000000000L
  def e124_drift_retrain(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val olderE = e
      .where(not((col("vec_id") % 7 === 2) && (col("vec_id") < E110AddedCap)))
    val newerE = e
      .where(not((col("vec_id") % 13 === 5) && (col("vec_id") < E110RemovedCap)))
    // The frozen axis: PC1 of the OLDER snapshot (the same memoized
    // Gram state e114/e115 hold — the offline artifact).
    val (n, sv, g) = SessionMemo(s, (dir, "gram_base_114")) { Pca.gramPass(olderE) }
    val v = Pca.pc1Direction(n, sv, g)
    def meanMilli(snap: DataFrame): Long = snap
      .select(Pca.pc1Col(col("embedding"), v).as("_p"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("_p").cast("decimal(38,0)")).as("_sp"))
      .select(expr("CAST((_sp * 1000) div n_vecs AS BIGINT)").as("m"))
      .head.getLong(0)
    val drift = math.abs(meanMilli(newerE) - meanMilli(olderE))
    val out =
      if (drift >= E124DriftThresholdMilli) {
        val cen = Similarity.trainCentroids(newerE, E124K, E47Iters,
          roundDecimals = 6)
        Similarity.ivfAssignments(newerE, cen)
          .withColumn("path", lit("retrain"))
      } else
        e116_incremental_ann(s, dir).withColumn("path", lit("maintained"))
    out.withColumn("drift_milli", lit(drift)).orderBy("vec_id")
  }

  /** e94: quality-aware canonical selection
    * ([[graft.ext.Dedup.keepBestPerCluster]]) — every near-dup
    * cluster's survivor chosen by ARGMAX e09 quality (ties to the
    * smaller id) instead of min-id: keep the cleanest copy, not the
    * first-crawled one. `doc_id == best_id` marks the survivors. */
  def e94_keep_best(s: SparkSession, dir: String): DataFrame =
    Dedup.keepBestPerCluster(docs(s, dir), Text.qualityScoreCol)
      .orderBy("doc_id")

  /** e92: BM25 hard-negative mining
    * ([[graft.ext.Retrieval.hardNegatives]]) — the DPR training-data
    * prep: for each e60 query, the top-5 BM25 candidates AFTER
    * excluding the query doc and its verified near-duplicates (the
    * would-be positives, from the MEMOIZED e17 near-dup artifact —
    * e17 measures the LSH+verify chain, e92 consumes it) —
    * lexically-close verified-non-relevant docs, the negatives that
    * teach a dense retriever. Filter-then-rank: a positive inside the
    * raw top-5 frees its slot. */
  def e92_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dup = nearDupPairsMemo(s, dir)
    val positives = dup
      .select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"))
      .unionAll(dup.select(col("doc_b").as("query_id"), col("doc_a").as("doc_id")))
    graft.ext.Retrieval.hardNegatives(d, bm25Queries(d), positives, k = 5)
      .orderBy("query_id", "rank")
  }

  /** e91: keep/drop rater agreement ([[graft.ext.Agreement.kappa]]) —
    * pairwise Cohen's kappa between the three binary gates a curation
    * stack actually wires in sequence (e81 gopher keep, the e09 rule
    * score thresholded at 0.53 (the fixture median, so the rater
    * SPLITS rather than degenerating), the e61 classifier margin sign): the
    * chance-corrected DECISION-level complement of e86's rank
    * agreement, the label-QC number that says whether the cheap gate
    * can stand in for the expensive one. Classifier margins come from
    * the memoized model. */
  def e91_rater_kappa(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clf = graft.ext.Classify.score(d, perceptronW(s, dir),
        buckets = E61Buckets)
      .select(col("doc_id"),
        when(col("margin") > 0, 1L).otherwise(0L).as("flag"))
    val gop = Text.gopherRules(d)
      .select(col("doc_id"), col("keep").cast("long").as("flag"))
    val rules = Text.qualityScore(d)
      .select(col("doc_id"),
        when(col("quality_score") >= 0.53, 1L).otherwise(0L).as("flag"))
    graft.ext.Agreement.kappa(Seq(
        "classifier" -> clf, "gopher" -> gop, "rules" -> rules))
      .orderBy("rater_a", "rater_b")
  }

  /** e90 MM round count — enough for the ring fixture's ratings to
    * separate cleanly while keeping the serial superstep floor small. */
  val E90Rounds = 6

  /** e90: Bradley-Terry preference aggregation
    * ([[graft.ext.Preference.bradleyTerry]]) — the reward-model
    * data-prep step: pairwise comparisons fitted to scalar ratings by
    * the MM update in exact 2^20 fixed point, 6 unrolled rounds. The
    * fixture's comparison log is the deterministic source-ring
    * derivation (each doc plays its successor, winner = higher e09
    * quality score, ties to the smaller id); production input is the
    * logged comparisons themselves. */
  def e90_bradley_terry(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val scored = Text.qualityScore(d)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
    // bucketWidth 64: the fixture's id span (500 at sf0.01) cuts into
    // ~8 buckets per source, so the oracle run exercises the two-phase
    // stitching (next-bucket successor), not just the within-bucket lead
    Preference.bradleyTerry(
        Preference.ringGames(scored, col("source"), col("quality_score"),
          bucketWidth = 64L),
        rounds = E90Rounds)
      .select(col("t").as("doc_id"), col("n_games"), col("wins"), col("w_fp"))
      .orderBy("doc_id")
  }

  /** e89: DoReMi-style domain reweighting
    * ([[graft.ext.Sampling.doremiWeights]]) — each source's token
    * share multiplied by √(source-perplexity / pool-perplexity) under
    * the MEMOIZED e75 reference LM: the excess-loss reweighting idea
    * in exact 2^20 fixed point (clamped ratio, floor-sqrt, ≥1 share
    * floor). Completes the mixture-design family: e77 diagnoses the
    * shift, e82 flattens raw shares, e89 reweights by model signal,
    * e40 consumes the weights. */
  def e89_doremi_weights(s: SparkSession, dir: String): DataFrame =
    Sampling.doremiWeights(docs(s, dir), bigramScored(s, dir), col("source"))
      .orderBy("source")

  /** e88: curriculum training order
    * ([[graft.ext.Sampling.curriculumOrder]]) — the corpus cut into 4
    * equal-population difficulty phases by the MEMOIZED e75 perplexity
    * signal (easy = low perplexity first) and deterministically
    * shuffled within each phase by id-hash: the easy-first curriculum
    * schedule, produced as an explicit `(doc_id, phase, ord)` feed
    * order. Difficulty ranks bucket by the e86 `div 5000` clamp; both
    * ranks are the two-phase no-global-window form. */
  def e88_curriculum_order(s: SparkSession, dir: String): DataFrame =
    Sampling.curriculumOrder(bigramScored(s, dir), col("mean_milli"),
        least(greatest(expr("difficulty div 5000"), lit(0L)), lit(33L)))
      .orderBy("doc_id")

  /** e87: decontamination-detector scoreboard
    * ([[graft.ext.Dedup.decontaminationScoreboard]]) — the scoreboard
    * discipline (ANN e72 / dedup e83 / tokenizer e85 / scorer e86)
    * applied to the DECONTAMINATION family: exact n-gram overlap at
    * n in {2,4,8}, the Bloom scale path, and the fuzzy-Jaccard
    * detector, each scored doc-level against the n=4 exact ground
    * truth (the e34 definition) on the e51/e84 benchmark split. The
    * bloom row reading 1.0/1.0 is the measured proof the 100-TB shape
    * loses nothing. */
  def e87_decon_scoreboard(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminationScoreboard(docs(s, dir),
        benchPred = col("doc_id") % 40 === 1)
      .orderBy("method")

  /** e83: near-dup detector scoreboard
    * ([[graft.ext.Dedup.dedupScoreboard]]) — the e72 discipline for
    * the DEDUP family: MinHash-LSH banding candidates and banded
    * SimHash Hamming pairs each scored as pair-level precision/recall
    * against the exact n-gram-Jaccard >= 0.5 ground truth, so the
    * detector (and its banding/distance knobs) is chosen by
    * measurement, not guesswork. */
  def e83_dedup_scoreboard(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupScoreboard(docs(s, dir)).orderBy("method")

  /** e82: temperature-scaled mixture weights
    * ([[graft.ext.Sampling.temperatureWeights]]) — each source's raw
    * 2^20-fixed-point token share flattened to p^(1/2) by one exact
    * floor-sqrt application and renormalized: the multilingual
    * up-sampling trick (mBERT / XLM-R), producing the weights e40's
    * weightedMix consumes so low-resource sources are raised without
    * ever dominating. */
  def e82_temperature_mix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureWeights(docs(s, dir), col("source"))
      .orderBy("source")

  /** e77: per-source token-distribution divergence
    * ([[graft.ext.Text.domainShift]]) — the quantized KL each corpus
    * source carries against the pooled unigram distribution, the
    * number a mixture designer weighs sources by. */
  def e77_domain_shift(s: SparkSession, dir: String): DataFrame =
    Text.domainShift(docs(s, dir)).orderBy("source")

  /** e58: BPE tokenizer training ([[graft.ext.Bpe.bpeMerges]]) — 8
    * merge rounds learned from the corpus word-frequency table; the
    * oracle unrolls every round (pair count -> argmax -> greedy
    * islands merge) in MATERIALIZED SQL CTEs. */
  private def bpeSyms(s: SparkSession, dir: String): DataFrame =
    // the final superstep cut, which the memo holds against block sweeps
    SessionMemo(s, (dir, "bpe_syms"))(graft.ext.Bpe.train(docs(s, dir), rounds = 8)._2)

  def e58_bpe_train(s: SparkSession, dir: String): DataFrame =
    // computes FRESH per invocation — e58 is the query that MEASURES
    // training (the q54-vs-q59 split: consumers memoize, trainers pay)
    graft.ext.Bpe.bpeMerges(docs(s, dir), rounds = 8)
      .orderBy("round")

  /** e59: corpus tokenization under the e58-learned BPE vocabulary
    * ([[graft.ext.Bpe.bpeTokenCounts]]) — merges segment the
    * vocabulary table once; the corpus tokenizes by dictionary join. */
  def e59_bpe_tokenize(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bpe.tokenCountsFrom(docs(s, dir), bpeSyms(s, dir))
      .orderBy("doc_id")

  /** e57: hard-triplet mining ([[Similarity.hardTriplets]]) — per
    * anchor the least-similar same-label positive and the 5
    * most-similar different-label negatives over the labeled
    * embeddings corpus (FaceNet-style metric-training data
    * extraction). */
  def e57_hard_triplets(s: SparkSession, dir: String): DataFrame =
    Similarity.hardTriplets(emb(s, dir), knnQueryIds, k = 5)
      .orderBy("query_id", "neg_id")

  /** e49: the Z-order (Morton) clustering key over lineitem's
    * (l_partkey, l_suppkey) — the native codegen'd
    * [[graft.functions.InterleaveBitsExpr]] that
    * [[graft.operators.Layout.zorderBy]] sorts the write path by for
    * multi-dimensional file skipping. Raw (unnormalized) key so the
    * oracle is pure bit arithmetic: the sign-flip + 64-term interleave
    * replayed in HUGEINT SQL. */
  def e49_zorder_key(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(s, s"$dir/lineitem.parquet")
      .where(col("l_orderkey") % 37 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.interleaveBits(
          col("l_partkey").cast("int"), col("l_suppkey").cast("int")).as("zval"))
      .orderBy("zval", "l_orderkey", "l_linenumber")

  /** Overlapping 32-token chunks every 24 tokens (context-window prep
    * for embedding/training; [[graft.ext.Text.chunkTokens]] — row-local
    * explode, no shuffle). */
  def e42_chunking(s: SparkSession, dir: String): DataFrame =
    Text.chunkTokens(docs(s, dir), size = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  /** Deterministic 50-per-event-type stratified sample (balanced-corpus
    * primitive). */
  def e28_stratified_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        events(s, dir).select(col("event_type"), col("event_id")),
        Seq("event_type"), col("event_id"), n = 50)
      .orderBy("event_type", "event_id")

  /** e31: the end-to-end training-data pipeline composed in ONE plan —
    * deterministic 50% downsample -> exact dedup (min id per content
    * hash) -> near-dup keep-first filter -> quality floor -> per-language
    * stratified cap. Every stage is a filter/window/join on the same
    * lazily-composed frame: no intermediate action, no checkpoint, no
    * collect anywhere (PlanAuditSpec gates the plan shape). This is the
    * corpus-construction query a real pipeline runs nightly at 100 TB. */
  val E31Fraction = 0.5
  val E31QualityFloor = 0.53
  val E31PerLang = 20

  def e31_pipeline(s: SparkSession, dir: String): DataFrame = {
    val base = Sampling.hashSample(docs(s, dir), col("doc_id"), E31Fraction)
    val exact = Dedup.dropExactDuplicates(base)
    val near = Dedup.dropNearDuplicates(exact, threshold = 0.5)
    // Marker counts in their own projection (one evaluation each — the
    // e10 two-projection rationale), argmax + quality in the next.
    val stats = near.select(
      Seq(col("doc_id"), col("text"), Text.qualityScoreCol.as("quality_score")) ++
        Text.langScoreCols: _*)
    val scored = stats.select(col("doc_id"), col("quality_score"),
      Text.langPredCol.as("lang_pred"), length(col("text")).as("text_len"))
    val floored = scored.where(col("quality_score") >= E31QualityFloor)
    Sampling.stratifiedSample(floored, Seq("lang_pred"), col("doc_id"), E31PerLang)
      .select("doc_id", "lang_pred", "quality_score", "text_len")
      .orderBy("doc_id")
  }

  /** e32: the multimodal -> ANN composition end-to-end — media payloads
    * (documents as binary, the e19 fixture path) -> FakeCodec
    * checksum-derived embeddings ([[graft.ext.Multimodal.mediaEmbeddings]],
    * FNV-1a + xorshift64, fully deterministic) -> k-means centroid
    * training ([[Similarity.trainCentroids]], component means rounded to
    * 6 decimals for engine portability) -> IVF top-k
    * ([[Similarity.ivfTopKWith]]). The oracle replays the IDENTICAL
    * arithmetic in SQL: FNV/xorshift as mod-2^64 HUGEINT recursions,
    * the two Lloyd rounds unrolled as CTE chains, then the e23 IVF
    * pattern — proving the multimodal plumbing feeds the ANN stack
    * with nothing hidden in the JVM. (The oracle's per-character FNV
    * recursion costs ~1 min in DuckDB at sf0.01 — by far the most
    * expensive oracle in the suite, and inherent: FNV-1a is strictly
    * sequential per document.) */
  val E32K = 4
  val E32Iters = 2
  val E32TopK = 5
  val E32QueryIds: Seq[Long] = 0L until 10L

  def e32_media_ivf(s: SparkSession, dir: String): DataFrame = {
    val media = graft.ext.Multimodal.mediaFromDocuments(docs(s, dir))
    val emb = graft.ext.Multimodal.mediaEmbeddings(media)
    val cen = Similarity.trainCentroids(emb, k = E32K, iters = E32Iters,
      roundDecimals = 6)
    Similarity.ivfTopKWith(emb, cen, E32QueryIds, E32TopK, IvfNProbe)
      .orderBy("query_id", "neighbor_id")
  }

  /** e33: fact-dimension enrichment — events left-joined to the
    * broadcast customer dimension (events with no customer row pass
    * through with a null segment) and aggregated per (segment,
    * event_type). Decimal accumulation + final double cast on both
    * sides (the q15 rule). */
  def e33_stream_enrich(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.sources.Tables.read(s, s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    events(s, dir).join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("segment", "event_type")
  }

  /** e34: benchmark decontamination — training docs (doc_id % 50 != 0)
    * sharing any word 4-gram with the held-out benchmark split
    * (doc_id % 50 == 0), with the shared-gram count. Production n is
    * 8-13; the short synthetic docs use 4 so the fixture has signal. */
  val E34N = 4
  def e34_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.contaminationReport(
        d.where(col("doc_id") % 50 =!= 0),
        d.where(col("doc_id") % 50 === 0), E34N)
      .orderBy("doc_id")
  }

  /** e51: Bloom-prefiltered decontamination
    * ([[graft.ext.Dedup.bloomDecontaminate]]) — the 100-TB shape of the
    * e34 check: benchmark 3-grams fold into a native
    * `BloomFilterAggregate` blob, training grams are dropped MAP-SIDE by
    * the codegen'd `BloomFilterMightContain` probe, and only survivors
    * pay the exact-verify semi-join. Output = the decontaminated corpus
    * (docs with zero benchmark-gram overlap), which equals the exact
    * pipeline's output bit-for-bit — the oracle is the plain exact SQL. */
  def e51_bloom_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.bloomDecontaminate(
        d.where(col("doc_id") % 40 =!= 1),
        d.where(col("doc_id") % 40 === 1), n = 3)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** e52: DSIR importance scores ([[graft.ext.Sampling.dsirScores]]) —
    * the top 50 raw documents most like the target slice (doc_id % 10
    * == 7 plays the target domain) under the fixed-point hashed-bigram
    * log-likelihood ratio. Integer-exact end to end; the oracle replays
    * bucketing, add-one smoothing, the 2^40 fixed-point scaling, and
    * the bin()-length floor-log2 verbatim. */
  def e52_dsir_select(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Sampling.dsirScores(
        d.where(col("doc_id") % 10 =!= 7),
        d.where(col("doc_id") % 10 === 7), n = 2, buckets = 256)
      .orderBy(desc("dsir_score"), col("doc_id"))
      .limit(50)
  }

  /** e60: BM25 top-k retrieval ([[graft.ext.Retrieval.bm25TopK]]) —
    * inverted-index lexical search in exact fixed-point arithmetic.
    * Queries are corpus-derived (every doc_id % 101 == 7 document's
    * first 6 tokens), self-hits excluded; the oracle replays the
    * eighth-bit integer log2 idf and the cleared-denominator tf
    * saturation verbatim. */
  def e60_bm25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ext.Retrieval.bm25TopK(d, bm25Queries(d), k = 10, excludeSelf = true)
      .orderBy("query_id", "rank")
  }

  /** The corpus-derived BM25 query set — every `doc_id % 101 == 7`
    * document's first 6 tokens. ONE definition shared by e60 and e74
    * (whose oracle embeds e60's replay of the same selection), so the
    * two queries cannot drift apart. */
  private def bm25Queries(d: DataFrame): DataFrame =
    d.where(col("doc_id") % 101 === 7)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("q_text"))

  /** e61 training contract: hashed-bigram buckets, rounds, shared by
    * the Spark query and the generated oracle chain. */
  val E61Rounds = 8
  val E61Buckets = 16384

  /** e71 GloVe hyperparameters: 4-dim vectors, 8 full-batch rounds at
    * learning rate 2^-6 — the setting where the fixture's fixed-point
    * loss descends monotonically (GloveSpec law) while `|v|` stays
    * under the 2^24 overflow bound. */
  val E71Dims = 4
  val E71Rounds = 8
  val E71EtaShift = 6

  /** e61: model-based quality filtering ([[graft.ext.Classify]]) — an
    * averaged batch perceptron over hashed word-bigram features trained
    * IN the engine (8 rounds, 16384 buckets, label = lang=='en'; ~88%
    * training accuracy on the fixture vs a 56% majority class), then
    * the whole corpus scored under the frozen model. Integer-exact end
    * to end; the oracle replays all 8 training rounds as chained CTEs
    * and averages the same round-end weights. */
  private def perceptronW(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "perceptron_w")) {
      graft.ext.Classify.perceptronTrain(docs(s, dir),
        when(col("lang") === "en", 1L).otherwise(-1L),
        rounds = E61Rounds, buckets = E61Buckets)
    }

  def e61_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val y = when(col("lang") === "en", 1L).otherwise(-1L)
    // fresh training — e61 measures the trainer (e66 reuses the memo)
    val w = graft.ext.Classify.perceptronTrain(d, y,
      rounds = E61Rounds, buckets = E61Buckets)
    graft.ext.Classify.score(d, w, buckets = E61Buckets)
      .join(d.select(col("doc_id"), y.as("label")), "doc_id")
      .select("doc_id", "margin", "pred", "label")
      .orderBy("doc_id")
  }

  /** e62: deterministic epoch shuffle + shard export
    * ([[graft.ext.Packing.shardShuffle]]) — the dataloader handoff:
    * every doc gets a (shard, pos) address from the epoch-keyed hash
    * permutation, reproducible under any partitioning; the oracle
    * replays hash, shard, and in-shard rank. */
  def e62_shard_shuffle(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.shardShuffle(docs(s, dir).select("doc_id"),
        col("doc_id"), shards = 8, epoch = 1L)
      .select("shard", "pos", "doc_id")
      .orderBy("shard", "pos")

  /** e63: unigram-LM (SentencePiece-style) tokenizer training
    * ([[graft.ext.Unigram.train]]) — 2 hard-EM rounds of Viterbi
    * segmentation + usage recount over the word-frequency table; the
    * top 200 learned pieces by final unigram mass. The oracle replays
    * BOTH rounds relationally: seed substring counts, fixed-point
    * costs, the position-unrolled DP with its smallest-last-piece tie
    * break, the backtracks, and the recounts. */
  private def unigramVocab(s: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(s, (dir, "unigram_vocab")) {
      graft.ext.Unigram.train(docs(s, dir), rounds = 2)
    }

  def e63_unigram_train(s: SparkSession, dir: String): DataFrame =
    // fresh training — e63 measures the trainer (e64 reuses the memo)
    graft.ext.Unigram.train(docs(s, dir), rounds = 2)
      .orderBy(desc("cnt"), col("s"))
      .limit(200)

  /** e64: corpus tokenization under the e63-learned unigram vocabulary
    * (the train->apply pair, mirroring e58/e59 for BPE): one more
    * Viterbi pass segments the word table under the trained costs, and
    * per-document token counts come from a dictionary join — the word
    * stream never re-segments per document. */
  def e64_unigram_tokenize(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = unigramVocab(s, dir)
    val words = graft.ext.Unigram.wordFreqs(d)
    val perWord = graft.ext.Unigram
      .viterbiSegments(words, graft.ext.Unigram.costs(vocab))
      .groupBy("w").agg(count(lit(1)).as("n_pieces"))
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(perWord, "w")
      .groupBy("doc_id").agg(sum(col("n_pieces")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** e65: cross-corpus fuzzy join ([[graft.ext.Dedup.fuzzyJoin]]) —
    * entity matching between two corpora (even vs odd doc ids play the
    * two sources): band collisions ACROSS the frames propose
    * candidates, exact Jaccard verifies. The oracle computes one
    * signature table and splits it, which equals per-side signatures
    * because a signature depends only on the doc's own shingles. */
  def e65_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.fuzzyJoin(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1), threshold = 0.5)
      .orderBy("left_id", "right_id")
  }

  /** e66 threshold sweep — margin cut points bracketing the decision
    * boundary at the model's magnitude scale. */
  val E66Thresholds: Seq[Long] = Seq(-100000L, -1000L, 0L, 1L, 1000L, 100000L)

  /** e66: classifier evaluation harness ([[graft.ext.Classify.evaluate]])
    * — the precision/recall sweep a pipeline reads before picking the
    * e61 model's keep threshold (the e43 recall-harness role): exact
    * confusion counts at six margin thresholds, replayed by the oracle
    * over the shared e61 training chain. */
  def e66_classifier_eval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val y = when(col("lang") === "en", 1L).otherwise(-1L)
    val w = perceptronW(s, dir)
    graft.ext.Classify.evaluate(d, w, y, E66Thresholds, buckets = E61Buckets)
      .orderBy("threshold")
  }

  /** e67: phrase (collocation) detection ([[Text.phraseScores]]) —
    * word2vec's phrase pass in fixed point; the top 100 collocations
    * above the ratio-1 threshold. */
  def e67_phrases(s: SparkSession, dir: String): DataFrame =
    Text.phraseScores(docs(s, dir))
      .orderBy(desc("score_fp"), col("phrase"))
      .limit(100)

  /** e68: GloVe-style windowed co-occurrence ([[Text.cooccurrence]]) —
    * distance-discounted (center, context) mass at window 3; the 100
    * heaviest cells of the matrix GloVe factorizes. */
  def e68_cooccurrence(s: SparkSession, dir: String): DataFrame =
    Text.cooccurrence(docs(s, dir), window = 3)
      .orderBy(desc("weight_fp"), col("center"), col("context"))
      .limit(100)

  /** e69: skip-gram training pairs with deterministic negative
    * sampling ([[Text.skipgramPairs]]) — every in-window pair over a
    * corpus slice plus 2 hash-drawn vocabulary negatives per instance,
    * grouped to (center, other, label, cnt). */
  def e69_skipgram_pairs(s: SparkSession, dir: String): DataFrame =
    Text.skipgramPairs(docs(s, dir).where(col("doc_id") % 20 === 5),
        window = 3, negatives = 2)
      .orderBy("center", "other", "label")

  /** e70: frequency-weighted skip-gram negatives
    * ([[Text.skipgramPairs]] with `freqWeighted = true`) — the same
    * corpus slice as e69 but negatives drawn from the unigram
    * distribution via banded cumulative-mass intervals; the oracle
    * resolves each draw by plain interval membership (banding is
    * resolution mechanics, not semantics). */
  def e70_skipgram_weighted(s: SparkSession, dir: String): DataFrame =
    Text.skipgramPairs(docs(s, dir).where(col("doc_id") % 20 === 5),
        window = 3, negatives = 2, freqWeighted = true)
      .orderBy("center", "other", "label")

  /** e71: GloVe-style word-vector TRAINING ([[graft.ext.Glove.train]])
    * — [[E71Rounds]] fixed-point gradient-descent rounds factorizing
    * the log2 co-occurrence matrix of the e69/e70 corpus slice into
    * [[E71Dims]]-dim word + context vectors; the capstone that
    * CONSUMES the corpora the e67–e70 generators produce. The oracle
    * replays the entire run (init + every round) as chained CTEs in
    * exact `>>`-floor arithmetic. */
  def e71_glove_train(s: SparkSession, dir: String): DataFrame =
    Glove.train(
        Text.cooccurrence(docs(s, dir).where(col("doc_id") % 20 === 5),
          window = 3),
        dims = E71Dims, rounds = E71Rounds, etaShift = E71EtaShift)
      .orderBy("side", "t", "k")

  /** e93: character-entropy quality signal
    * ([[graft.ext.Text.charEntropy]]) — exact eighth-bit Shannon
    * entropy of each document's character distribution, the detector
    * for the two text pathologies word-level signals miss: near-zero
    * entropy (single-char runs, template spam) and near-maximal
    * entropy (keyboard mash, base64/binary blobs pasted into text). */
  def e93_char_entropy(s: SparkSession, dir: String): DataFrame =
    Text.charEntropy(docs(s, dir)).orderBy("doc_id")

  /** e35: within-document repetition ratio (Gopher-style quality
    * signal) over word bigrams — entirely row-local. */
  def e35_repetition(s: SparkSession, dir: String): DataFrame =
    Text.repetitionStats(docs(s, dir), n = 2).orderBy("doc_id")

  /** e36: PII count + redaction. The fixture has no PII, so each doc is
    * augmented with a deterministic synthetic email + phone first (both
    * sides of the oracle build the same augmentation); the output
    * fingerprints the redacted text to prove the rewrite byte-for-byte. */
  def e36_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val aug = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" Contact: user"), col("doc_id"),
        lit("@example.com or 555-123-4567.")).as("text"))
    Text.redactPii(aug)
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** e37: normalization-aware exact dedup — documents fingerprinted by
    * their normalized text (lower/strip-punct/collapse-ws), with the
    * size of each normalized group alongside (group > 1 = docs that
    * differ only in case/spacing/punctuation). */
  def e37_normalized_dedup(s: SparkSession, dir: String): DataFrame = {
    val norm = docs(s, dir).select(col("doc_id"),
      Text.normalizeForDedup(col("text")).as("norm"))
    norm.select(col("doc_id"), md5(col("norm")).as("norm_fp"),
        length(col("norm")).as("norm_len"))
      .withColumn("n_same", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("norm_fp"))))
      .orderBy("doc_id")
  }

  /** e38: contiguous sequence packing — each doc assigned to a fixed
    * token-budget pack within its shard (8 shards, 2048-token budget on
    * the fixture's ~54-token docs). Integer-only arithmetic: exact. */
  val E38Budget = 2048L
  val E38Shards = 8
  def e38_token_packing(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.ext.Packing.contiguousPack(toks, col("doc_id"), col("n_tokens"),
        E38Budget, E38Shards)
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack_id"))
      .orderBy("doc_id")
  }

  /** e103: packing-utilization scoreboard
    * ([[graft.ext.Packing.packStats]]) — the e72/e83/e85/e87/e96
    * measured-not-folklore discipline applied to the last
    * scoreboard-less family: the SAME budget (64, inside the
    * fixture's 10–99-token doc range so both levers engage) priced
    * three ways — `contiguous` (e38's doc-boundary start-in
    * assignment), `split_pack` (e38b's pre-split composition), and
    * `concat_cut` (the boundary-free ideal any packer is judged
    * against). Exact integer fill-milli statistics; the fixture
    * MEASURES the split_pack ≻ contiguous ordering the scaladocs
    * promise, with concat_cut pinning the attainable ceiling. */
  val E103Budget = 64L
  def e103_packing_scoreboard(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val contig = graft.ext.Packing.packStats(
      graft.ext.Packing.contiguousPack(toks, col("doc_id"), col("n_tokens"),
        E103Budget, E38Shards),
      col("n_tokens"), E103Budget)
    val splitPack = graft.ext.Packing.packStats(
      graft.ext.Packing.contiguousPack(
        graft.ext.Packing.splitOversize(toks, col("n_tokens"), E103Budget),
        col("doc_id"), col("piece_tokens"), E103Budget, E38Shards,
        tieBreak = Seq(col("piece_idx"))),
      col("piece_tokens"), E103Budget)
    val ideal = graft.ext.Packing.idealCutStats(toks, col("doc_id"),
      col("n_tokens"), E103Budget, E38Shards)
    contig.withColumn("method", lit("contiguous"))
      .unionByName(splitPack.withColumn("method", lit("split_pack")))
      .unionByName(ideal.withColumn("method", lit("concat_cut")))
      .select(col("method"), col("n_packs"), col("total_tokens"),
        col("mean_fill_milli"), col("min_fill_milli"), col("max_fill_milli"))
      .orderBy("method")
  }

  /** e38b: split-then-pack — the tight-budget composition the packing
    * contract directs callers to: oversize docs are pre-split to the
    * budget ([[graft.ext.Packing.splitOversize]]) so every pack holds at
    * most `budget` tokens plus one straddling piece. The budget (32) is
    * far under the fixture's ~54-token docs, so nearly every doc splits —
    * exercising the piece arithmetic AND the (id, piece_idx) tie-break
    * that keeps pack assignment deterministic when pieces share an id. */
  val E38bBudget = 32L
  def e38b_split_pack(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val pieces = graft.ext.Packing.splitOversize(toks, col("n_tokens"), E38bBudget)
    graft.ext.Packing.contiguousPack(pieces, col("doc_id"), col("piece_tokens"),
        E38bBudget, E38Shards, tieBreak = Seq(col("piece_idx")))
      .select(col("doc_id"), col("piece_idx"), col("piece_tokens"),
        col("shard"), col("pack_id"))
      .orderBy("doc_id", "piece_idx")
  }

  /** e39: corpus-health rollup per (source, lang) — the dashboard query
    * a data curator runs nightly: volume, token mass, and mean quality
    * (decimal-accumulated so the mean is partitioning-independent). */
  def e39_corpus_health(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"),
        Text.qualityScoreCol.as("q"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        (sum(col("q").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_quality"))
      .orderBy("source", "lang")

  def e24_quantiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"))
      .orderBy("event_type")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_exact_dedup" -> (e01_exact_dedup _),
    "e02_minhash_signature" -> (e02_minhash_signature _),
    "e03_minhash_pairs" -> (e03_minhash_pairs _),
    "e04_ngram_jaccard" -> (e04_ngram_jaccard _),
    "e05_simhash" -> (e05_simhash _),
    "e06_knn_cosine" -> (e06_knn_cosine _),
    "e07_knn_lsh" -> (e07_knn_lsh _),
    "e08_token_stats" -> (e08_token_stats _),
    "e09_quality_score" -> (e09_quality_score _),
    "e10_langid" -> (e10_langid _),
    "e11_fingerprint" -> (e11_fingerprint _),
    "e12_window_tumbling" -> (e12_window_tumbling _),
    "e13_window_sliding" -> (e13_window_sliding _),
    "e14_sessionize" -> (e14_sessionize _),
    "e15_bpe_tokens" -> (e15_bpe_tokens _),
    "e16_winnow_fingerprint" -> (e16_winnow_fingerprint _),
    "e17_near_dup_pipeline" -> (e17_near_dup_pipeline _),
    "e18_distinct_users" -> (e18_distinct_users _),
    "e19_media_features" -> (e19_media_features _),
    "e20_embedding_neardup" -> (e20_embedding_neardup _),
    "e21_asof_join" -> (e21_asof_join _),
    "e22_range_join" -> (e22_range_join _),
    "e23_knn_ivf" -> (e23_knn_ivf _),
    "e24_quantiles" -> (e24_quantiles _),
    "e25_top_tfidf" -> (e25_top_tfidf _),
    "e26_json_extract" -> (e26_json_extract _),
    "e27_hash_sample" -> (e27_hash_sample _),
    "e40_weighted_mix" -> (e40_weighted_mix _),
    "e41_token_budget" -> (e41_token_budget _),
    "e42_chunking" -> (e42_chunking _),
    "e43_ann_recall" -> (e43_ann_recall _),
    "e44_duplicated_spans" -> (e44_duplicated_spans _),
    "e45_span_removal" -> (e45_span_removal _),
    "e46_split_assign" -> (e46_split_assign _),
    "e47_semdedup" -> (e47_semdedup _),
    "e48_knn_pq" -> (e48_knn_pq _),
    "e49_zorder_key" -> (e49_zorder_key _),
    "e50_knn_ivfpq" -> (e50_knn_ivfpq _),
    "e51_bloom_decontaminate" -> (e51_bloom_decontaminate _),
    "e52_dsir_select" -> (e52_dsir_select _),
    "e53_knn_sq8" -> (e53_knn_sq8 _),
    "e54_surprisal" -> (e54_surprisal _),
    "e55_leakage_safe_splits" -> (e55_leakage_safe_splits _),
    "e56_knn_ivfpq_residual" -> (e56_knn_ivfpq_residual _),
    "e57_hard_triplets" -> (e57_hard_triplets _),
    "e58_bpe_train" -> (e58_bpe_train _),
    "e59_bpe_tokenize" -> (e59_bpe_tokenize _),
    "e60_bm25" -> (e60_bm25 _),
    "e61_quality_classifier" -> (e61_quality_classifier _),
    "e62_shard_shuffle" -> (e62_shard_shuffle _),
    "e63_unigram_train" -> (e63_unigram_train _),
    "e64_unigram_tokenize" -> (e64_unigram_tokenize _),
    "e65_fuzzy_join" -> (e65_fuzzy_join _),
    "e66_classifier_eval" -> (e66_classifier_eval _),
    "e67_phrases" -> (e67_phrases _),
    "e68_cooccurrence" -> (e68_cooccurrence _),
    "e69_skipgram_pairs" -> (e69_skipgram_pairs _),
    "e70_skipgram_weighted" -> (e70_skipgram_weighted _),
    "e71_glove_train" -> (e71_glove_train _),
    "e72_ann_recall_harness" -> (e72_ann_recall_harness _),
    "e73_glove_knn" -> (e73_glove_knn _),
    "e74_hybrid_rrf" -> (e74_hybrid_rrf _),
    "e75_bigram_lm" -> (e75_bigram_lm _),
    "e76_wordpiece_train" -> (e76_wordpiece_train _),
    "e77_domain_shift" -> (e77_domain_shift _),
    "e78_perplexity_buckets" -> (e78_perplexity_buckets _),
    "e79_semantic_decontaminate" -> (e79_semantic_decontaminate _),
    "e80_cluster_sample" -> (e80_cluster_sample _),
    "e81_gopher_rules" -> (e81_gopher_rules _),
    "e82_temperature_mix" -> (e82_temperature_mix _),
    "e83_dedup_scoreboard" -> (e83_dedup_scoreboard _),
    "e84_span_decontaminate" -> (e84_span_decontaminate _),
    "e85_tokenizer_fertility" -> (e85_tokenizer_fertility _),
    "e86_scorer_agreement" -> (e86_scorer_agreement _),
    "e87_decon_scoreboard" -> (e87_decon_scoreboard _),
    "e88_curriculum_order" -> (e88_curriculum_order _),
    "e89_doremi_weights" -> (e89_doremi_weights _),
    "e90_bradley_terry" -> (e90_bradley_terry _),
    "e91_rater_kappa" -> (e91_rater_kappa _),
    "e92_hard_negatives" -> (e92_hard_negatives _),
    "e93_char_entropy" -> (e93_char_entropy _),
    "e94_keep_best" -> (e94_keep_best _),
    "e95_source_diversity" -> (e95_source_diversity _),
    "e96_retrieval_scoreboard" -> (e96_retrieval_scoreboard _),
    "e97_index_dedup" -> (e97_index_dedup _),
    "e98_doremi_mix" -> (e98_doremi_mix _),
    "e99_knn_lsh_multiprobe" -> (e99_knn_lsh_multiprobe _),
    "e100_pca_scores" -> (e100_pca_scores _),
    "e101_kn_trigram_lm" -> (e101_kn_trigram_lm _),
    "e102_snapshot_diff" -> (e102_snapshot_diff _),
    "e103_packing_scoreboard" -> (e103_packing_scoreboard _),
    "e104_lm_agreement" -> (e104_lm_agreement _),
    "e105_pc1_removal" -> (e105_pc1_removal _),
    "e106_pca_map" -> (e106_pca_map _),
    "e107_weighted_sample" -> (e107_weighted_sample _),
    "e108_axis_drift" -> (e108_axis_drift _),
    "e109_whitened_semdedup" -> (e109_whitened_semdedup _),
    "e110_incremental_health" -> (e110_incremental_health _),
    "e111_incremental_hh" -> (e111_incremental_hh _),
    "e112_incremental_index" -> (e112_incremental_index _),
    "e113_incremental_bm25" -> (e113_incremental_bm25 _),
    "e114_incremental_pca" -> (e114_incremental_pca _),
    "e115_incremental_all" -> (e115_incremental_all _),
    "e116_incremental_ann" -> (e116_incremental_ann _),
    "e117_semdedup_auto" -> (e117_semdedup_auto _),
    "e118_delta_repack" -> (e118_delta_repack _),
    "e119_incremental_cooc" -> (e119_incremental_cooc _),
    "e120_incremental_lm" -> (e120_incremental_lm _),
    "e121_incremental_kn" -> (e121_incremental_kn _),
    "e122_incremental_retrain_inputs" -> (e122_incremental_retrain_inputs _),
    "e123_semdedup_sampled" -> (e123_semdedup_sampled _),
    "e124_drift_retrain" -> (e124_drift_retrain _),
    "e28_stratified_sample" -> (e28_stratified_sample _),
    "e29_dedup_clusters" -> (e29_dedup_clusters _),
    "e30_heavy_hitters" -> (e30_heavy_hitters _),
    "e31_pipeline" -> (e31_pipeline _),
    "e32_media_ivf" -> (e32_media_ivf _),
    "e33_stream_enrich" -> (e33_stream_enrich _),
    "e34_decontaminate" -> (e34_decontaminate _),
    "e35_repetition" -> (e35_repetition _),
    "e36_pii_redact" -> (e36_pii_redact _),
    "e37_normalized_dedup" -> (e37_normalized_dedup _),
    "e38_token_packing" -> (e38_token_packing _),
    "e38b_split_pack" -> (e38b_split_pack _),
    "e39_corpus_health" -> (e39_corpus_health _))

  // ---- DuckDB oracle twins ----

  /** Shingle/signature CTE generators, parameterized on the source
    * relation so composed pipelines (e31) can run the identical minhash
    * arithmetic over an already-filtered CTE instead of `documents`. */
  private def shingleCteFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i))""".stripMargin
  private val shingleCte = shingleCteFrom("documents")

  /** The e39 corpus-health rollup over `src` (a relation, or a CTE
    * defined by `extraCtes`) — shared by e39 (the full table) and e110
    * (the newer-snapshot CTE: the engine's incremental merge must
    * hash-equal exactly THIS full recompute). Quality expression =
    * `Text.qualityScoreCol` verbatim; the DECIMAL(18,6) accumulation
    * pins the mean across engines. */
  /** The per-doc quality CTE under the health rollups — shared by the
    * dashboard form (avg) and the MASS form (exact sums, the frozen
    * state e110/e115's merges are proven against). Stripped here; the
    * callers compose by concatenation (strip-once discipline). */
  private def healthQhrSql(src: String): String =
    s"""q_hr AS (
       |  SELECT source, lang, len(string_split(text, ' ')) AS n_tokens,
       |    0.5 * (len(list_filter(string_split(text, ' '),
       |            t -> t IN ('the','a','of','to','and','in','is','on','for','with')))::DOUBLE
       |           / len(string_split(text, ' '))::DOUBLE)
       |    + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
       |             / length(text)::DOUBLE)
       |    + 0.2 * (CASE WHEN len(string_split(text, ' ')) >= 10
       |                   AND len(string_split(text, ' ')) <= 100000 THEN 1.0 ELSE 0.0 END)
       |      AS q
       |  FROM $src)""".stripMargin

  private def healthRollupSql(src: String, extraCtes: String = ""): String =
    s"WITH ${extraCtes}" + healthQhrSql(src) + "\n" +
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens::BIGINT) AS BIGINT) AS sum_tokens,
        |  CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*)::DOUBLE AS avg_quality
        |FROM q_hr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The MASS form of the health rollup (no division, no ORDER BY —
    * nested-CTE-embeddable): exact doc/token counts and the
    * DECIMAL(18,6) quality sum ×10⁶ as BIGINT — the merge-proof shape
    * e115's oracle unions. */
  private def healthMassSql(src: String): String =
    "WITH " + healthQhrSql(src) + "\n" +
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens::BIGINT) AS BIGINT) AS sum_tokens,
        |  CAST(sum(CAST(q AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS q1e6
        |FROM q_hr GROUP BY 1, 2""".stripMargin

  /** Pinned-Lloyd cosine k-means CTE chain —
    * `trainCentroids(roundDecimals = 6)` replayed verbatim in SQL (the
    * e32 discipline: deterministic stride init, per-round argmax-cosine
    * assignment + per-(cell, dim) 6-decimal FLOAT means over the
    * embeddings table), ending in `fasg(vec_id, cell, sim)` — the final
    * assignment with its winning similarity. Shared by e47 (SemDeDup's
    * pair stage) and e80 (the per-cell quota rank). STRIP-ONCE: margin
    * pipes are KEPT here; only the outermost query template calls
    * stripMargin (the e71 double-strip lesson — OracleSqlLintSpec gates
    * the class). */
  private def cosKmeansCtes(k: Int, iters: Int,
      embfSelect: String = "SELECT vec_id, embedding AS cvf FROM embeddings",
      trainPred: String = "TRUE"): String = {
    def cos(a: String, b: String) = // single-line on purpose: a piped
      // continuation inside an unstripped fragment would strip wrong
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)"
    val dims = 64
    val rounds = (1 to iters).map { i =>
      s"""asg$i AS (
         |  SELECT vec_id, cid AS cell, v FROM (
         |    SELECT e.vec_id, c.cid, e.v, ${cos("e.v", "CAST(c.cv AS DOUBLE[])")} AS sim
         |    FROM tremb e CROSS JOIN cen${i - 1} c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
         |upd$i AS (
         |  SELECT cell AS cid, pos, CAST(round(avg(v[pos]), 6) AS FLOAT) AS m
         |  FROM asg$i, UNNEST(generate_series(1, $dims)) AS t(pos)
         |  GROUP BY cell, pos),
         |cen$i AS (SELECT cid, list(m ORDER BY pos) AS cv FROM upd$i GROUP BY cid)"""
    }.mkString(",\n|")
    // trainPred splits the TRAIN side (stride init + every Lloyd round
    // + its own count) from the full corpus the final assignment runs
    // over — trainCentroidsSampled's chain (e123); TRUE (the default)
    // keeps train == corpus, trainCentroids verbatim.
    s"""embf AS ($embfSelect),
       |emb AS (SELECT vec_id, CAST(cvf AS DOUBLE[]) AS v FROM embf),
       |trf AS (SELECT * FROM embf WHERE $trainPred),
       |tremb AS (SELECT vec_id, CAST(cvf AS DOUBLE[]) AS v FROM trf),
       |nn AS (SELECT count(*) AS n FROM trf),
       |cen0 AS (SELECT vec_id AS cid, cvf AS cv FROM trf, nn
       |         WHERE vec_id % greatest(1, n // $k) = 0
       |         ORDER BY vec_id LIMIT $k),
       |$rounds,
       |fasg AS (SELECT vec_id, cid AS cell, sim FROM (
       |    SELECT e.vec_id, c.cid, ${cos("e.v", "CAST(c.cv AS DOUBLE[])")} AS sim
       |    FROM emb e CROSS JOIN cen$iters c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1)"""
  }

  private def sigCteFrom(src: String): String = {
    // Universal-hash minhash twin: base hash = first 15 md5 hex chars as
    // BIGINT (the e05 pattern), permutations = (A_j*h + B_j) mod 2^64 in
    // HUGEINT re-signed to BIGINT (the e16 wraparound pattern), min over
    // signed BIGINT = Spark's min over LongType.
    val M = "18446744073709551616" // 2^64
    val half = "9223372036854775808" // 2^63
    val mins = (0 until Dedup.NumHashes).map { j =>
      val a = java.lang.Long.toUnsignedString(Dedup.MinhashA(j))
      val b = java.lang.Long.toUnsignedString(Dedup.MinhashB(j))
      s"""min((SELECT CASE WHEN u >= $half::HUGEINT THEN (u - $M::HUGEINT)::BIGINT
         |              ELSE u::BIGINT END
         |     FROM (SELECT ($a::HUGEINT * h + $b::HUGEINT) % $M::HUGEINT AS u))) AS h$j"""
        .stripMargin
    }.mkString(", ")
    s"""${shingleCteFrom(src)},
       |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)::HUGEINT AS h
       |       FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)""".stripMargin
  }
  private val sigCte = sigCteFrom("documents")

  // ---- PQ oracle generators (shared by e48 and e50) ----

  /** Rounded squared-L2 between two DOUBLE[] expressions. */
  private def pqL2(a: String, b: String) =
    s"""round(list_dot_product($a, $a) + list_dot_product($b, $b)
       |      - 2 * list_dot_product($a, $b), 9)""".stripMargin

  /** Argmin codebook entry per (sub, vec_id) by (rounded L2, cid). */
  private def pqArgmin(base: String, cb: String, out: String, keepV: Boolean) =
    s"""$out AS (
       |  SELECT sub, vec_id, cid${if (keepV) ", v" else ""} FROM (
       |    SELECT b.sub, b.vec_id, c.cid, b.v,
       |      ${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS d
       |    FROM $base b JOIN $cb c ON c.sub = b.sub)
       |  QUALIFY row_number() OVER (PARTITION BY sub, vec_id ORDER BY d, cid) = 1)"""
      .stripMargin

  /** A full pinned-Lloyd chain under name prefix `p`: `{p}base`
    * (subvector frame), `{p}picks`/`{p}cb0` (stride init), and `iters`
    * rounds ending at `{p}cb{iters}` — pqCodebooks verbatim. Relies on
    * an `nn AS (SELECT count(*) AS n FROM embeddings)` CTE in scope. */
  private def pqChain(p: String, m: Int, subLen: Int, ks: Int, iters: Int,
      src: String = "embeddings",
      vec: String = "CAST(embedding AS DOUBLE[])"): String = {
    def round(prev: String, tag: String, next: String) =
      s"""${pqArgmin(s"${p}base", prev, s"${p}asg$tag", keepV = true)},
         |${p}upd$tag AS (
         |  SELECT sub, cid, pos, CAST(round(avg(v[pos]), 6) AS FLOAT) AS mx
         |  FROM ${p}asg$tag, UNNEST(generate_series(1, $subLen)) AS t(pos)
         |  GROUP BY sub, cid, pos),
         |$next AS (SELECT sub, cid, list(mx ORDER BY pos) AS cv
         |          FROM ${p}upd$tag GROUP BY sub, cid)""".stripMargin
    val rounds = (1 to iters)
      .map(i => round(s"${p}cb${i - 1}", i.toString, s"${p}cb$i"))
      .mkString(",\n")
    s"""${p}base AS (SELECT vec_id, sb AS sub,
       |    ($vec)[sb * $subLen + 1 : (sb + 1) * $subLen] AS v
       |  FROM $src, UNNEST(generate_series(0, ${m - 1})) AS t(sb)),
       |${p}picks AS (SELECT vec_id FROM $src, nn
       |          WHERE vec_id % greatest(1, n // $ks) = 0
       |          ORDER BY vec_id LIMIT $ks),
       |${p}cb0 AS (SELECT b.sub, b.vec_id AS cid, b.v AS cv
       |        FROM ${p}base b JOIN ${p}picks p USING (vec_id)),
       |$rounds""".stripMargin
  }

  /** The 8-round BPE-training CTE chain shared by e58/e59: w0 (word
    * table split to character symbols) plus, per round, weighted
    * adjacent pair counts (HAVING >= 2 — the no-compression-value
    * stop), the (count desc, lhs, rhs) argmax, greedy left-to-right
    * merge as odd ranks within candidate islands, and position
    * renumbering. Rounds past exhaustion degrade to no-ops (empty best
    * joins), matching the Scala early stop. */
  /** The unrolled 8-round tokenizer-training CTE chain shared by the
    * e58/e59 (BPE) and e76 (WordPiece) oracles. `likelihood = true`
    * swaps the per-round argmax for the WordPiece score: per-round
    * symbol counts (`cnt$$r`) joined onto the pair counts, ranked by
    * the eighth-bit integer log2 likelihood gain
    * `log8(pair) - log8(c(lhs)) - log8(c(rhs))` with
    * (pair_count desc, lhs, rhs) ties — exactly
    * [[graft.ext.Bpe.train]]'s ranking. */
  private def bpeChainCtes(likelihood: Boolean = false): String = {
    def log8(x: String) =
      s"(8 * (length(bin($x)) - 1) + (($x * 8) >> (length(bin($x)) - 1)) - 8)"
    val rounds = (1 to 8).map { r =>
      val p = r - 1
      // NOT stripMargin'd: the fragment keeps its margin pipes and the
      // ONE outer stripMargin below handles every line (strip-once —
      // a pre-stripped fragment re-stripped by the outer template is
      // the round-10 e71 double-strip bug class)
      val bestCtes =
        if (!likelihood)
          s"""best$r AS MATERIALIZED (SELECT lhs, rhs, c FROM pc$r
             |         ORDER BY c DESC, lhs, rhs LIMIT 1),"""
        else
          s"""cnt$r AS (SELECT sym, CAST(sum(n) AS BIGINT) AS c1
             |          FROM w$p GROUP BY sym),
             |best$r AS MATERIALIZED (SELECT lhs, rhs, c FROM (
             |           SELECT p.lhs, p.rhs, p.c,
             |             ${log8("p.c")} - ${log8("cl.c1")} - ${log8("cr.c1")} AS s8
             |           FROM pc$r p JOIN cnt$r cl ON cl.sym = p.lhs
             |             JOIN cnt$r cr ON cr.sym = p.rhs)
             |         ORDER BY s8 DESC, c DESC, lhs, rhs LIMIT 1),"""
      s"""pc$r AS (SELECT a.sym AS lhs, b.sym AS rhs, CAST(sum(a.n) AS BIGINT) AS c
         |         FROM w$p a JOIN w$p b ON b.wid = a.wid AND b.pos = a.pos + 1
         |         GROUP BY 1, 2 HAVING sum(a.n) >= 2),
         |$bestCtes
         |cand$r AS (SELECT a.wid, a.pos
         |           FROM w$p a JOIN w$p b ON b.wid = a.wid AND b.pos = a.pos + 1
         |           JOIN best$r ON a.sym = best$r.lhs AND b.sym = best$r.rhs),
         |isl$r AS (SELECT wid, pos,
         |          pos - row_number() OVER (PARTITION BY wid ORDER BY pos) AS g
         |          FROM cand$r),
         |sel$r AS (SELECT wid, pos FROM (
         |            SELECT wid, pos,
         |              row_number() OVER (PARTITION BY wid, g ORDER BY pos) AS rk
         |            FROM isl$r)
         |          WHERE rk % 2 = 1),
         |w$r AS MATERIALIZED (
         |  SELECT wid, n, row_number() OVER (PARTITION BY wid ORDER BY op) AS pos, sym
         |  FROM (
         |    SELECT a.wid, a.n, a.pos AS op,
         |      CASE WHEN s.pos IS NOT NULL THEN a.sym || nxt.sym ELSE a.sym END AS sym
         |    FROM w$p a
         |    LEFT JOIN sel$r s ON s.wid = a.wid AND s.pos = a.pos
         |    LEFT JOIN sel$r s2 ON s2.wid = a.wid AND s2.pos = a.pos - 1
         |    LEFT JOIN w$p nxt ON nxt.wid = a.wid AND nxt.pos = a.pos + 1
         |    WHERE s2.pos IS NULL))""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w AS wid, n, i AS pos, substr(w, i, 1) AS sym
       |  FROM (SELECT w, count(*) AS n
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |        WHERE w <> '' GROUP BY w) words,
       |  UNNEST(generate_series(1, length(w))) AS t(i)),
       |$rounds""".stripMargin
  }

  /** The e61 training-replay CTE prefix through `sc` (per-doc margins
    * under the round-summed model) — shared by the e61 scoring oracle
    * and the e66 threshold-sweep evaluation. Replays the WHOLE
    * averaged-perceptron training run: hashed-bigram binary features
    * (+ the always-on bias bucket), then [[E61Rounds]] full-batch
    * rounds as a chained CTE sequence (round 1 is the cold start:
    * w=0 -> every margin 0 -> all docs update), and finally the
    * round-SUMMED model. DuckDB sums widen to HUGEINT -> the emitted
    * margin casts back to BIGINT. */
  private def e61Ctes: String = {
    val rounds = (2 to E61Rounds).map { r =>
      val p = r - 1
      s"""m$r AS (SELECT fb.doc_id, sum(coalesce(w$p.w, 0)) AS m
         |       FROM fb LEFT JOIN w$p USING (b) GROUP BY fb.doc_id),
         |u$r AS (SELECT fb.b, sum(y.y) AS dw FROM fb JOIN y USING (doc_id)
         |       JOIN m$r ON m$r.doc_id = fb.doc_id
         |       WHERE y.y * m$r.m <= 0 GROUP BY fb.b),
         |w$r AS MATERIALIZED (SELECT coalesce(w$p.b, u$r.b) AS b,
         |         coalesce(w$p.w, 0) + coalesce(u$r.dw, 0) AS w
         |       FROM w$p FULL JOIN u$r ON w$p.b = u$r.b)""".stripMargin
    }.mkString(",\n")
    val wUnion = (1 to E61Rounds).map(r => s"SELECT * FROM w$r")
      .mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
       |      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
       |fb AS MATERIALIZED (SELECT DISTINCT doc_id,
       |         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % $E61Buckets AS b
       |       FROM g
       |       UNION ALL SELECT doc_id, $E61Buckets FROM documents),
       |y AS MATERIALIZED (SELECT doc_id,
       |       CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |      FROM documents),
       |w1 AS MATERIALIZED (SELECT b, sum(y) AS w
       |      FROM fb JOIN y USING (doc_id) GROUP BY b),
       |$rounds,
       |wavg AS (SELECT b, sum(w) AS w FROM ($wUnion) GROUP BY b),
       |sc AS MATERIALIZED (SELECT fb.doc_id, sum(coalesce(wavg.w, 0)) AS margin
       |       FROM fb LEFT JOIN wavg USING (b) GROUP BY fb.doc_id)""".stripMargin
  }

  /** e71's generated oracle: replays the WHOLE GloVe training run —
    * co-occurrence + floor-log2 targets, the md5 init, then
    * [[E71Rounds]] rounds of (residuals, per-side gradients, update)
    * as chained MATERIALIZED CTEs. Every scale division is `>>`
    * (arithmetic shift, floors like Spark's `shiftright` — integer
    * `//` would round toward zero instead), sums cast HUGEINT -> BIGINT
    * before shifting. */
  private def e71OracleSql: String =
    "WITH " + e71OracleCtes + "\n" +
      s"""SELECT side, t, CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v
       |FROM v$E71Rounds ORDER BY side, t, k""".stripMargin

  /** e73's generated oracle: the e71 training chain, then the trained
    * w-side vectors pivoted to double lists (exact: |v| < 2^24 and the
    * scale is a power of two) and brute-force cosine top-3 per
    * md5-selected query token — the e06 knn replay over LEARNED
    * vectors. */
  private def e73OracleSql: String =
    "WITH " + e71OracleCtes + ",\n" +
      s"""wv AS MATERIALIZED (
       |  SELECT t, list_transform(list(v ORDER BY k),
       |           x -> CAST(x AS DOUBLE) / ${1L << Glove.Shift}.0) AS vec
       |  FROM v$E71Rounds WHERE side = 'w' GROUP BY t),
       |q AS (SELECT t AS qt, vec AS qv FROM wv
       |      WHERE (CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 7) = 0),
       |sc AS (SELECT qt, wv.t AS neighbor,
       |         round(list_dot_product(qv, vec) /
       |           (sqrt(list_dot_product(qv, qv))
       |             * sqrt(list_dot_product(vec, vec))), 9) AS sim
       |       FROM q JOIN wv ON wv.t <> qt)
       |SELECT qt, neighbor, sim FROM sc
       |QUALIFY row_number() OVER (PARTITION BY qt ORDER BY sim DESC, neighbor) <= 3
       |ORDER BY qt, neighbor""".stripMargin

  /** The e71 training-replay CTE body through `v{E71Rounds}` — shared
    * by the e71 vector dump and the e73 learned-vector knn. */
  private def e71OracleCtes: String = {
    val sh = Glove.Shift
    val upd = sh + E71EtaShift
    val rounds = (1 to E71Rounds).map { r =>
      val p = r - 1
      // clamps mirror Glove's enforced overflow contract (EClamp /
      // GClamp / VCap); DuckDB's sum(BIGINT) is HUGEINT, so the only
      // BIGINT-ranged terms are the clamped products themselves
      s"""e$r AS MATERIALIZED (
         |  SELECT p.i, p.j,
         |    GREATEST(LEAST((CAST(sum(wv.v * cv.v) AS BIGINT) >> $sh) - p.tgt,
         |      ${Glove.EClamp}), -${Glove.EClamp}) AS e
         |  FROM pairs p
         |  JOIN v$p wv ON wv.side = 'w' AND wv.t = p.i
         |  JOIN v$p cv ON cv.side = 'c' AND cv.t = p.j AND cv.k = wv.k
         |  GROUP BY p.i, p.j, p.tgt),
         |g$r AS MATERIALIZED (
         |  SELECT 'w' AS side, e.i AS t, c.k,
         |    CAST(GREATEST(LEAST(sum(e.e * c.v), ${Glove.GClamp}),
         |      -${Glove.GClamp}) AS BIGINT) AS g
         |  FROM e$r e JOIN v$p c ON c.side = 'c' AND c.t = e.j
         |  GROUP BY e.i, c.k
         |  UNION ALL
         |  SELECT 'c', e.j, w.k,
         |    CAST(GREATEST(LEAST(sum(e.e * w.v), ${Glove.GClamp}),
         |      -${Glove.GClamp}) AS BIGINT)
         |  FROM e$r e JOIN v$p w ON w.side = 'w' AND w.t = e.i
         |  GROUP BY e.j, w.k),
         |v$r AS MATERIALIZED (
         |  SELECT s.side, s.t, s.k,
         |    GREATEST(LEAST(s.v - (coalesce(g.g, 0) >> $upd), ${Glove.VCap}),
         |      -${Glove.VCap}) AS v
         |  FROM v$p s LEFT JOIN g$r g
         |    ON g.side = s.side AND g.t = s.t AND g.k = s.k)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents WHERE doc_id % 20 = 5),
       |co AS MATERIALIZED (
       |  SELECT center, context, CAST(sum(wt) AS BIGINT) AS wfp FROM (
       |    SELECT w[i] AS center, w[i+d] AS context,
       |      ${Text.PhraseScale} // abs(d) AS wt
       |    FROM toks, UNNEST(generate_series(1, len(w))) t1(i),
       |         UNNEST([-3, -2, -1, 1, 2, 3]) t2(d)
       |    WHERE i + d >= 1 AND i + d <= len(w))
       |  GROUP BY center, context),
       |pairs AS MATERIALIZED (
       |  SELECT center AS i, context AS j,
       |    CAST(length(bin(wfp)) - 1 - $sh AS BIGINT) * ${1L << sh} AS tgt
       |  FROM co),
       |vocab AS (SELECT i AS t FROM pairs UNION SELECT j FROM pairs),
       |v0 AS MATERIALIZED (
       |  SELECT side, t, k,
       |    ((CAST(('0x' || substr(md5(side || ':' || t || ':' ||
       |        CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8191) - 4095)
       |      * 16 AS v
       |  FROM vocab,
       |       UNNEST(generate_series(0, ${E71Dims - 1})) dk(k),
       |       (SELECT unnest(['w', 'c']) AS side)),
       |$rounds""".stripMargin
  }

  private def e61OracleSql: String =
    "WITH " + e61Ctes + "\n" +
      s"""SELECT sc.doc_id, CAST(sc.margin AS BIGINT) AS margin,
       |  CASE WHEN sc.margin > 0 THEN 1 ELSE -1 END AS pred, y.y AS label
       |FROM sc JOIN y USING (doc_id) ORDER BY sc.doc_id""".stripMargin

  /** e66's oracle: the shared e61 margins swept over the threshold
    * list — confusion counts per threshold. */
  private def e66OracleSql: String = {
    val ts = E66Thresholds.mkString(", ")
    "WITH " + e61Ctes + ",\n" +
      s"""th AS (SELECT unnest([$ts]) AS threshold)
       |SELECT th.threshold,
       |  CAST(sum(CASE WHEN sc.margin >= th.threshold AND y.y = 1
       |        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN sc.margin >= th.threshold AND y.y <> 1
       |        THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN sc.margin < th.threshold AND y.y <> 1
       |        THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CAST(sum(CASE WHEN sc.margin < th.threshold AND y.y = 1
       |        THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |FROM sc JOIN y USING (doc_id), th
       |GROUP BY th.threshold ORDER BY th.threshold""".stripMargin
  }

  /** e63's generated oracle: replays `Unigram.train(rounds = 2)` —
    * seed substring counts, then per round the fixed-point costs, the
    * candidate frame, the position-unrolled Viterbi DP (16 chained
    * CTEs), the smallest-k backpointer table, the 16-hop backtrack
    * (each hop emits the consumed piece), and the usage recount with
    * the single-char floor. The engine's DP is row-local; this is the
    * same arithmetic in relational shape — results match because every
    * tie-break (min cost, then smallest last piece) is pinned. All
    * CTEs MATERIALIZED (the e61 inlining lesson). */
  private def unigramCtes(nRounds: Int): String = {
    import graft.ext.Unigram.{MaxWordLen, MaxPieceLen, Scale, Inf}
    def round(r: Int): String = {
      val dp = (1 to MaxWordLen).map { j =>
        val branches = (1 to math.min(MaxPieceLen, j)).map { k =>
          s"""SELECT b.w, b.c + cd.cost AS c
             |      FROM b${r}_${j - k} b JOIN cand$r cd
             |        ON cd.w = b.w AND cd.j = $j AND cd.k = $k
             |      WHERE length(b.w) >= $j""".stripMargin
        }.mkString("\n      UNION ALL ")
        s"""b${r}_$j AS MATERIALIZED (SELECT w, min(c) AS c FROM (
           |      $branches) GROUP BY w)""".stripMargin
      }.mkString(",\n")
      val chBranches = (1 to MaxWordLen).flatMap { j =>
        (1 to math.min(MaxPieceLen, j)).map { k =>
          s"""SELECT b.w, $j AS j, $k AS k
             |      FROM b${r}_${j - k} b
             |      JOIN cand$r cd ON cd.w = b.w AND cd.j = $j AND cd.k = $k
             |      JOIN b${r}_$j e ON e.w = b.w AND e.c = b.c + cd.cost
             |      WHERE length(b.w) >= $j""".stripMargin
        }
      }.mkString("\n      UNION ALL ")
      val hops = (1 to MaxWordLen).map { i =>
        s"""t${r}_$i AS MATERIALIZED (
           |  SELECT t.w, t.pos - ch.k AS pos,
           |         substr(t.w, t.pos - ch.k + 1, ch.k) AS piece
           |  FROM t${r}_${i - 1} t JOIN ch$r ch
           |    ON ch.w = t.w AND ch.j = t.pos
           |  WHERE t.pos > 0)""".stripMargin
      }.mkString(",\n")
      val emitted = (1 to MaxWordLen).map(i => s"SELECT w, piece FROM t${r}_$i")
        .mkString(" UNION ALL ")
      s"""c$r AS MATERIALIZED (SELECT s,
         |    length(bin(CAST(t.tot AS BIGINT) * $Scale
         |      // CAST(cnt AS BIGINT))) - 1 AS cost
         |  FROM v$r, (SELECT sum(cnt) AS tot FROM v$r) t),
         |cand$r AS MATERIALIZED (SELECT w, j, k,
         |    coalesce(c.cost, $Inf) AS cost
         |  FROM (SELECT w, i AS j, k
         |        FROM words, UNNEST(generate_series(1, length(w))) s(i),
         |             UNNEST(generate_series(1, least($MaxPieceLen, i))) u(k))
         |  LEFT JOIN c$r c ON c.s = substr(w, j - k + 1, k)),
         |b${r}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS c FROM words),
         |$dp,
         |ch$r AS MATERIALIZED (SELECT w, j, min(k) AS k FROM (
         |      $chBranches) GROUP BY w, j),
         |t${r}_0 AS MATERIALIZED (SELECT w, CAST(length(w) AS INT) AS pos,
         |  '' AS piece FROM words),
         |$hops,
         |em$r AS MATERIALIZED ($emitted),
         |u$r AS MATERIALIZED (SELECT piece AS s, sum(freq) AS cnt
         |  FROM em$r e JOIN words USING (w) GROUP BY piece),
         |v${r + 1} AS MATERIALIZED (SELECT coalesce(u.s, ch.s) AS s,
         |    coalesce(u.cnt, 1) AS cnt
         |  FROM u$r u FULL JOIN chars ch ON u.s = ch.s)""".stripMargin
    }
    s"""words AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |chars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS s
       |  FROM words, UNNEST(generate_series(1, length(w))) t(i)),
       |v1 AS MATERIALIZED (SELECT substr(w, i, k) AS s, sum(freq) AS cnt
       |  FROM words, UNNEST(generate_series(1, length(w))) s(i),
       |       UNNEST(generate_series(1, least($MaxPieceLen, length(w) - i + 1))) u(k)
       |  GROUP BY 1),
       |${(1 to nRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private def e63OracleSql: String =
    "WITH " + unigramCtes(2) + "\n" +
      s"""SELECT s, CAST(cnt AS BIGINT) AS cnt FROM v3
       |ORDER BY cnt DESC, s LIMIT 200""".stripMargin

  /** e64's oracle: a THIRD unrolled segmentation round under the
    * trained (v3) vocabulary — its em3 pieces ARE the corpus
    * tokenization — then per-word piece counts joined back onto the
    * per-document word stream. */
  /** e64's replay WITHOUT the trailing ORDER BY, so e85 can embed it
    * as a nested-WITH total (the e75/e78 embedding precedent). */
  private def e64OracleCore: String =
    "WITH " + unigramCtes(3) + ",\n" +
      s"""pw AS MATERIALIZED (SELECT w, count(*) AS n_pieces
       |  FROM em3 GROUP BY w),
       |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents)
       |SELECT doc_id, CAST(sum(p.n_pieces) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, w FROM dt WHERE length(w) > 0) d
       |JOIN pw p USING (w)
       |GROUP BY doc_id""".stripMargin

  private def e64OracleSql: String = e64OracleCore + "\nORDER BY doc_id"

  /** The train-then-tokenize chain (the e59 body) WITHOUT the trailing
    * ORDER BY, parameterized on the argmax mode so e85 scores BPE and
    * WordPiece through ONE definition. */
  private def bpeTokenizeCoreSql(likelihood: Boolean): String =
    "WITH " + bpeChainCtes(likelihood) + ",\n" +
      s"""wl AS (SELECT wid, count(*) AS t FROM w8 GROUP BY wid),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT doc_id, CAST(sum(t) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN wl ON wl.wid = dw.w
       |WHERE dw.w <> ''
       |GROUP BY doc_id""".stripMargin

  /** e85's oracle: all three tokenize chains embedded as nested-WITH
    * totals over the shared corpus word count — assembled by plain
    * concatenation (the chains are already-final SQL text; no second
    * stripMargin ever touches them). */
  private def e85OracleSql: String = {
    def tot(inner: String, cnt: String) =
      s"(SELECT CAST(sum($cnt) AS BIGINT) AS n_tokens FROM (\n$inner\n))"
    "WITH nw AS (SELECT count(*) AS n_words FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) > 0),\n" +
      "bpe AS " + tot(bpeTokenizeCoreSql(likelihood = false), "n_bpe_tokens") + ",\n" +
      "wp AS " + tot(bpeTokenizeCoreSql(likelihood = true), "n_bpe_tokens") + ",\n" +
      "uni AS " + tot(e64OracleCore, "n_tokens") + ",\n" +
      """per_method AS (
        |  SELECT 'bpe' AS method, n_tokens FROM bpe
        |  UNION ALL SELECT 'unigram' AS method, n_tokens FROM uni
        |  UNION ALL SELECT 'wordpiece' AS method, n_tokens FROM wp)
        |SELECT method, n_words, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
        |FROM per_method, nw ORDER BY method""".stripMargin
  }

  /** Brute-force cosine top-k oracle, parameterized over the query-id
    * set and k — e06's replay, shared with the e72 harness's two
    * exact baselines. */
  private def bfOracleSql(ids: Seq[Long], k: Int): String = {
    val idList = ids.mkString(", ")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id IN ($idList)),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |        round(list_dot_product(qv, cv) /
       |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
       |      FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
       |SELECT query_id, neighbor_id, sim FROM s
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $k
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** e72's generated oracle: the five approximate pipelines' existing
    * replays (verbatim, minus their presentation ORDER BY) plus the
    * two brute-force baselines, each as a nested-WITH CTE, then the
    * per-method intersection counts and the single-division recall. */
  private def e72OracleSql(base: Map[String, String]): String = {
    def stripped(sql: String): String = {
      val i = sql.lastIndexOf("ORDER BY")
      require(i > 0, "component oracle has no trailing ORDER BY")
      sql.substring(0, i).trim
    }
    val members = Seq(
      ("ivf", KnnK, "bf10", stripped(base("e23_knn_ivf"))),
      ("ivfpq_residual", E48TopK, "bf5", stripped(base("e56_knn_ivfpq_residual"))),
      ("lsh", KnnK, "bf10", stripped(base("e07_knn_lsh"))),
      ("lsh_multiprobe", KnnK, "bf10", stripped(base("e99_knn_lsh_multiprobe"))),
      ("pq", E48TopK, "bf5", stripped(base("e48_knn_pq"))),
      ("sq8", E48TopK, "bf5", stripped(base("e53_knn_sq8"))))
    val ctes = members.map { case (m, _, _, sql) =>
      s"m_$m AS MATERIALIZED (" + "\n" + sql + ")"
    }.mkString(",\n")
    val rows = members.map { case (m, k, bf, _) =>
      s"""SELECT '$m' AS method, CAST($k AS BIGINT) AS k,
         |  (SELECT count(DISTINCT query_id) FROM $bf) AS n_queries,
         |  (SELECT count(*) FROM $bf b JOIN m_$m a
         |     ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id) AS hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bf10 AS MATERIALIZED (
       |${stripped(bfOracleSql(knnQueryIds, KnnK))}),
       |bf5 AS MATERIALIZED (
       |${stripped(bfOracleSql(E48QueryIds, E48TopK))}),
       |$ctes,
       |sc AS ($rows)
       |SELECT method, k, CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(hits AS BIGINT) AS hits,
       |  CAST(hits AS DOUBLE) / (n_queries * k) AS recall
       |FROM sc ORDER BY method""".stripMargin
  }

  /** e60's full BM25 replay WITHOUT the trailing ORDER BY, so e74 can
    * embed it as a nested-WITH CTE (strip-once discipline: this core is
    * stripMargin'd exactly once; every consumer composes by PLAIN
    * CONCATENATION, never a second stripMargin over interpolated text —
    * the round-10 e71 bug class, gated by OracleSqlLintSpec).
    * Whitespace postings, df, doc lengths, corpus totals, the
    * 2^20-scaled idf argument, the eighth-bit integer log2
    * (length(bin()) exponent + shifted mantissa), and the
    * denominator-cleared tf factor — every floor division in the same
    * order as the Spark plan. `//` == `div` (all operands positive);
    * >> mirrors shiftright. */
  private def e60OracleCoreFrom(src: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |tk AS (SELECT doc_id, unnest(w) AS t FROM toks),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
       |post AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY doc_id, t),
       |dfq AS (SELECT t, count(*) AS df FROM post GROUP BY t),
       |tot AS (SELECT (SELECT count(*) FROM $src) AS n,
       |               (SELECT count(*) FROM tk) AS tt),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(w[1:6]) AS t
       |       FROM toks WHERE doc_id % 101 = 7),
       |idf AS (SELECT t,
       |         ((2 * n - 2 * df + 1) * ${graft.ext.Retrieval.Scale} // (2 * df + 1))
       |           + ${graft.ext.Retrieval.Scale} AS x
       |        FROM dfq, tot),
       |idf8 AS (SELECT t,
       |          8 * (length(bin(x)) - 1)
       |            + ((x * 8) >> (length(bin(x)) - 1)) - 8 - 160 AS idf8
       |         FROM idf),
       |sc AS (SELECT qt.query_id, p.doc_id,
       |         sum(i.idf8 * ((22 * p.tf * ${graft.ext.Retrieval.Scale})
       |           // (10 * p.tf + 3 + (9 * d.dl * tot.n) // tot.tt))) AS score_fp
       |       FROM qt JOIN post p USING (t)
       |         JOIN idf8 i ON i.t = qt.t
       |         JOIN dl d ON d.doc_id = p.doc_id, tot
       |       WHERE p.doc_id <> qt.query_id
       |       GROUP BY qt.query_id, p.doc_id),
       |rk AS (SELECT query_id, doc_id, CAST(score_fp AS BIGINT) AS score_fp,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score_fp DESC, doc_id) AS rank
       |       FROM sc)
       |SELECT query_id, rank, doc_id, score_fp FROM rk
       |WHERE rank <= 10""".stripMargin

  private val e60OracleCore: String = e60OracleCoreFrom("documents")

  private def e60OracleSql: String =
    e60OracleCore + "\nORDER BY query_id, rank"

  /** e74's replay: the e60 BM25 core as a nested-WITH CTE, the dense
    * exact-cosine ranks for the same `doc_id % 101 = 7` query set
    * (e06's list_dot_product expression verbatim), then the 2^20
    * fixed-point reciprocal-rank fusion and the per-query re-rank.
    * Composed by concatenation of once-stripped fragments. */
  private def e74OracleSql: String = {
    val fusion =
      s"""dq AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 101 = 7),
         |q AS (SELECT query_id, CAST(embedding AS DOUBLE[]) AS qv
         |      FROM embeddings JOIN dq ON vec_id = query_id),
         |c AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM embeddings),
         |s AS (SELECT query_id, doc_id,
         |        round(list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
         |      FROM c CROSS JOIN q WHERE query_id <> doc_id),
         |dense AS (SELECT * FROM (
         |        SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY sim DESC, doc_id) AS rank
         |        FROM s) WHERE rank <= 10),
         |fc AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |         coalesce(l.doc_id, d.doc_id) AS doc_id,
         |         coalesce(${graft.ext.Retrieval.Scale} // (60 + l.rank), 0)
         |           + coalesce(${graft.ext.Retrieval.Scale} // (60 + d.rank), 0) AS score_rrf
         |       FROM lex l FULL OUTER JOIN dense d
         |         ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
         |rk2 AS (SELECT query_id, doc_id, CAST(score_rrf AS BIGINT) AS score_rrf,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY score_rrf DESC, doc_id) AS rank
         |        FROM fc)
         |SELECT query_id, rank, doc_id, score_rrf FROM rk2
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    "WITH lex AS MATERIALIZED (\n" + e60OracleCore + "),\n" + fusion
  }

  /** e75's replay WITHOUT the trailing ORDER BY, so e78 can embed it
    * as a nested-WITH CTE (the e60/e74 strip-once discipline): bigram
    * events by position unnest (the e70 instance pattern —
    * generate_series(1, 0) is EMPTY in DuckDB, matching the Spark
    * short-doc guard), train counts on the doc_id % 5 != 3 split,
    * Jelinek-Mercer λ=3/4 interpolation in 2^20 fixed point with the
    * >= 1 unknown floor, eighth-bit integer surprisal, and the per-doc
    * fold. `//` == `div` (all operands positive). */
  private def e75OracleCore: String = e75OracleCoreFrom("documents")

  /** e75's replay parameterized on the source relation, so e120's
    * oracle (the full retrain+rescore over the newer snapshot) reuses
    * the identical chain — the e60/e100 From-helper discipline. */
  private def e75OracleCoreFrom(src: String): String =
    s"""WITH toks_75 AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |pr_75 AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       |       FROM toks_75, UNNEST(generate_series(1, len(w) - 1)) t(i)),
       |tr_75 AS (SELECT * FROM pr_75 WHERE doc_id % 5 <> 3),
       |big_75 AS (SELECT w1, w2, count(*) AS c2 FROM tr_75 GROUP BY w1, w2),
       |lf_75 AS (SELECT w1, sum(c2) AS cl FROM big_75 GROUP BY w1),
       |uni_75 AS (SELECT t AS w2, count(*) AS c1
       |        FROM (SELECT unnest(w) AS t FROM toks_75 WHERE doc_id % 5 <> 3)
       |        GROUP BY t),
       |tot_75 AS (SELECT sum(c1) AS n_total FROM uni_75),
       |sc_75 AS (SELECT p.doc_id,
       |         greatest((
       |           (CASE WHEN b.c2 IS NULL THEN 0
       |                 ELSE 3 * ((b.c2 * ${graft.ext.Retrieval.Scale}) // l.cl) END)
       |           + (CASE WHEN u.c1 IS NULL THEN 0
       |                   ELSE (u.c1 * ${graft.ext.Retrieval.Scale}) // t.n_total END)
       |         ) // 4, 1) AS p_fp
       |       FROM pr_75 p
       |       LEFT JOIN big_75 b ON b.w1 = p.w1 AND b.w2 = p.w2
       |       LEFT JOIN lf_75 l ON l.w1 = p.w1
       |       LEFT JOIN uni_75 u ON u.w2 = p.w2, tot_75 t),
       |s8_75 AS (SELECT doc_id,
       |         160 - (8 * (length(bin(p_fp)) - 1)
       |           + ((p_fp * 8) >> (length(bin(p_fp)) - 1)) - 8) AS s8
       |       FROM sc_75)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(s8) AS BIGINT) AS surprisal8,
       |  CAST((sum(s8) * 1000) // count(*) AS BIGINT) AS mean_milli
       |FROM s8_75 GROUP BY doc_id""".stripMargin

  private def e75OracleSql: String =
    e75OracleCore + "\nORDER BY doc_id"

  /** e09's replay WITHOUT the trailing ORDER BY, so e86 can embed it
    * as a nested-WITH rank input (the e75/e78 embedding precedent). */
  private val e09OracleCore: String =
    """WITH stats AS (
      |  SELECT doc_id, length(text) AS text_len,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the','a','of','to','and','in','is','on','for','with'))) AS n_stopwords,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      |  FROM documents)
      |SELECT doc_id,
      |  0.5 * (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |  + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(text_len AS DOUBLE))
      |  + 0.2 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
      |  AS quality_score
      |FROM stats""".stripMargin

  /** e86's oracle: the three scorer replays (e61 margins through the
    * shared training chain, the e09 core, the e75 core) ranked by
    * PLAIN global windows — the oracle side has no single-task-sort
    * constraint; the Spark plan's two-phase bucketing must agree
    * rank-for-rank — then pairwise integer Σd² and the exact Spearman
    * division. Assembled by concatenation of once-stripped fragments. */
  private def e86OracleSql: String =
    "WITH " + e61Ctes + ",\n" +
      "q09 AS MATERIALIZED (\n" + e09OracleCore + "),\n" +
      "sc75 AS MATERIALIZED (\n" + e75OracleCore + "),\n" +
      s"""rr AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY quality_score, doc_id) AS rk
       |        FROM q09),
       |rc AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY CAST(margin AS BIGINT), doc_id) AS rk
       |        FROM sc),
       |rp AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY -mean_milli, doc_id) AS rk
       |        FROM sc75),
       |u AS (
       |  SELECT 'classifier' AS scorer_a, 'perplexity' AS scorer_b,
       |    count(*) AS n,
       |    CAST(sum((a.rk - b.rk) * (a.rk - b.rk)) AS BIGINT) AS sum_d2
       |  FROM rc a JOIN rp b USING (doc_id)
       |  UNION ALL
       |  SELECT 'classifier' AS scorer_a, 'rules' AS scorer_b, count(*),
       |    CAST(sum((a.rk - b.rk) * (a.rk - b.rk)) AS BIGINT)
       |  FROM rc a JOIN rr b USING (doc_id)
       |  UNION ALL
       |  SELECT 'perplexity' AS scorer_a, 'rules' AS scorer_b, count(*),
       |    CAST(sum((a.rk - b.rk) * (a.rk - b.rk)) AS BIGINT)
       |  FROM rp a JOIN rr b USING (doc_id))
       |SELECT scorer_a, scorer_b, n, sum_d2,
       |  CASE WHEN n > 1
       |    THEN 1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE)
       |    ELSE 0.0 END AS spearman
       |FROM u ORDER BY scorer_a, scorer_b""".stripMargin

  /** e87's oracle: exact word-n-gram contaminated sets at n in
    * {2,4,8} over the %40 benchmark split, the fuzzy detector as the
    * FULL e65 replay (signatures, banding, candidate pairs, exact
    * Jaccard verify — so LSH banding semantics are pinned, not
    * approximated), and the five scoreboard rows as scalar-subquery
    * counts. The bloom row re-uses the n=4 exact set — equality is the
    * operator's contract (no false negatives + exact verify). */
  private def e87OracleSql: String = {
    def dets(n: Int): String = {
      val gram = (0 until n).map(k => if (k == 0) "w[i]" else s"w[i+$k]")
        .mkString(" || ' ' || ")
      s"""tg$n AS (SELECT DISTINCT doc_id, $gram AS s
         |       FROM toks, UNNEST(generate_series(1, len(w) - ${n - 1})) AS t(i)
         |       WHERE doc_id % 40 <> 1),
         |bg$n AS (SELECT DISTINCT $gram AS s
         |       FROM toks, UNNEST(generate_series(1, len(w) - ${n - 1})) AS t(i)
         |       WHERE doc_id % 40 = 1),
         |det$n AS (SELECT DISTINCT doc_id FROM tg$n JOIN bg$n USING (s))"""
        .stripMargin
    }
    val bands = (0 until Dedup.NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    def row(method: String, det: String): String =
      s"""SELECT '$method' AS method,
         |    (SELECT count(*) FROM $det) AS n_detected,
         |    (SELECT count(*) FROM det4) AS n_truth,
         |    (SELECT count(*) FROM $det dd JOIN det4 tt USING (doc_id)) AS tp"""
        .stripMargin
    s"""WITH $sigCte,
       |${dets(2)},
       |${dets(4)},
       |${dets(8)},
       |fbands AS (
       |  $bands),
       |fla AS (SELECT doc_id AS left_id, band, bh FROM fbands WHERE doc_id % 40 <> 1),
       |frb AS (SELECT doc_id AS right_id, band, bh FROM fbands WHERE doc_id % 40 = 1),
       |fcand AS (SELECT DISTINCT left_id, right_id FROM fla JOIN frb USING (band, bh)),
       |fd AS (SELECT DISTINCT doc_id, s FROM sh),
       |fn AS (SELECT doc_id, count(*) AS sz FROM fd GROUP BY doc_id),
       |fc AS (SELECT left_id, right_id, count(*) AS inter
       |      FROM fcand
       |      JOIN fd da ON da.doc_id = left_id
       |      JOIN fd db ON db.doc_id = right_id AND db.s = da.s
       |      GROUP BY left_id, right_id),
       |fdet AS (SELECT DISTINCT left_id AS doc_id
       |      FROM fc JOIN fn na ON na.doc_id = left_id
       |      JOIN fn nb ON nb.doc_id = right_id
       |      WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5),
       |rows87 AS (
       |  ${row("exact_n2", "det2")}
       |  UNION ALL
       |  ${row("exact_n4", "det4")}
       |  UNION ALL
       |  ${row("exact_n8", "det8")}
       |  UNION ALL
       |  ${row("bloom_n4", "det4")}
       |  UNION ALL
       |  ${row("fuzzy_j50", "fdet")})
       |SELECT method, n_detected, n_truth, tp,
       |  CASE WHEN n_detected > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_detected AS DOUBLE)
       |    ELSE 0.0 END AS prec,
       |  CASE WHEN n_truth > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)
       |    ELSE 0.0 END AS recall
       |FROM rows87 ORDER BY method""".stripMargin
  }

  /** e88's oracle: the e75 scorer replay as the difficulty signal,
    * phase = equal-population quartile of the plain global difficulty
    * rank, then the within-phase id-hash shuffle order — both ranks as
    * plain global windows (the oracle side has no single-task-sort
    * constraint; [[graft.ext.Agreement.globalRank]]'s bucketing is
    * plan-only and must agree rank-for-rank). */
  private def e88OracleSql: String =
    "WITH sc88 AS MATERIALIZED (\n" + e75OracleCore + "),\n" +
      s"""r88 AS (SELECT doc_id, mean_milli,
       |          row_number() OVER (ORDER BY mean_milli, doc_id) AS rk
       |        FROM sc88),
       |n88 AS (SELECT count(*) AS n FROM sc88),
       |p88 AS (SELECT doc_id, mean_milli,
       |          ((rk - 1) * 4) // n AS phase,
       |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
       |        FROM r88, n88)
       |SELECT doc_id, mean_milli AS difficulty, phase,
       |  CAST(row_number() OVER (ORDER BY phase, skey, doc_id) AS BIGINT) AS ord
       |FROM p88 ORDER BY doc_id""".stripMargin

  /** e81's replay WITHOUT the trailing ORDER BY, so e91 can embed it
    * as a nested-WITH rater input (the e09/e75 embedding precedent).
    * Word-level Gopher Table-A1: identical split/stat arithmetic
    * (mean word length via the 1-char-delimiter identity
    * sum(len) = len(text) - (n-1)), the same double comparisons for
    * the thresholds, keep as 0/1 int. */
  private val e81OracleCore: String =
    """WITH st AS (
      |  SELECT doc_id, length(text) AS tl,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the','a','of','to','and','in','is','on','for','with'))) AS stop_hits,
      |    length(text) - length(replace(text, '#', '')) AS n_hash,
      |    CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0 AS n_ell,
      |    len(list_filter(string_split(text, ' '),
      |      t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha
      |  FROM documents),
      |m91 AS (SELECT doc_id, n_words,
      |    CAST(tl - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
      |    stop_hits,
      |    (CAST(n_hash AS DOUBLE) + n_ell) / CAST(n_words AS DOUBLE) AS symbol_ratio,
      |    CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_frac
      |  FROM st)
      |SELECT doc_id, n_words, mean_word_len, stop_hits, symbol_ratio, alpha_frac,
      |  CASE WHEN n_words >= 50 AND n_words <= 100000
      |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
      |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
      |FROM m91""".stripMargin

  /** e91's oracle: the three keep/drop raters (e81 gopher keep, the
    * e09 score thresholded at its 0.53 fixture median, the e61 margin
    * sign through the
    * shared training chain), then pairwise 2×2 confusion counts and
    * the exact-integer kappa — HUGEINT marginal products, one double
    * division of two exact integers per pair. */
  private def e91OracleSql: String = {
    def pairRow(nameA: String, cteA: String, nameB: String, cteB: String) =
      s"""SELECT '$nameA' AS rater_a, '$nameB' AS rater_b, count(*) AS n,
         |    CAST(coalesce(sum(CASE WHEN a.f = 1 AND b.f = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS both_pos,
         |    CAST(coalesce(sum(CASE WHEN a.f = 0 AND b.f = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS both_neg,
         |    CAST(coalesce(sum(CASE WHEN a.f = 1 AND b.f = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_a,
         |    CAST(coalesce(sum(CASE WHEN a.f = 0 AND b.f = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_b
         |  FROM $cteA a JOIN $cteB b USING (doc_id)""".stripMargin
    "WITH " + e61Ctes + ",\n" +
      "q91 AS MATERIALIZED (\n" + e09OracleCore + "),\n" +
      "g91 AS MATERIALIZED (\n" + e81OracleCore + "),\n" +
      s"""rc91 AS (SELECT doc_id, CASE WHEN margin > 0 THEN 1 ELSE 0 END AS f FROM sc),
       |rg91 AS (SELECT doc_id, keep AS f FROM g91),
       |rr91 AS (SELECT doc_id, CASE WHEN quality_score >= 0.53 THEN 1 ELSE 0 END AS f FROM q91),
       |u91 AS (
       |  ${pairRow("classifier", "rc91", "gopher", "rg91")}
       |  UNION ALL
       |  ${pairRow("classifier", "rc91", "rules", "rr91")}
       |  UNION ALL
       |  ${pairRow("gopher", "rg91", "rules", "rr91")}),
       |z91 AS (SELECT *,
       |    CAST(both_pos + only_a AS HUGEINT) * (both_pos + only_b)
       |      + CAST(only_b + both_neg AS HUGEINT) * (only_a + both_neg) AS pe
       |  FROM u91)
       |SELECT rater_a, rater_b, n, both_pos, both_neg, only_a, only_b,
       |  CASE WHEN CAST(n AS HUGEINT) * n - pe = 0 THEN 0.0
       |    ELSE CAST(CAST(n AS HUGEINT) * (both_pos + both_neg) - pe AS DOUBLE)
       |       / CAST(CAST(n AS HUGEINT) * n - pe AS DOUBLE) END AS kappa
       |FROM z91 ORDER BY rater_a, rater_b""".stripMargin
  }

  /** e94's oracle: the e29 recursive transitive-closure replay, the
    * e09 quality core as a nested CTE, then the per-cluster argmax
    * (QUALIFY row_number over the keep_id partition). */
  private def e94OracleSql: String = {
    val bands = (0 until Dedup.NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $sigCte,
       |bands AS (
       |  $bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |und AS (SELECT doc_a AS u, doc_b AS v FROM cand
       |        UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(a, b) AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.a, u.v FROM reach r JOIN und u ON u.u = r.b),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
       |         FROM reach GROUP BY a),
       |cl94 AS (SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id
       |         FROM documents d LEFT JOIN comp c USING (doc_id)),
       |q94 AS MATERIALIZED (
       |$e09OracleCore),
       |j94 AS (SELECT cl94.doc_id, cl94.keep_id, q.quality_score
       |        FROM cl94 JOIN q94 q USING (doc_id)),
       |b94 AS (SELECT keep_id, doc_id AS best_id FROM j94
       |        QUALIFY row_number() OVER (PARTITION BY keep_id
       |          ORDER BY quality_score DESC, doc_id) = 1)
       |SELECT j.doc_id, j.keep_id, b.best_id
       |FROM j94 j JOIN b94 b USING (keep_id)
       |ORDER BY j.doc_id""".stripMargin
  }

  /** e92's oracle: the e60 BM25 scoring chain WITHOUT the top-k cut,
    * the e17-style LSH-candidate + exact-Jaccard near-dup replay as
    * the positives relation (both orientations), an ANTI JOIN, then
    * the per-query rank <= 5. The shingle `toks` CTE serves both the
    * signature chain and the BM25 token stream. */
  private def e92OracleSql: String = {
    val bands = (0 until Dedup.NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $sigCte,
       |bands92 AS (
       |  $bands),
       |cand92 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands92 a JOIN bands92 b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |d92 AS (SELECT DISTINCT doc_id, s FROM sh),
       |n92 AS (SELECT doc_id, count(*) AS sz FROM d92 GROUP BY doc_id),
       |i92 AS (SELECT doc_a, doc_b, count(*) AS inter
       |      FROM cand92
       |      JOIN d92 da ON da.doc_id = doc_a
       |      JOIN d92 db ON db.doc_id = doc_b AND db.s = da.s
       |      GROUP BY doc_a, doc_b),
       |dup92 AS (SELECT doc_a, doc_b
       |      FROM i92 JOIN n92 na ON na.doc_id = doc_a
       |      JOIN n92 nb ON nb.doc_id = doc_b
       |      WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5),
       |pos92 AS (SELECT doc_a AS query_id, doc_b AS doc_id FROM dup92
       |      UNION ALL SELECT doc_b, doc_a FROM dup92),
       |tk AS (SELECT doc_id, unnest(w) AS t FROM toks),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
       |post AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY doc_id, t),
       |dfq AS (SELECT t, count(*) AS df FROM post GROUP BY t),
       |tot AS (SELECT (SELECT count(*) FROM documents) AS n,
       |               (SELECT count(*) FROM tk) AS tt),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(w[1:6]) AS t
       |       FROM toks WHERE doc_id % 101 = 7),
       |idf AS (SELECT t,
       |         ((2 * n - 2 * df + 1) * ${graft.ext.Retrieval.Scale} // (2 * df + 1))
       |           + ${graft.ext.Retrieval.Scale} AS x
       |        FROM dfq, tot),
       |idf8 AS (SELECT t,
       |          8 * (length(bin(x)) - 1)
       |            + ((x * 8) >> (length(bin(x)) - 1)) - 8 - 160 AS idf8
       |         FROM idf),
       |sc92 AS (SELECT qt.query_id, p.doc_id,
       |         CAST(sum(i.idf8 * ((22 * p.tf * ${graft.ext.Retrieval.Scale})
       |           // (10 * p.tf + 3 + (9 * d.dl * tot.n) // tot.tt))) AS BIGINT) AS score_fp
       |       FROM qt JOIN post p USING (t)
       |         JOIN idf8 i ON i.t = qt.t
       |         JOIN dl d ON d.doc_id = p.doc_id, tot
       |       WHERE p.doc_id <> qt.query_id
       |       GROUP BY qt.query_id, p.doc_id),
       |neg92 AS (SELECT s.query_id, s.doc_id, s.score_fp
       |       FROM sc92 s ANTI JOIN pos92 p
       |         ON p.query_id = s.query_id AND p.doc_id = s.doc_id),
       |rk92 AS (SELECT query_id, doc_id, score_fp,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score_fp DESC, doc_id) AS rank
       |       FROM neg92)
       |SELECT query_id, rank, doc_id AS neg_id, score_fp FROM rk92
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** e96's oracle: the e17 near-dup replay (truth + query set), the
    * e60 BM25 replay re-targeted at that query set, the e74 dense and
    * RRF replays, then per-method integer hit/first-rank counts and
    * the three exact-int double divisions. Every ratio divides the
    * same two integers as the Spark plan. */
  private def e96OracleSql: String = {
    val S = graft.ext.Retrieval.Scale
    val bands = (0 until Dedup.NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    val stats = Seq("lex", "den", "rrf").map { m =>
      s"""h_$m AS (SELECT query_id, min(rank) AS fr, count(*) AS c
         |       FROM ${m}96 JOIN rel96 USING (query_id, doc_id)
         |       GROUP BY query_id),
         |r_$m AS (SELECT coalesce(sum(c), 0) AS hits,
         |         coalesce(sum($S // fr), 0) AS mrr_fp FROM h_$m)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sigCte,
       |bands96 AS (
       |  $bands),
       |cand96 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands96 a JOIN bands96 b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |dd96 AS (SELECT DISTINCT doc_id, s FROM sh),
       |nn96 AS (SELECT doc_id, count(*) AS sz FROM dd96 GROUP BY doc_id),
       |ii96 AS (SELECT doc_a, doc_b, count(*) AS inter
       |      FROM cand96
       |      JOIN dd96 da ON da.doc_id = doc_a
       |      JOIN dd96 db ON db.doc_id = doc_b AND db.s = da.s
       |      GROUP BY doc_a, doc_b),
       |dup96 AS (SELECT doc_a, doc_b
       |      FROM ii96 JOIN nn96 na ON na.doc_id = doc_a
       |      JOIN nn96 nb ON nb.doc_id = doc_b
       |      WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5),
       |rel96 AS (SELECT doc_a AS query_id, doc_b AS doc_id FROM dup96
       |      UNION ALL SELECT doc_b, doc_a FROM dup96),
       |qid96 AS (SELECT DISTINCT query_id FROM rel96),
       |toks96 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tk96 AS (SELECT doc_id, unnest(w) AS t FROM toks96),
       |dl96 AS (SELECT doc_id, count(*) AS dl FROM tk96 GROUP BY doc_id),
       |post96 AS (SELECT doc_id, t, count(*) AS tf FROM tk96 GROUP BY doc_id, t),
       |dfq96 AS (SELECT t, count(*) AS df FROM post96 GROUP BY t),
       |tot96 AS (SELECT (SELECT count(*) FROM documents) AS n,
       |               (SELECT count(*) FROM tk96) AS tt),
       |qt96 AS (SELECT DISTINCT tt2.doc_id AS query_id, unnest(tt2.w[1:6]) AS t
       |       FROM toks96 tt2 JOIN qid96 qq ON qq.query_id = tt2.doc_id),
       |idf96 AS (SELECT t,
       |         ((2 * n - 2 * df + 1) * $S // (2 * df + 1))
       |           + $S AS x
       |        FROM dfq96, tot96),
       |idf8x96 AS (SELECT t,
       |          8 * (length(bin(x)) - 1)
       |            + ((x * 8) >> (length(bin(x)) - 1)) - 8 - 160 AS idf8
       |         FROM idf96),
       |scx96 AS (SELECT qt96.query_id, p.doc_id,
       |         CAST(sum(i.idf8 * ((22 * p.tf * $S)
       |           // (10 * p.tf + 3 + (9 * d.dl * tot96.n) // tot96.tt))) AS BIGINT) AS score_fp
       |       FROM qt96 JOIN post96 p USING (t)
       |         JOIN idf8x96 i ON i.t = qt96.t
       |         JOIN dl96 d ON d.doc_id = p.doc_id, tot96
       |       WHERE p.doc_id <> qt96.query_id
       |       GROUP BY qt96.query_id, p.doc_id),
       |lex96 AS (SELECT * FROM (
       |        SELECT query_id, doc_id, score_fp,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY score_fp DESC, doc_id) AS rank
       |        FROM scx96) WHERE rank <= $KnnK),
       |qv96 AS (SELECT query_id, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings JOIN qid96 ON vec_id = query_id),
       |cv96 AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
       |      FROM embeddings),
       |sim96 AS (SELECT query_id, doc_id,
       |        round(list_dot_product(qv, cv) /
       |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
       |      FROM cv96 CROSS JOIN qv96 WHERE query_id <> doc_id),
       |den96 AS (SELECT * FROM (
       |        SELECT query_id, doc_id,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY sim DESC, doc_id) AS rank
       |        FROM sim96) WHERE rank <= $KnnK),
       |fc96 AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
       |         coalesce(l.doc_id, d.doc_id) AS doc_id,
       |         coalesce($S // (60 + l.rank), 0)
       |           + coalesce($S // (60 + d.rank), 0) AS score_rrf
       |       FROM lex96 l FULL OUTER JOIN den96 d
       |         ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
       |rrf96 AS (SELECT * FROM (
       |        SELECT query_id, doc_id,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY score_rrf DESC, doc_id) AS rank
       |        FROM fc96) WHERE rank <= $KnnK),
       |$stats,
       |u96 AS (SELECT 'bm25' AS method, hits, mrr_fp FROM r_lex
       |      UNION ALL SELECT 'dense', hits, mrr_fp FROM r_den
       |      UNION ALL SELECT 'rrf', hits, mrr_fp FROM r_rrf),
       |nq96 AS (SELECT count(*) AS n_queries FROM qid96),
       |nr96 AS (SELECT count(*) AS n_relevant FROM rel96)
       |SELECT method, CAST($KnnK AS BIGINT) AS k,
       |  CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(n_relevant AS BIGINT) AS n_relevant,
       |  CAST(hits AS BIGINT) AS hits, CAST(mrr_fp AS BIGINT) AS mrr_fp,
       |  CAST(hits AS DOUBLE) / (n_queries * $KnnK) AS precision_at_k,
       |  CAST(hits AS DOUBLE) / n_relevant AS recall_at_k,
       |  CAST(mrr_fp AS DOUBLE) / (n_queries * $S) AS mrr
       |FROM u96, nq96, nr96 ORDER BY method""".stripMargin
  }

  /** e97's oracle: the e65 cross-corpus replay with the ingest split —
    * one signature table over all documents (a signature depends only
    * on the doc's own shingles, so computing it jointly and splitting
    * equals the frozen-index + fresh-batch computation), band
    * collisions across the split, exact Jaccard verify. */
  private def e97OracleSql: String = {
    val bands = (0 until Dedup.NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $sigCte,
       |bands97 AS (
       |  $bands),
       |la97 AS (SELECT doc_id AS new_id, band, bh FROM bands97
       |         WHERE doc_id % 5 = 0 AND doc_id < 1000),
       |rb97 AS (SELECT doc_id AS corpus_id, band, bh FROM bands97
       |         WHERE NOT (doc_id % 5 = 0 AND doc_id < 1000)),
       |cand97 AS (SELECT DISTINCT new_id, corpus_id FROM la97 JOIN rb97 USING (band, bh)),
       |d97 AS (SELECT DISTINCT doc_id, s FROM sh),
       |n97 AS (SELECT doc_id, count(*) AS sz FROM d97 GROUP BY doc_id),
       |c97 AS (SELECT new_id, corpus_id, count(*) AS inter
       |      FROM cand97
       |      JOIN d97 da ON da.doc_id = new_id
       |      JOIN d97 db ON db.doc_id = corpus_id AND db.s = da.s
       |      GROUP BY new_id, corpus_id)
       |SELECT new_id, corpus_id,
       |  CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) AS jaccard
       |FROM c97 JOIN n97 na ON na.doc_id = new_id JOIN n97 nb ON nb.doc_id = corpus_id
       |WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5
       |ORDER BY new_id, corpus_id""".stripMargin
  }

  /** e100's generated oracle: the exact quantized Gram pass (HUGEINT
    * sums over the per-dim decomposition), the scaled covariance
    * C = n·G − s·sᵀ, SIXTEEN unrolled power-iteration rounds (the
    * bpeChainCtes discipline — no recursion; each round is a
    * (matvec, max-abs, renormalize) CTE triple, composed by plain
    * concatenation with no second stripMargin over generated text;
    * every round CTE is MATERIALIZED because each is referenced twice
    * downstream — DuckDB's default inlining would otherwise expand the
    * chain 2^16-fold, measured as a hang before materialization),
    * the sign canon, and the integer projection — every `//` has a
    * possibly-negative numerator, which is exactly why the engine
    * side iterates in BigInt: both truncate toward zero. The CHAIN
    * (through the canonical direction `vf`) is shared with e105's
    * whitening final (strip-once: the chain is built exactly once;
    * finals compose by plain concatenation). */
  /** Sixteen unrolled (matvec, max-abs, renormalize) MATERIALIZED CTE
    * rounds plus the sign canon over matrix CTE `mat` (cols i, j, c),
    * starting from `pcv${sfx}0` = VScale·𝟙 and ending in the
    * canonical-direction CTE `vf$sfx` (cols d, v). sfx = "" yields
    * the e100 PC1 chain names; e106 reruns it over the deflated
    * matrix with sfx = "b". */
  private def pcaRoundsSql(mat: String, sfx: String): String = {
    val vs = Pca.VScale
    val rounds = (1 to Pca.Iters).map { t =>
      val pv = s"pcv$sfx${t - 1}"
      s"pcu$sfx$t AS MATERIALIZED (SELECT $mat.i AS d, sum($mat.c * $pv.v) AS u FROM $mat JOIN $pv ON $pv.d = $mat.j GROUP BY $mat.i),\n" +
        s"pcm$sfx$t AS MATERIALIZED (SELECT greatest(max(abs(u)), 1) AS m FROM pcu$sfx$t),\n" +
        s"pcv$sfx$t AS MATERIALIZED (SELECT d, (u * $vs) // m AS v FROM pcu$sfx$t, pcm$sfx$t)"
    }.mkString(",\n")
    val last = s"pcv$sfx${Pca.Iters}"
    s"pcv${sfx}0 AS MATERIALIZED (SELECT DISTINCT d, CAST($vs AS HUGEINT) AS v FROM qd),\n" +
      rounds + ",\n" +
      s"""mz$sfx AS (SELECT max(abs(v)) AS m FROM $last),
         |dz$sfx AS (SELECT min(d) AS dstar FROM $last, mz$sfx WHERE abs($last.v) = mz$sfx.m),
         |sg$sfx AS (SELECT CASE WHEN (SELECT v FROM $last, dz$sfx WHERE $last.d = dz$sfx.dstar) < 0
         |         THEN -1 ELSE 1 END AS s),
         |vf$sfx AS MATERIALIZED (SELECT d, v * sg$sfx.s AS v FROM $last, sg$sfx)""".stripMargin
  }

  private def e100OracleChainFrom(src: String): String =
    s"""WITH qd AS MATERIALIZED (SELECT vec_id, t.pos - 1 AS d,
       |    CAST(floor(CAST(embedding[t.pos] AS DOUBLE) * ${Pca.QScale}.0) AS BIGINT) AS q
       |  FROM $src, UNNEST(generate_series(1, 64)) AS t(pos)),
       |nn100 AS (SELECT CAST(count(*) AS HUGEINT) AS nv FROM $src),
       |sums AS (SELECT d, CAST(sum(q) AS HUGEINT) AS sv FROM qd GROUP BY d),
       |gram AS (SELECT a.d AS i, b.d AS j, CAST(sum(a.q * b.q) AS HUGEINT) AS g
       |         FROM qd a JOIN qd b ON a.vec_id = b.vec_id GROUP BY a.d, b.d),
       |cov AS MATERIALIZED (SELECT gram.i AS i, gram.j AS j, nn100.nv * gram.g - si.sv * sj.sv AS c
       |        FROM gram
       |        JOIN sums si ON si.d = gram.i
       |        JOIN sums sj ON sj.d = gram.j
       |        CROSS JOIN nn100),
       |""".stripMargin + pcaRoundsSql("cov", "")

  private def e100OracleChain: String = e100OracleChainFrom("embeddings")

  private def e100OracleSql: String =
    e100OracleChain + "\n" +
      """SELECT vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS pc1_fp
        |FROM qd JOIN vf USING (d)
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin

  /** e105's oracle CORE (no trailing ORDER BY, so e109 can embed it as
    * a nested-WITH CTE — the e101/e104 strip-once discipline): the
    * e100 chain's canonical direction, then the exact whitening
    * final — w = q·(vᵀv) − (qᵀv)·v, the orthogonal rejection scaled by
    * the positive vᵀv so NO division appears anywhere (cosine
    * downstream is scale-invariant). */
  private def e105OracleCore: String =
    e100OracleChain + ",\n" +
      """vv105 AS (SELECT sum(v * v) AS vv FROM vf),
        |qv105 AS MATERIALIZED (SELECT vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS qv
        |  FROM qd JOIN vf USING (d) GROUP BY vec_id)
        |SELECT q.vec_id, q.d, CAST(q.q * vv.vv - qv.qv * vf.v AS BIGINT) AS w_fp
        |FROM qd q JOIN vf ON vf.d = q.d
        |JOIN qv105 qv ON qv.vec_id = q.vec_id, vv105 vv""".stripMargin

  private def e105OracleSql: String =
    e105OracleCore + "\nORDER BY q.vec_id, q.d"

  /** e101's oracle: the full interpolated-KN replay — trigram events
    * by token index, the one trigram-count frame every continuation
    * count derives from, the three fixed-point levels as staged CTEs
    * (SQL can't reference a same-SELECT alias), the eighth-bit log,
    * and the e75 fold. All operands positive, so `//` == `div`;
    * p_fp ≤ 2^20 is cast to BIGINT before bin(). Core form WITHOUT
    * the trailing ORDER BY so e104 can embed it as a nested-WITH CTE
    * (the e75/e60 strip-once discipline). */
  private def e101OracleCore: String = e101OracleCoreFrom("documents")

  /** e101's replay parameterized on the source relation (the
    * e60/e75/e100 From-helper discipline) — e121's oracle reuses the
    * identical chain over the newer snapshot. */
  private def e101OracleCoreFrom(src: String): String = {
    val S = graft.ext.Retrieval.Scale
    s"""WITH toks_101 AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |ev_101 AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
       |           FROM toks_101, UNNEST(generate_series(1, len(w) - 2)) t(i)),
       |tr_101 AS (SELECT * FROM ev_101 WHERE doc_id % 5 <> 3),
       |c3_101 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr_101 GROUP BY w1, w2, w3),
       |ctx_101 AS (SELECT w1, w2, sum(c3) AS ctx, count(*) AS nl3 FROM c3_101 GROUP BY w1, w2),
       |n1r_101 AS (SELECT w2, w3, count(*) AS n1r FROM c3_101 GROUP BY w2, w3),
       |mid_101 AS (SELECT w2, sum(n1r) AS nmid, count(*) AS nl2 FROM n1r_101 GROUP BY w2),
       |cont_101 AS (SELECT w3, count(*) AS cont1 FROM n1r_101 GROUP BY w3),
       |btot_101 AS (SELECT sum(cont1) AS btot FROM cont_101),
       |p1_101 AS (SELECT e.doc_id, c.c3, x.ctx, x.nl3, r.n1r, m.nmid, m.nl2,
       |    CASE WHEN u.cont1 IS NULL THEN 0 ELSE (u.cont1 * $S) // b.btot END AS p1
       |  FROM ev_101 e
       |  LEFT JOIN c3_101 c ON c.w1 = e.w1 AND c.w2 = e.w2 AND c.w3 = e.w3
       |  LEFT JOIN ctx_101 x ON x.w1 = e.w1 AND x.w2 = e.w2
       |  LEFT JOIN n1r_101 r ON r.w2 = e.w2 AND r.w3 = e.w3
       |  LEFT JOIN mid_101 m ON m.w2 = e.w2
       |  LEFT JOIN cont_101 u ON u.w3 = e.w3, btot_101 b),
       |p2_101 AS (SELECT doc_id, c3, ctx, nl3,
       |    CASE WHEN nmid IS NULL THEN p1 ELSE
       |      (greatest(4 * coalesce(n1r, 0) - 3, 0) * $S) // (4 * nmid)
       |      + (3 * nl2 * p1) // (4 * nmid) END AS p2
       |  FROM p1_101),
       |p3_101 AS (SELECT doc_id,
       |    CAST(greatest(CASE WHEN ctx IS NULL THEN p2 ELSE
       |      (greatest(4 * coalesce(c3, 0) - 3, 0) * $S) // (4 * ctx)
       |      + (3 * nl3 * p2) // (4 * ctx) END, 1) AS BIGINT) AS p_fp
       |  FROM p2_101),
       |s8_101 AS (SELECT doc_id,
       |    160 - (8 * (length(bin(p_fp)) - 1)
       |      + ((p_fp * 8) >> (length(bin(p_fp)) - 1)) - 8) AS s8
       |  FROM p3_101)
       |SELECT doc_id, count(*) AS n_trigrams,
       |  CAST(sum(s8) AS BIGINT) AS surprisal8,
       |  CAST((sum(s8) * 1000) // count(*) AS BIGINT) AS mean_milli
       |FROM s8_101 GROUP BY doc_id""".stripMargin
  }

  private def e101OracleSql: String = e101OracleCore + "\nORDER BY doc_id"

  /** e104's oracle: both LM replays nested as MATERIALIZED CTEs (the
    * e86 composition), plain-global-window ranks (the [[globalRank]]
    * contract: any monotone bucketing yields identical positions, so
    * the oracle ranks flat), one integer d² fold, one double division. */
  private def e104OracleSql: String =
    "WITH sc75 AS MATERIALIZED (\n" + e75OracleCore + "),\n" +
      "sc101 AS MATERIALIZED (\n" + e101OracleCore + "),\n" +
      s"""r75 AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY -mean_milli, doc_id) AS rk
       |        FROM sc75),
       |r101 AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY -mean_milli, doc_id) AS rk
       |        FROM sc101),
       |u104 AS (SELECT 'bigram_jm' AS scorer_a, 'trigram_kn' AS scorer_b,
       |    count(*) AS n,
       |    CAST(sum((a.rk - b.rk) * (a.rk - b.rk)) AS BIGINT) AS sum_d2
       |  FROM r75 a JOIN r101 b USING (doc_id))
       |SELECT scorer_a, scorer_b, n, sum_d2,
       |  CASE WHEN n > 1
       |    THEN 1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE)
       |    ELSE 0.0 END AS spearman
       |FROM u104 ORDER BY scorer_a, scorer_b""".stripMargin

  /** One exact-integer deflation level over matrix CTE `mat` using
    * direction CTE `vdir` — the [[graft.ext.Pca.pcaDirections]] step
    * verbatim: λ = vᵀCv // vᵀv truncated ONCE, then
    * D = (C·vᵀv − λ·v_i·v_j) // vᵀv, the trailing rescale keeping the
    * HUGEINT ledger FLAT across levels so the replay survives any k
    * (without it the entries grow ×vᵀv ≈ 2⁴⁶ per level and overflow at
    * the third). The greatest(...,1) guard mirrors the engine's
    * max(BigInt(1)) on a degenerate zero-covariance corpus (advisor,
    * round 13). Emits CTEs `vv$sfx`, `lam$sfx`, `$out`. */
  private def pcaDeflateSql(mat: String, vdir: String, out: String,
      sfx: String): String =
    s"""vv$sfx AS (SELECT greatest(CAST(sum(v * v) AS HUGEINT), 1) AS vv FROM $vdir),
       |lam$sfx AS (SELECT vv,
       |    (SELECT sum(a.v * m.c * b.v)
       |     FROM $mat m JOIN $vdir a ON a.d = m.i JOIN $vdir b ON b.d = m.j)
       |      // vv AS lam
       |  FROM vv$sfx),
       |$out AS MATERIALIZED (SELECT m.i AS i, m.j AS j,
       |    (m.c * l.vv - l.lam * a.v * b.v) // l.vv AS c
       |  FROM $mat m JOIN $vdir a ON a.d = m.i JOIN $vdir b ON b.d = m.j, lam$sfx l)"""
      .stripMargin

  /** e106's oracle: the e100 chain's PC1, then TWO deflation levels
    * ([[pcaDeflateSql]] — λ truncated once per level, the `// vᵀv`
    * rescale per level), each followed by the SAME sixteen unrolled
    * rounds, and all three projections in one fold. */
  private def e106OracleSql: String =
    e100OracleChain + ",\n" +
      pcaDeflateSql("cov", "vf", "cov2", "b") + ",\n" +
      pcaRoundsSql("cov2", "b") + ",\n" +
      pcaDeflateSql("cov2", "vfb", "cov3", "c") + ",\n" +
      pcaRoundsSql("cov3", "c") + "\n" +
      """SELECT qd.vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS pc1_fp,
        |  CAST(sum(qd.q * vfb.v) AS BIGINT) AS pc2_fp,
        |  CAST(sum(qd.q * vfc.v) AS BIGINT) AS pc3_fp
        |FROM qd JOIN vf USING (d) JOIN vfb USING (d) JOIN vfc USING (d)
        |GROUP BY qd.vec_id
        |ORDER BY vec_id""".stripMargin

  /** e108's oracle: the e100 chain's projection grouped by
    * (source, (id div 20) % 2 half) with the HUGEINT-wide milli mean —
    * trunc-toward-zero on the possibly-negative numerator, both
    * engines. */
  private def e108OracleSql: String =
    e100OracleChain + ",\n" +
      """pj108 AS (SELECT qd.vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS p
        |  FROM qd JOIN vf USING (d) GROUP BY qd.vec_id),
        |g108 AS (SELECT d.source AS source, (pj108.vec_id // 20) % 2 AS half, p
        |  FROM pj108 JOIN documents d ON d.doc_id = pj108.vec_id)
        |SELECT source, half, count(*) AS n_vecs,
        |  CAST((sum(CAST(p AS HUGEINT)) * 1000) // count(*) AS BIGINT) AS mean_pc1_milli
        |FROM g108 GROUP BY source, half
        |ORDER BY source, half""".stripMargin

  /** e89's replay WITHOUT the trailing ORDER BY, so e98 can embed it
    * as a nested-WITH CTE (the e60/e75 strip-once discipline): the e75
    * scorer replay joined to sources, then the source-grain
    * fixed-point arithmetic verbatim — HUGEINT sums cast before every
    * shift-free `//` (all operands positive, so `//` == Spark's
    * `div`), the clamped ratio, the 2^18-scale floor-sqrt, and the
    * >= 1 share floors. */
  private def e89OracleCore: String = {
    val S = graft.ext.Retrieval.Scale
    "WITH sc89 AS MATERIALIZED (\n" + e75OracleCore + "),\n" +
      s"""j89 AS (SELECT s.doc_id, s.n_bigrams, s.surprisal8, d.source
       |        FROM sc89 s JOIN documents d USING (doc_id)),
       |g89 AS (SELECT source, count(*) AS n_docs,
       |          CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       |          CAST(sum(surprisal8) AS BIGINT) AS s8
       |        FROM j89 GROUP BY source),
       |p89 AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS tb,
       |          CAST((sum(surprisal8) * 1000) // sum(n_bigrams) AS BIGINT) AS pool_milli
       |        FROM j89),
       |w89 AS (SELECT source, n_docs, n_bigrams,
       |          (CAST(s8 AS HUGEINT) * 1000) // n_bigrams AS mean_milli,
       |          greatest((CAST(n_bigrams AS HUGEINT) * $S) // tb, 1) AS share_fp,
       |          least(greatest((((CAST(s8 AS HUGEINT) * 1000) // n_bigrams) * $S) // pool_milli,
       |            ${S / 8}), ${8L * S}) AS ratio_fp
       |        FROM g89, p89),
       |v89 AS (SELECT source, n_docs, n_bigrams, mean_milli, ratio_fp,
       |          (share_fp * CAST(floor(sqrt(CAST(ratio_fp * 65536 AS DOUBLE))) AS BIGINT))
       |            // ${1L << 18} AS w_fp
       |        FROM w89),
       |t89 AS (SELECT sum(w_fp) AS sw FROM v89)
       |SELECT source, n_docs, n_bigrams, CAST(mean_milli AS BIGINT) AS mean_milli,
       |  CAST(ratio_fp AS BIGINT) AS ratio_fp, CAST(w_fp AS BIGINT) AS w_fp,
       |  CAST(greatest((w_fp * $S) // sw, 1) AS BIGINT) AS mix_fp
       |FROM v89, t89""".stripMargin
  }

  private def e89OracleSql: String = e89OracleCore + "\nORDER BY source"

  /** e98's oracle: the full e89 replay as a nested-WITH CTE (the
    * weights half of the seam), then the fixed-point mix membership
    * verbatim — per-group density q = (mix_fp·2^40) // n, keep
    * threshold (q·2^60) // max(q) in HUGEINT (the binding group's
    * threshold is exactly 2^60, keeping every row), and the same
    * 60-bit md5 key hash as every deterministic sampler. */
  private def e98OracleSql: String =
    "WITH w98 AS MATERIALIZED (\n" + e89OracleCore + "),\n" +
      s"""cnt98 AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
       |q98 AS (SELECT c.source, (CAST(w.mix_fp AS HUGEINT) * ${1L << 40}) // c.n AS q
       |        FROM cnt98 c JOIN w98 w USING (source)),
       |m98 AS (SELECT max(q) AS qm FROM q98),
       |t98 AS (SELECT source, CAST((q * ${1L << Sampling.HashBits}) // qm AS BIGINT) AS thr
       |        FROM q98, m98)
       |SELECT d.doc_id, d.source FROM documents d JOIN t98 USING (source)
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < t98.thr
       |ORDER BY doc_id""".stripMargin

  /** e90's oracle: the e09 quality replay joined to sources, the ring
    * comparison derivation (one per-source lead window), win counts by
    * incidence union, then [[E90Rounds]] unrolled MM rounds — per-edge
    * fixed-point reciprocals (`//`, all operands positive), HUGEINT
    * incidence sums, and the WCap/1 clamps as GREATEST/LEAST. */
  private def e90OracleSql: String = {
    val s2 = Preference.Scale * Preference.Scale
    val rounds = (1 to E90Rounds).map { r =>
      val p = r - 1
      s"""er$r AS (SELECT g.a, g.b, $s2 // (wa.w + wb.w) AS rr
         |        FROM g90 g
         |        JOIN bt$p wa ON wa.t = g.a
         |        JOIN bt$p wb ON wb.t = g.b),
         |dn$r AS (SELECT t, sum(rr) AS d FROM (
         |          SELECT a AS t, rr FROM er$r
         |          UNION ALL SELECT b AS t, rr FROM er$r) u$r GROUP BY t),
         |bt$r AS MATERIALIZED (SELECT p.t,
         |          CASE WHEN d.d IS NULL THEN p.w
         |               ELSE CAST(GREATEST(LEAST(
         |                 (CAST(w90.wins AS HUGEINT) * $s2) // d.d,
         |                 ${Preference.WCap}), 1) AS BIGINT) END AS w
         |        FROM bt$p p LEFT JOIN dn$r d ON d.t = p.t
         |        LEFT JOIN w90 ON w90.t = p.t)""".stripMargin
    }.mkString(",\n")
    "WITH q90 AS MATERIALIZED (\n" + e09OracleCore + "),\n" +
      s"""s90 AS (SELECT q.doc_id, d.source, q.quality_score
       |        FROM q90 q JOIN documents d USING (doc_id)),
       |l90 AS (SELECT doc_id, quality_score, source,
       |          lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt,
       |          lead(quality_score) OVER (PARTITION BY source ORDER BY doc_id) AS ns
       |        FROM s90),
       |g90 AS (SELECT doc_id AS a, nxt AS b,
       |          CASE WHEN quality_score > ns
       |                 OR (quality_score = ns AND doc_id < nxt)
       |               THEN 1 ELSE 0 END AS win_a
       |        FROM l90 WHERE nxt IS NOT NULL),
       |pl90 AS (SELECT a AS t FROM g90 UNION SELECT b FROM g90),
       |w90 AS (SELECT t, count(*) AS n_games, CAST(sum(w) AS BIGINT) AS wins
       |        FROM (SELECT a AS t, win_a AS w FROM g90
       |              UNION ALL SELECT b, 1 - win_a FROM g90) i90 GROUP BY t),
       |bt0 AS (SELECT t, ${Preference.Scale} AS w FROM pl90),
       |$rounds
       |SELECT b.t AS doc_id, w90.n_games, w90.wins, CAST(b.w AS BIGINT) AS w_fp
       |FROM bt$E90Rounds b JOIN w90 ON w90.t = b.t
       |ORDER BY doc_id""".stripMargin
  }

  /** e78's replay: the e75 scorer as a nested-WITH CTE, language from
    * the documents table, and the per-language NTILE over the same
    * (mean_milli, doc_id) total order. Composed by concatenation of
    * once-stripped fragments. */
  private def e78OracleSql: String = {
    val tail =
      s"""SELECT s.doc_id, d.lang, s.mean_milli,
         |  CAST(ntile(3) OVER (PARTITION BY d.lang
         |                      ORDER BY s.mean_milli, s.doc_id) AS BIGINT) AS bucket
         |FROM sc75 s JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    "WITH sc75 AS MATERIALIZED (\n" + e75OracleCore + ")\n" + tail
  }

  /** e115's oracle: the UNION of the five FULL recomputes over the
    * newer snapshot — health mass (the e110/e39 rollup in mass form),
    * heavy hitters (the e111/e30 replay), the signature index (the
    * e112/e02 re-sign), BM25 serving (the e113/e60 replay), and the
    * PCA axis (the e114/e100 replay) — each in its own MATERIALIZED
    * nested-WITH CTE (the e113 composition pattern, so fragment CTE
    * names can never collide), projected to the common long format
    * `(artifact, k1, k2, v)`. One hash match proves every consumer of
    * the SHARED diff exact. Composed by concatenation of once-stripped
    * fragments (strip-once discipline). */
  private def e115OracleSql: String = {
    val head =
      s"""WITH new_115 AS MATERIALIZED (SELECT doc_id, source, lang, text FROM documents
         |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
         |health115 AS MATERIALIZED (
         |""".stripMargin
    val hh115 =
      """hh115 AS MATERIALIZED (
        |  SELECT term, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM new_115)
        |  GROUP BY term ORDER BY freq DESC, term LIMIT 25),
        |""".stripMargin
    val sigUnions = (0 until Dedup.NumHashes).map(j =>
      s"UNION ALL SELECT 'sig', CAST(doc_id AS VARCHAR), 'h$j', h$j FROM sig115")
      .mkString("\n")
    val tail =
      """SELECT 'health:docs' AS artifact, source AS k1, lang AS k2,
        |  CAST(n_docs AS BIGINT) AS v FROM health115
        |UNION ALL SELECT 'health:tokens', source, lang, sum_tokens FROM health115
        |UNION ALL SELECT 'health:q1e6', source, lang, q1e6 FROM health115
        |UNION ALL SELECT 'hh', term, '', CAST(freq AS BIGINT) FROM hh115
        |""".stripMargin + sigUnions + "\n" +
        """UNION ALL SELECT 'bm25:doc', CAST(query_id AS VARCHAR),
          |  CAST(rank AS VARCHAR), CAST(doc_id AS BIGINT) FROM bm115
          |UNION ALL SELECT 'bm25:score', CAST(query_id AS VARCHAR),
          |  CAST(rank AS VARCHAR), score_fp FROM bm115
          |UNION ALL SELECT 'pca', CAST(vec_id AS VARCHAR), '', pc1_fp FROM pca115
          |ORDER BY artifact, k1, k2""".stripMargin
    head + healthMassSql("new_115") + "),\n" +
      hh115 +
      "sig115 AS MATERIALIZED (\nWITH " + sigCteFrom("new_115") +
      "\nSELECT * FROM sig),\n" +
      "bm115 AS MATERIALIZED (\n" + e60OracleCoreFrom("new_115") + "),\n" +
      "pca115 AS MATERIALIZED (\n" +
      e100OracleChainFrom("(SELECT * FROM embeddings WHERE NOT" +
        s" (vec_id % 13 = 5 AND vec_id < $E110RemovedCap)) snap115") + "\n" +
      """SELECT vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS pc1_fp
        |FROM qd JOIN vf USING (d)
        |GROUP BY vec_id)
        |""".stripMargin +
      tail
  }

  // lazy: oracles0's declaration follows (forward reference at object init)
  lazy val oracles: Map[String, String] = oracles0 +
    ("e72_ann_recall_harness" -> e72OracleSql(oracles0))

  private val oracles0: Map[String, String] = Map(
    "e63_unigram_train" -> e63OracleSql,
    "e64_unigram_tokenize" -> e64OracleSql,
    "e05_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, UNNEST(generate_series(0, 59)) AS t(j)
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(bit_or(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
        |                   ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e16_winnow_fingerprint" -> {
      // FNV-style rolling hash (RollingHash64Expr): h = h*P + byte with
      // 64-bit wraparound. Closed form: h = SEED*P^n + sum(c_i * P^(n-i))
      // (mod 2^64), computed in HUGEINT with explicit mod steps — the
      // SEED*P^n product needs a 32-bit-split mulmod to stay inside
      // HUGEINT. ASCII-only fixture text makes ord() == byte.
      val P = graft.functions.RollingHash64Expr.Prime
      val Seed = graft.functions.RollingHash64Expr.Seed
      val M = "18446744073709551616" // 2^64
      val half = "9223372036854775808" // 2^63
      val sHi = java.lang.Long.toUnsignedString(Seed >>> 32)
      val sLo = java.lang.Long.toUnsignedString(Seed & 0xffffffffL)
      s"""WITH RECURSIVE
         |$shingleCte,
         |u AS (SELECT DISTINCT s FROM sh),
         |chars AS (SELECT s, i, ord(substr(s, i, 1))::HUGEINT AS c
         |          FROM u, UNNEST(generate_series(1, length(s))) AS t(i)),
         |maxn AS (SELECT max(length(s)) AS mx FROM u),
         |powers(k, pk) AS (
         |  SELECT 0, 1::HUGEINT
         |  UNION ALL
         |  SELECT k + 1, (pk * $P::HUGEINT) % $M::HUGEINT
         |  FROM powers WHERE k < (SELECT mx FROM maxn)),
         |hashes AS (
         |  SELECT s,
         |    CASE WHEN hu >= $half::HUGEINT THEN (hu - $M::HUGEINT)::BIGINT
         |         ELSE hu::BIGINT END AS h
         |  FROM (
         |    SELECT c.s,
         |      ( ((($sHi::HUGEINT * pn.pk) % $M::HUGEINT) * 4294967296::HUGEINT) % $M::HUGEINT
         |        + ($sLo::HUGEINT * pn.pk) % $M::HUGEINT
         |        + sum((c.c * p.pk) % $M::HUGEINT)
         |      ) % $M::HUGEINT AS hu
         |    FROM chars c
         |    JOIN powers p ON p.k = length(c.s) - c.i
         |    JOIN powers pn ON pn.k = length(c.s)
         |    GROUP BY c.s, pn.pk))
         |SELECT sh.doc_id, min(h.h) AS winnow_fp
         |FROM sh JOIN hashes h ON h.s = sh.s
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin
    },

    "e07_knn_lsh" -> {
      // The hyperplanes are deterministic Murmur3 constants
      // (Similarity.planeComponent), so the full banded-LSH pipeline —
      // sign buckets, 8x4 banding, candidate join, exact rescoring — is
      // SQL-expressible by inlining the identical plane literals.
      val planes = 8 * 4
      val dims = 64
      val bucketExpr = (0 until planes).map { p =>
        val lits = (0 until dims).map(d => Similarity.planeComponent(p, d).toString)
          .mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n  + ")
      val qids = knnQueryIds.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (SELECT vec_id, $bucketExpr AS bucket FROM e),
         |bands AS (SELECT vec_id, j AS band, (bucket >> (j * 4)) & 15 AS bh
         |          FROM bk, UNNEST(generate_series(0, 7)) AS t(j)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM bands q JOIN bands c ON q.band = c.band AND q.bh = c.bh
         |         WHERE q.vec_id IN ($qids) AND q.vec_id <> c.vec_id),
         |s AS (SELECT query_id, neighbor_id,
         |        round(list_dot_product(a.v, b.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
         |      FROM cand JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, sim FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $KnnK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e99_knn_lsh_multiprobe" -> {
      // e07's replay with the query side expanded to the Hamming-1
      // probe ring: each band hash XORs each of {0, 1, 2, 4, 8} (self
      // + the four single-bit flips of a 4-bit band).
      val planes = 8 * 4
      val dims = 64
      val bucketExpr = (0 until planes).map { p =>
        val lits = (0 until dims).map(d => Similarity.planeComponent(p, d).toString)
          .mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n  + ")
      val qids = knnQueryIds.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (SELECT vec_id, $bucketExpr AS bucket FROM e),
         |bands AS (SELECT vec_id, j AS band, (bucket >> (j * 4)) & 15 AS bh
         |          FROM bk, UNNEST(generate_series(0, 7)) AS t(j)),
         |qb AS (SELECT vec_id, band, xor(bh, f) AS bh
         |       FROM bands, UNNEST([0, 1, 2, 4, 8]) AS tf(f)
         |       WHERE vec_id IN ($qids)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM qb q JOIN bands c ON q.band = c.band AND q.bh = c.bh
         |         WHERE q.vec_id <> c.vec_id),
         |s AS (SELECT query_id, neighbor_id,
         |        round(list_dot_product(a.v, b.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
         |      FROM cand JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, sim FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $KnnK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e21_asof_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, p.purchase_id, p.purchase_ts,
        |  epoch_us(c.ts) AS click_ts_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
        |ORDER BY p.user_id, purchase_ts, purchase_id""".stripMargin,

    "e22_range_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, p.purchase_ts, count(c.ts) AS n_clicks
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.purchase_ts - INTERVAL '30 minutes'
        |  AND c.ts < p.purchase_ts
        |GROUP BY 1, 2, 3
        |ORDER BY p.user_id, purchase_ts, purchase_id""".stripMargin,

    "e23_knn_ivf" -> {
      val cids = IvfCentroidIds.mkString(", ")
      val qids = knnQueryIds.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cen AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN ($cids)),
         |sims AS (SELECT e.vec_id, cid,
         |    round(list_dot_product(v, cv) /
         |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
         |  FROM e CROSS JOIN cen),
         |asg AS (SELECT vec_id, cid AS cell FROM sims
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell FROM sims
         |  WHERE vec_id IN ($qids)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) <= $IvfNProbe),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN asg a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.query_id),
         |s AS (SELECT query_id, neighbor_id,
         |    round(list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 9) AS sim
         |  FROM cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, sim FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $KnnK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e26_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e29_dedup_clusters" -> {
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      // Transitive closure by recursive CTE (UNION dedups, so the
      // recursion reaches a fixpoint); component rep = min reachable id.
      s"""WITH RECURSIVE $sigCte,
         |bands AS (
         |  $bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |und AS (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, u.v FROM reach r JOIN und u ON u.u = r.b),
         |comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |         FROM reach GROUP BY a)
         |SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "e55_leakage_safe_splits" -> {
      // e29's transitive-closure replay, then e46's split CASE with
      // md5(keep_id) as the interval key.
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      val bounds = Sampling.splitBounds(splitWeights)
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN h < $hi THEN '$n'" }
        .mkString(" ")
      s"""WITH RECURSIVE $sigCte,
         |bands AS (
         |  $bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |und AS (SELECT doc_a AS u, doc_b AS v FROM cand
         |        UNION ALL SELECT doc_b, doc_a FROM cand),
         |reach(a, b) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.a, u.v FROM reach r JOIN und u ON u.u = r.b),
         |comp AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |         FROM reach GROUP BY a),
         |assigned AS (SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id
         |             FROM documents d LEFT JOIN comp c USING (doc_id)),
         |k AS (SELECT doc_id, keep_id,
         |  CAST(('0x' || substr(md5(CAST(keep_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM assigned)
         |SELECT doc_id, keep_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "e31_pipeline" -> {
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      def cnt(ws: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
      val scores = Text.LangMarkers.map { case (l, ws) => l -> cnt(ws) }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (l, e) =>
        s"WHEN $e = best AND best > 0 THEN '$l'" }.mkString("\n    ")
      // The full pipeline as chained CTEs: hash-sample (e27 pattern) ->
      // exact-dedup window -> minhash/LSH/Jaccard near-dup losers over
      // the DEDUPED sample (e17 pattern FROM ex) -> quality floor (e09
      // formula) -> language argmax (e10 pattern) -> stratified cap
      // (e28 pattern).
      s"""WITH samp AS (
         |  SELECT * FROM documents
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        < ${Sampling.hashThreshold(E31Fraction)}),
         |ex AS (SELECT * FROM samp
         |       QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
         |${sigCteFrom("ex")},
         |bands AS (
         |  $bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |d AS (SELECT DISTINCT doc_id, s FROM sh),
         |n AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
         |c AS (SELECT doc_a, doc_b, count(*) AS inter
         |      FROM cand
         |      JOIN d da ON da.doc_id = doc_a
         |      JOIN d db ON db.doc_id = doc_b AND db.s = da.s
         |      GROUP BY doc_a, doc_b),
         |losers AS (
         |  SELECT DISTINCT doc_b FROM c
         |  JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5),
         |kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
         |scored AS (
         |  SELECT doc_id, text, length(text) AS text_len,
         |    0.5 * (${cnt(Text.Stopwords)}::DOUBLE / len(string_split(text, ' '))::DOUBLE)
         |    + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
         |             / length(text)::DOUBLE)
         |    + 0.2 * (CASE WHEN len(string_split(text, ' ')) >= 10
         |                   AND len(string_split(text, ' ')) <= 100000 THEN 1.0 ELSE 0.0 END)
         |      AS quality_score,
         |    $best AS best
         |  FROM kept),
         |lp AS (SELECT doc_id, quality_score, CASE
         |    $cases
         |    ELSE 'und' END AS lang_pred, text_len
         |  FROM scored)
         |SELECT doc_id, lang_pred, quality_score, text_len FROM lp
         |WHERE quality_score >= $E31QualityFloor
         |QUALIFY row_number() OVER (PARTITION BY lang_pred
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= $E31PerLang
         |ORDER BY doc_id""".stripMargin
    },

    "e32_media_ivf" -> {
      val M = "18446744073709551616::HUGEINT" // 2^64
      val half = "9223372036854775808::HUGEINT" // 2^63
      def sign(x: String) =
        s"CASE WHEN $x >= $half THEN (($x) - $M)::BIGINT ELSE ($x)::BIGINT END"
      def cos(a: String, b: String) =
        s"""round(list_dot_product($a, $b) /
           |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)""".stripMargin
      val dims = 64
      // One unrolled Lloyd round: argmax-cosine assignment, then
      // per-(cell, dim) mean rounded to 6 decimals and cast to FLOAT —
      // exactly trainCentroids(roundDecimals = 6).
      def kmeansRound(cen: String, tag: String, next: String) =
        s"""asg$tag AS (
           |  SELECT vec_id, cid AS cell, v FROM (
           |    SELECT e.vec_id, c.cid, e.v, ${cos("e.v", "CAST(c.cv AS DOUBLE[])")} AS sim
           |    FROM emb e CROSS JOIN $cen c)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
           |upd$tag AS (
           |  SELECT cell AS cid, pos, CAST(round(avg(v[pos]), 6) AS FLOAT) AS m
           |  FROM asg$tag, UNNEST(generate_series(1, $dims)) AS t(pos)
           |  GROUP BY cell, pos),
           |$next AS (SELECT cid, list(m ORDER BY pos) AS cv FROM upd$tag GROUP BY cid)"""
          .stripMargin
      val qids = E32QueryIds.mkString(", ")
      // FNV-1a over the payload bytes (ASCII fixture: ord == byte) and
      // xorshift64 expansion — Multimodal.FakeCodec.checksum /
      // mediaEmbeddings replayed in mod-2^64 HUGEINT arithmetic.
      s"""WITH RECURSIVE
         |doc AS (SELECT doc_id AS mid, text FROM documents),
         |chars AS (SELECT mid, i, ord(substr(text, i, 1))::HUGEINT AS c
         |          FROM doc, UNNEST(generate_series(1, length(text))) AS t(i)),
         |fnv(mid, i, acc) AS (
         |  SELECT mid, 0, 1469598103934665603::HUGEINT FROM doc
         |  UNION ALL
         |  SELECT f.mid, f.i + 1, (xor(f.acc, c.c) * 1099511628211::HUGEINT) % $M
         |  FROM fnv f JOIN chars c ON c.mid = f.mid AND c.i = f.i + 1),
         |seed AS (SELECT f.mid, f.acc AS x
         |         FROM fnv f JOIN doc d ON d.mid = f.mid AND f.i = length(d.text)),
         |xs(mid, j, x) AS (
         |  SELECT mid, -1, x FROM seed
         |  UNION ALL
         |  SELECT mid, j + 1,
         |    (SELECT xor(x2, (x2 * 131072::HUGEINT) % $M) FROM
         |      (SELECT xor(x1, x1 // 128) AS x2 FROM
         |        (SELECT xor(x, (x * 8192::HUGEINT) % $M) AS x1)))
         |  FROM xs WHERE j < ${dims - 1}),
         |vals AS (SELECT mid, j,
         |    CAST(CAST(${sign("x")} AS DOUBLE) / 9223372036854775807.0 AS FLOAT) AS v
         |  FROM xs WHERE j >= 0),
         |embf AS (SELECT mid AS vec_id, list(v ORDER BY j) AS cvf FROM vals GROUP BY mid),
         |emb AS (SELECT vec_id, CAST(cvf AS DOUBLE[]) AS v FROM embf),
         |nn AS (SELECT count(*) AS n FROM embf),
         |cen0 AS (SELECT vec_id AS cid, cvf AS cv FROM embf, nn
         |         WHERE vec_id % greatest(1, n // $E32K) = 0
         |         ORDER BY vec_id LIMIT $E32K),
         |${kmeansRound("cen0", "1", "cen1")},
         |${kmeansRound("cen1", "2", "cen2")},
         |sims AS (SELECT e.vec_id, c.cid, ${cos("e.v", "CAST(c.cv AS DOUBLE[])")} AS sim
         |         FROM emb e CROSS JOIN cen2 c),
         |fasg AS (SELECT vec_id, cid AS cell FROM sims
         |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell FROM sims
         |           WHERE vec_id IN ($qids)
         |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) <= $IvfNProbe),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |         FROM probes p JOIN fasg a ON a.cell = p.cell
         |         WHERE a.vec_id <> p.query_id),
         |sc AS (SELECT query_id, neighbor_id, ${cos("q.v", "c.v")} AS sim
         |       FROM cand JOIN emb q ON q.vec_id = query_id
         |                 JOIN emb c ON c.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, sim FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $E32TopK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e33_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, e.event_type, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e34_decontaminate" -> {
      val gram = (0 until E34N).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, $gram AS s
         |       FROM toks, UNNEST(generate_series(1, len(w) - ${E34N - 1})) AS t(i)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
         |train AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
         |SELECT t.doc_id, count(*) AS n_hits
         |FROM train t JOIN bench b ON t.s = b.s
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "e51_bloom_decontaminate" ->
      // The exact-decontamination SQL: the Bloom stage is a lossless
      // prefilter (no false negatives; verify join removes the false
      // positives), so the oracle replays only the exact semantics.
      s"""WITH $shingleCte,
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 40 = 1),
         |dirty AS (SELECT DISTINCT doc_id FROM sh
         |          WHERE doc_id % 40 <> 1 AND s IN (SELECT s FROM bench))
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id % 40 <> 1 AND doc_id NOT IN (SELECT doc_id FROM dirty)
         |ORDER BY doc_id""".stripMargin,

    "e60_bm25" -> e60OracleSql,
    "e74_hybrid_rrf" -> e74OracleSql,
    "e75_bigram_lm" -> e75OracleSql,
    "e78_perplexity_buckets" -> e78OracleSql,

    "e79_semantic_decontaminate" ->
      // e20's pair expression restricted to cross-split pairs: the
      // benchmark side is the vec_id % 40 == 1 slice, sims rounded to
      // 9 before the threshold exactly as the Spark plan evaluates.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id % 40 = 1),
        |c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id % 40 <> 1)
        |SELECT c.vec_id, b.bench_id,
        |  round(list_dot_product(c.cv, b.bv) /
        |    (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(b.bv, b.bv))), 9) AS sim
        |FROM c CROSS JOIN b
        |WHERE round(list_dot_product(c.cv, b.bv) /
        |    (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(b.bv, b.bv))), 9) >= 0.35
        |ORDER BY vec_id, bench_id""".stripMargin,

    "e77_domain_shift" ->
      // Per-source quantized KL replay: group/pool counts, 2^20
      // fixed-point probabilities with the >= 1 floor, eighth-bit
      // integer logs, one fold per source. `//` == `div` (operands
      // positive); >> mirrors shiftright.
      s"""WITH tk AS (SELECT source AS g, unnest(string_split(text, ' ')) AS t
         |           FROM documents),
         |cg AS (SELECT g, t, count(*) AS c_g FROM tk GROUP BY g, t),
         |ng AS (SELECT g, CAST(sum(c_g) AS BIGINT) AS n_g,
         |         count(*) AS n_types FROM cg GROUP BY g),
         |ca AS (SELECT t, count(*) AS c_all FROM tk GROUP BY t),
         |na AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM ca),
         |pr AS (SELECT cg.g, ng.n_g, ng.n_types,
         |         greatest((cg.c_g * ${graft.ext.Retrieval.Scale}) // ng.n_g, 1) AS pg,
         |         greatest((ca.c_all * ${graft.ext.Retrieval.Scale}) // na.n_all, 1) AS pa
         |       FROM cg JOIN ng USING (g) JOIN ca USING (t), na),
         |tm AS (SELECT g, n_g, n_types,
         |         pg * ((8 * (length(bin(pg)) - 1)
         |                 + ((pg * 8) >> (length(bin(pg)) - 1)) - 8)
         |               - (8 * (length(bin(pa)) - 1)
         |                 + ((pa * 8) >> (length(bin(pa)) - 1)) - 8)) AS term
         |       FROM pr)
         |SELECT g AS source, CAST(max(n_g) AS BIGINT) AS n_tokens,
         |  CAST(max(n_types) AS BIGINT) AS n_types,
         |  CAST(sum(term) AS BIGINT) AS kl_s8
         |FROM tm GROUP BY g ORDER BY source""".stripMargin,

    "e61_quality_classifier" -> e61OracleSql,
    "e66_classifier_eval" -> e66OracleSql,
    "e71_glove_train" -> e71OracleSql,
    "e73_glove_knn" -> e73OracleSql,

    "e70_skipgram_weighted" ->
      // e69's instance generator with unigram-weighted negatives: the
      // draw r = md5(...) mod totalMass resolves by cumulative-mass
      // interval membership in (md5-shard, t)-order — the same
      // two-phase order Text.skipgramPairs ranks by.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents WHERE doc_id % 20 = 5),
        |cnts AS (SELECT t, count(*) AS c,
        |           CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |             % ${Text.RankBuckets} AS b
        |         FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
        |iv AS (SELECT t,
        |         sum(c) OVER (ORDER BY b, t ROWS UNBOUNDED PRECEDING) AS hi,
        |         sum(c) OVER (ORDER BY b, t ROWS UNBOUNDED PRECEDING) - c AS lo
        |       FROM cnts),
        |st AS (SELECT sum(c) AS n FROM cnts),
        |inst AS (SELECT doc_id, w[i] AS center, i, d, w[i+d] AS context
        |         FROM toks,
        |              UNNEST(generate_series(1, len(w))) t1(i),
        |              UNNEST([-3, -2, -1, 1, 2, 3]) t2(d)
        |         WHERE i + d >= 1 AND i + d <= len(w)),
        |pos AS (SELECT center, context AS other, 1 AS label, count(*) AS cnt
        |        FROM inst GROUP BY 1, 2),
        |neg AS (SELECT i.center, iv.t AS other, -1 AS label, count(*) AS cnt
        |        FROM inst i
        |        CROSS JOIN UNNEST([1, 2]) t3(j)
        |        CROSS JOIN st
        |        JOIN iv ON (CAST(('0x' || substr(md5(
        |            CAST(i.doc_id AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)
        |            || ':' || CAST(i.d AS VARCHAR) || ':' || CAST(j AS VARCHAR)
        |          ), 1, 15)) AS BIGINT) % st.n) >= iv.lo
        |          AND (CAST(('0x' || substr(md5(
        |            CAST(i.doc_id AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)
        |            || ':' || CAST(i.d AS VARCHAR) || ':' || CAST(j AS VARCHAR)
        |          ), 1, 15)) AS BIGINT) % st.n) < iv.hi
        |        GROUP BY 1, 2)
        |SELECT center, other, CAST(label AS BIGINT) AS label,
        |  CAST(cnt AS BIGINT) AS cnt
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |ORDER BY center, other, label""".stripMargin,

    "e69_skipgram_pairs" ->
      // positives = in-window instances grouped; negatives = the
      // md5(doc:pos:offset:j) mod |V| draw resolved against the
      // (md5-shard, name)-ordered vocabulary rank — identical
      // arithmetic to Text.skipgramPairs's two-phase rank (the oracle
      // replays the ORDER globally; sharding is plan mechanics, the
      // order is the semantics).
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents WHERE doc_id % 20 = 5),
        |vocab AS (SELECT DISTINCT unnest(w) AS t FROM toks),
        |rk AS (SELECT t, row_number() OVER (ORDER BY
        |         CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
        |           % ${Text.RankBuckets}, t) AS r FROM vocab),
        |nv AS (SELECT count(*) AS n FROM vocab),
        |inst AS (SELECT doc_id, w[i] AS center, i, d, w[i+d] AS context
        |         FROM toks,
        |              UNNEST(generate_series(1, len(w))) t1(i),
        |              UNNEST([-3, -2, -1, 1, 2, 3]) t2(d)
        |         WHERE i + d >= 1 AND i + d <= len(w)),
        |pos AS (SELECT center, context AS other, 1 AS label, count(*) AS cnt
        |        FROM inst GROUP BY 1, 2),
        |neg AS (SELECT i.center, rk.t AS other, -1 AS label, count(*) AS cnt
        |        FROM inst i
        |        CROSS JOIN UNNEST([1, 2]) t3(j)
        |        CROSS JOIN nv
        |        JOIN rk ON rk.r = 1 + (CAST(('0x' || substr(md5(
        |            CAST(i.doc_id AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)
        |            || ':' || CAST(i.d AS VARCHAR) || ':' || CAST(j AS VARCHAR)
        |          ), 1, 15)) AS BIGINT) % nv.n)
        |        GROUP BY 1, 2)
        |SELECT center, other, CAST(label AS BIGINT) AS label,
        |  CAST(cnt AS BIGINT) AS cnt
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |ORDER BY center, other, label""".stripMargin,

    "e67_phrases" ->
      // word2vec phrase scores: adjacent-bigram counts over unigram
      // products, (c_ab - delta) kept positive on both sides so div
      // and // agree.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |uni AS (SELECT t, count(*) AS c
         |        FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
         |bi AS (SELECT w[i] AS a, w[i+1] AS b, count(*) AS c_ab
         |       FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i)
         |       GROUP BY 1, 2),
         |sc AS (SELECT a || ' ' || b AS phrase, c_ab,
         |         (c_ab - 3) * n * ${Text.PhraseScale} // (ua.c * ub.c) AS score_fp
         |       FROM bi JOIN uni ua ON ua.t = a JOIN uni ub ON ub.t = b, tot
         |       WHERE c_ab > 3)
         |SELECT phrase, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(score_fp AS BIGINT) AS score_fp
         |FROM sc WHERE score_fp >= ${Text.PhraseScale}
         |ORDER BY score_fp DESC, phrase LIMIT 100""".stripMargin,

    // e120's oracle: e75's FULL retrain+rescore over the newer
    // snapshot (core re-pointed, the e113 nesting pattern) — scoring
    // under the maintained count frames must hash-equal it.
    "e120_incremental_lm" ->
      (s"""WITH new_120 AS MATERIALIZED (SELECT doc_id, text FROM documents
          |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
          |res120 AS MATERIALIZED (
          |""".stripMargin + e75OracleCoreFrom("new_120") + ")\n" +
        "SELECT doc_id, n_bigrams, surprisal8, mean_milli FROM res120" +
        "\nORDER BY doc_id"),

    // e122's oracle: the three full retrain replays over the newer
    // snapshot unioned in the e115 long format — one hash match proves
    // every retrain input exact off the shared diff.
    "e122_incremental_retrain_inputs" -> {
      val head =
        s"""WITH new_122 AS MATERIALIZED (SELECT doc_id, text FROM documents
           |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
           |cooc122 AS MATERIALIZED (
           |  WITH toksc AS (SELECT string_split(text, ' ') AS w FROM new_122),
           |  posc AS (SELECT w, i FROM toksc,
           |           UNNEST(generate_series(1, len(w))) t(i)),
           |  pairsc AS (SELECT w[i] AS center, w[i+d] AS context,
           |               ${Text.PhraseScale} // abs(d) AS wt
           |             FROM posc, UNNEST([-3, -2, -1, 1, 2, 3]) u(d)
           |             WHERE i + d >= 1 AND i + d <= len(w))
           |  SELECT center, context, CAST(sum(wt) AS BIGINT) AS weight_fp
           |  FROM pairsc GROUP BY center, context
           |  ORDER BY weight_fp DESC, center, context LIMIT 100),
           |lm122 AS MATERIALIZED (
           |""".stripMargin
      val tail =
        """SELECT 'cooc' AS artifact, center AS k1, context AS k2,
          |  weight_fp AS v FROM cooc122
          |UNION ALL SELECT 'lm:n', CAST(doc_id AS VARCHAR), '', n_bigrams FROM lm122
          |UNION ALL SELECT 'lm:s8', CAST(doc_id AS VARCHAR), '', surprisal8 FROM lm122
          |UNION ALL SELECT 'lm:mean', CAST(doc_id AS VARCHAR), '', mean_milli FROM lm122
          |UNION ALL SELECT 'kn:n', CAST(doc_id AS VARCHAR), '', n_trigrams FROM kn122
          |UNION ALL SELECT 'kn:s8', CAST(doc_id AS VARCHAR), '', surprisal8 FROM kn122
          |UNION ALL SELECT 'kn:mean', CAST(doc_id AS VARCHAR), '', mean_milli FROM kn122
          |ORDER BY artifact, k1, k2""".stripMargin
      head + e75OracleCoreFrom("new_122") + "),\n" +
        "kn122 AS MATERIALIZED (\n" + e101OracleCoreFrom("new_122") + ")\n" +
        tail
    },

    // e121's oracle: e101's FULL KN retrain+rescore over the newer
    // snapshot (core re-pointed, the e113/e120 nesting pattern).
    "e121_incremental_kn" ->
      (s"""WITH new_121 AS MATERIALIZED (SELECT doc_id, text FROM documents
          |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
          |res121 AS MATERIALIZED (
          |""".stripMargin + e101OracleCoreFrom("new_121") + ")\n" +
        "SELECT doc_id, n_trigrams, surprisal8, mean_milli FROM res121" +
        "\nORDER BY doc_id"),

    // e119's oracle: the FULL e68 co-occurrence recompute over the
    // newer snapshot — the signed pair-mass merge must hash-equal it.
    "e119_incremental_cooc" ->
      s"""WITH new_119 AS (SELECT text FROM documents
         |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
         |toks AS (SELECT string_split(text, ' ') AS w FROM new_119),
         |pos AS (SELECT w, i FROM toks,
         |        UNNEST(generate_series(1, len(w))) t(i)),
         |pairs AS (SELECT w[i] AS center, w[i+d] AS context,
         |            ${Text.PhraseScale} // abs(d) AS wt
         |          FROM pos, UNNEST([-3, -2, -1, 1, 2, 3]) u(d)
         |          WHERE i + d >= 1 AND i + d <= len(w))
         |SELECT center, context, CAST(sum(wt) AS BIGINT) AS weight_fp
         |FROM pairs GROUP BY center, context
         |ORDER BY weight_fp DESC, center, context LIMIT 100""".stripMargin,

    "e68_cooccurrence" ->
      // GloVe co-occurrence: every in-window ordered pair weighted
      // 2^20 div distance, summed per (center, context).
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |pos AS (SELECT w, i FROM toks,
         |        UNNEST(generate_series(1, len(w))) t(i)),
         |pairs AS (SELECT w[i] AS center, w[i+d] AS context,
         |            ${Text.PhraseScale} // abs(d) AS wt
         |          FROM pos, UNNEST([-3, -2, -1, 1, 2, 3]) u(d)
         |          WHERE i + d >= 1 AND i + d <= len(w))
         |SELECT center, context, CAST(sum(wt) AS BIGINT) AS weight_fp
         |FROM pairs GROUP BY center, context
         |ORDER BY weight_fp DESC, center, context LIMIT 100""".stripMargin,

    "e62_shard_shuffle" ->
      // The epoch-1 permutation hash, shard = hash mod 8, in-shard rank
      // by (hash, doc_id) — identical arithmetic to shardShuffle.
      """WITH h AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents)
        |SELECT h % 8 AS shard,
        |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos,
        |  doc_id
        |FROM h ORDER BY shard, pos""".stripMargin,

    "e52_dsir_select" ->
      // Full DSIR replay: md5-bucketed bigrams, add-one smoothing, 2^40
      // fixed-point probabilities, floor-log2 via bin()-length (both
      // engines render the minimal binary string), per-doc LLR sum.
      // sum(w) widens to HUGEINT in DuckDB -> cast back to BIGINT.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
         |      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
         |gb AS (SELECT doc_id,
         |         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 256 AS b
         |       FROM g),
         |rg AS (SELECT * FROM gb WHERE doc_id % 10 <> 7),
         |tg AS (SELECT * FROM gb WHERE doc_id % 10 = 7),
         |rc AS (SELECT b, count(*) AS cr FROM rg GROUP BY b),
         |tc AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
         |tot AS (SELECT (SELECT count(*) FROM rg) AS nr,
         |               (SELECT count(*) FROM tg) AS nt),
         |wt AS (SELECT coalesce(rc.b, tc.b) AS b,
         |        (length(bin((coalesce(ct, 0) + 1) * ${Sampling.DsirScale} // nt)) -
         |         length(bin((coalesce(cr, 0) + 1) * ${Sampling.DsirScale} // nr))) AS w
         |       FROM rc FULL JOIN tc ON rc.b = tc.b, tot)
         |SELECT doc_id, CAST(sum(w) AS BIGINT) AS dsir_score
         |FROM rg JOIN wt USING (b)
         |GROUP BY doc_id
         |ORDER BY dsir_score DESC, doc_id
         |LIMIT 50""".stripMargin,

    "e35_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS s
        |      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
        |agg AS (SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT s) AS n_distinct
        |        FROM g GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_ngrams, 0) AS n_ngrams,
        |  coalesce(a.n_distinct, 0) AS n_distinct,
        |  CASE WHEN coalesce(a.n_ngrams, 0) > 0
        |       THEN 1.0 - a.n_distinct::DOUBLE / a.n_ngrams::DOUBLE
        |       ELSE 0.0 END AS rep_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "e37_normalized_dedup" ->
      s"""WITH n AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
         |       '${Text.WsRun}', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS norm_fp, length(norm) AS norm_len,
         |  count(*) OVER (PARTITION BY md5(norm)) AS n_same
         |FROM n ORDER BY doc_id""".stripMargin,

    "e38_token_packing" ->
      s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |  doc_id % $E38Shards AS shard FROM documents),
         |c AS (SELECT doc_id, n_tokens, shard,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, n_tokens, shard,
         |  CAST((cum - n_tokens) // $E38Budget AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,

    // e118's oracle: e38's FULL contiguous-pack replay over the newer
    // snapshot — the dirty-shard repack must hash-equal a rebuild.
    "e118_delta_repack" ->
      s"""WITH new_118 AS (SELECT doc_id, text FROM documents
         |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
         |t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |  doc_id % $E38Shards AS shard FROM new_118),
         |c AS (SELECT doc_id, n_tokens, shard,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, n_tokens, shard,
         |  CAST((cum - n_tokens) // $E38Budget AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,

    "e38b_split_pack" ->
      s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |  doc_id % $E38Shards AS shard FROM documents),
         |p AS (SELECT doc_id, shard, i AS piece_idx,
         |  least($E38bBudget, n_tokens - i * $E38bBudget) AS piece_tokens
         |  FROM t, UNNEST(generate_series(0,
         |    greatest(0, (n_tokens - 1) // $E38bBudget))) AS u(i)),
         |c AS (SELECT doc_id, shard, piece_idx, piece_tokens,
         |  sum(piece_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id, piece_idx ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM p)
         |SELECT doc_id, CAST(piece_idx AS BIGINT) AS piece_idx,
         |  CAST(piece_tokens AS BIGINT) AS piece_tokens, shard,
         |  CAST((cum - piece_tokens) // $E38bBudget AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id, piece_idx""".stripMargin,

    "e39_corpus_health" -> healthRollupSql("documents"),

    "e36_pii_redact" ->
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' Contact: user' || doc_id || '@example.com or 555-123-4567.' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${Text.EmailPattern}')) AS n_emails,
         |  len(regexp_extract_all(text, '${Text.PhonePattern}')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(text, '${Text.EmailPattern}', '<EMAIL>', 'g'),
         |      '${Text.PhonePattern}', '<PHONE>', 'g')) AS redacted_fp
         |FROM aug ORDER BY doc_id""".stripMargin,

    "e30_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM toks GROUP BY term)
        |SELECT term, freq FROM f ORDER BY freq DESC, term LIMIT 25""".stripMargin,

    "e27_hash_sample" ->
      s"""SELECT doc_id, length(text) AS text_len FROM documents
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      < ${Sampling.hashThreshold(0.1)}
         |ORDER BY doc_id""".stripMargin,

    "e28_stratified_sample" ->
      """SELECT event_type, event_id FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY event_type
        |  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) <= 50
        |ORDER BY event_type, event_id""".stripMargin,

    "e43_ann_recall" -> {
      // Replays BOTH ANN pipelines (the e06 exact ranking and the e07
      // banded-LSH candidates + rescoring, same plane literals) and the
      // per-query intersection count over k.
      val planes = 8 * 4
      val dims = 64
      val bucketExpr = (0 until planes).map { p =>
        val lits = (0 until dims).map(d => Similarity.planeComponent(p, d).toString)
          .mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n  + ")
      val qids = knnQueryIds.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids)),
         |exact AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_dot_product(qv, c.v) /
         |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))), 9) AS sim
         |  FROM e c CROSS JOIN q WHERE query_id <> c.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $KnnK),
         |bk AS (SELECT vec_id, $bucketExpr AS bucket FROM e),
         |bands AS (SELECT vec_id, j AS band, (bucket >> (j * 4)) & 15 AS bh
         |          FROM bk, UNNEST(generate_series(0, 7)) AS t(j)),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM bands qb JOIN bands c ON qb.band = c.band AND qb.bh = c.bh
         |         WHERE qb.vec_id IN ($qids) AND qb.vec_id <> c.vec_id),
         |approx AS (
         |  SELECT query_id, neighbor_id,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
         |  FROM cand JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $KnnK),
         |hits AS (SELECT x.query_id, count(*) AS h
         |         FROM exact x JOIN approx a
         |           ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
         |         GROUP BY x.query_id)
         |SELECT q.query_id, CAST(coalesce(h, 0) AS DOUBLE) / $KnnK AS recall
         |FROM q LEFT JOIN hits ON hits.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin
    },

    "e44_duplicated_spans" ->
      // Same window hashing (md5 of the space-joined 8-token slice,
      // 1-based inclusive list slicing), same >= 2 occurrences rule,
      // same gaps-and-islands merge (pos - row_number groups a
      // consecutive run) as Dedup.duplicatedSpans.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
        |isl AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |        FROM marked)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |       max(pos) + 8 - min(pos) AS span_tokens
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,

    "e47_semdedup" -> {
      // Full SemDeDup replay over the shared pinned-Lloyd chain
      // (cosKmeansCtes — trainCentroids(roundDecimals = 6) verbatim):
      // final assignment, within-cell a < b pairs at the e20 sim
      // expression, keep-first min-partner per dropped id.
      def cos(a: String, b: String) = // single-line: strip-once discipline
        s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)"
      s"""WITH
         |${cosKmeansCtes(E47K, E47Iters)},
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cos("ea.v", "eb.v")} AS sim
         |  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id JOIN emb eb ON eb.vec_id = b.vec_id
         |  WHERE ${cos("ea.v", "eb.v")} >= $E47Threshold)
         |SELECT id_b AS vec_id, id_a AS kept_by, sim FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY id_b ORDER BY id_a) = 1
         |ORDER BY vec_id""".stripMargin
    },

    "e117_semdedup_auto" -> {
      // The e47 replay at the DERIVED k: semDedupAuto's schedule is
      // k = ceil(n / targetCell), which on the sf0.01 gate fixture is
      // ceil(500 / 50) = 10 — pinned here as a literal (the chain's
      // stride init and LIMIT need a constant; the Spark side derives
      // k from the data at every SF).
      def cos(a: String, b: String) = // single-line: strip-once discipline
        s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)"
      val k117 = 10
      s"""WITH
         |${cosKmeansCtes(k117, E47Iters)},
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cos("ea.v", "eb.v")} AS sim
         |  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id JOIN emb eb ON eb.vec_id = b.vec_id
         |  WHERE ${cos("ea.v", "eb.v")} >= $E47Threshold)
         |SELECT id_b AS vec_id, id_a AS kept_by, sim FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY id_b ORDER BY id_a) = 1
         |ORDER BY vec_id""".stripMargin
    },

    "e123_semdedup_sampled" -> {
      // The e117 replay with the TRAIN side filtered to the
      // deterministic hash sample: k and the 60-bit md5 threshold
      // pinned as literals for the 500-vector gate fixture
      // (k = ceil(500/50) = 10; threshold = hashThreshold(250/500) —
      // the SAME function the Spark filter inlines, so the two
      // literals cannot diverge). Init stride and per-round means run
      // over the sample's own count; the final assignment and the
      // pair stage run over the full corpus.
      def cos(a: String, b: String) = // single-line: strip-once discipline
        s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)"
      val k123 = 10
      val thr = Sampling.hashThreshold(E123MaxTrainRows.toDouble / 500)
      s"""WITH
         |${cosKmeansCtes(k123, E47Iters, trainPred =
           s"CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) < $thr")},
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cos("ea.v", "eb.v")} AS sim
         |  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN emb ea ON ea.vec_id = a.vec_id JOIN emb eb ON eb.vec_id = b.vec_id
         |  WHERE ${cos("ea.v", "eb.v")} >= $E47Threshold)
         |SELECT id_b AS vec_id, id_a AS kept_by, sim FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY id_b ORDER BY id_a) = 1
         |ORDER BY vec_id""".stripMargin
    },

    "e124_drift_retrain" -> {
      // Drift leg: the e100 chain trained on the OLDER snapshot (qd/vf),
      // the newer snapshot's quantized projections against the SAME
      // frozen direction, both exact milli means (the e108 HUGEINT
      // arithmetic), drift = |mean_new - mean_old|. Branch leg: BOTH
      // paths as CTEs — the pinned-Lloyd retrain over the newer
      // snapshot (cosKmeansCtes re-pointed, k = E124K) and the e116
      // full-assignment replay under the frozen IvfCentroidIds
      // quantizer — each emitted under the complementary WHERE on the
      // one drift scalar, so exactly one side produces rows.
      val cids = IvfCentroidIds.mkString(", ")
      val newSel = "SELECT vec_id, embedding AS cvf FROM embeddings" +
        s" WHERE NOT (vec_id % 13 = 5 AND vec_id < $E110RemovedCap)"
      e100OracleChainFrom("(SELECT * FROM embeddings WHERE NOT" +
        s" (vec_id % 7 = 2 AND vec_id < $E110AddedCap)) old124") + ",\n" +
        cosKmeansCtes(E124K, E47Iters, embfSelect = newSel).stripMargin +
        ",\n" +
        s"""qdn124 AS (SELECT vec_id, t.pos - 1 AS d,
           |    CAST(floor(CAST(cvf[t.pos] AS DOUBLE) * ${Pca.QScale}.0) AS BIGINT) AS q
           |  FROM embf, UNNEST(generate_series(1, 64)) AS t(pos)),
           |po124 AS (SELECT vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS p
           |  FROM qd JOIN vf USING (d) GROUP BY vec_id),
           |pn124 AS (SELECT vec_id, CAST(sum(qdn124.q * vf.v) AS BIGINT) AS p
           |  FROM qdn124 JOIN vf USING (d) GROUP BY vec_id),
           |mo124 AS (SELECT CAST((sum(CAST(p AS HUGEINT)) * 1000) // count(*) AS BIGINT) AS m FROM po124),
           |mn124 AS (SELECT CAST((sum(CAST(p AS HUGEINT)) * 1000) // count(*) AS BIGINT) AS m FROM pn124),
           |dr124 AS MATERIALIZED (SELECT abs(mn124.m - mo124.m) AS drift FROM mo124, mn124),
           |cenm124 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings WHERE vec_id IN ($cids)),
           |simsm124 AS (SELECT e.vec_id, cid,
           |    round(list_dot_product(v, cv) /
           |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
           |  FROM emb e CROSS JOIN cenm124),
           |asgm124 AS (SELECT vec_id, cid AS cell FROM simsm124
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1)
           |SELECT vec_id, cell, 'retrain' AS path,
           |  (SELECT drift FROM dr124) AS drift_milli
           |FROM fasg WHERE (SELECT drift FROM dr124) >= $E124DriftThresholdMilli
           |UNION ALL
           |SELECT vec_id, cell, 'maintained' AS path,
           |  (SELECT drift FROM dr124) AS drift_milli
           |FROM asgm124 WHERE (SELECT drift FROM dr124) < $E124DriftThresholdMilli
           |ORDER BY vec_id""".stripMargin
    },

    "e80_cluster_sample" -> {
      // The shared pinned-Lloyd chain, then each cell's E80PerCell
      // highest-sim members by (sim DESC, vec_id) row_number —
      // Similarity.clusterSample verbatim.
      s"""WITH
         |${cosKmeansCtes(E47K, E47Iters)}
         |SELECT cell, vec_id, sim, rnk FROM (
         |  SELECT cell, vec_id, sim,
         |    row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rnk
         |  FROM fasg)
         |WHERE rnk <= $E80PerCell
         |ORDER BY cell, rnk""".stripMargin
    },

    "e84_span_decontaminate" ->
      // e45's window/island/excision chain with the dirty mark swapped:
      // a train window is marked iff its 8-gram hash appears in the
      // % 40 == 1 benchmark split (not iff it repeats), and only train
      // docs are rewritten. Spark windows the split sides separately;
      // windowing all docs and restricting the mark is equivalent.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |bh AS (SELECT DISTINCT h FROM wins WHERE doc_id % 40 = 1),
        |marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN bh USING (h)
        |           WHERE w.doc_id % 40 <> 1),
        |isl AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |        FROM marked),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        |          FROM isl GROUP BY doc_id, g),
        |ttoks AS (SELECT doc_id, w FROM toks WHERE doc_id % 40 <> 1),
        |tok AS (SELECT doc_id, i AS p, w[i] AS t
        |        FROM ttoks, UNNEST(generate_series(1, len(w))) u(i)),
        |keep AS (SELECT tok.doc_id, p, t FROM tok
        |         WHERE NOT EXISTS (SELECT 1 FROM spans
        |           WHERE spans.doc_id = tok.doc_id AND p BETWEEN s AND e)),
        |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS ct,
        |               count(*) AS kept
        |        FROM keep GROUP BY doc_id)
        |SELECT ttoks.doc_id, coalesce(ct, '') AS clean_text,
        |       len(w) - coalesce(kept, 0) AS n_tokens_removed
        |FROM ttoks LEFT JOIN agg ON agg.doc_id = ttoks.doc_id
        |ORDER BY ttoks.doc_id""".stripMargin,

    "e83_dedup_scoreboard" -> {
      // Full detector-family replay: the e03 minhash band chain, the
      // e04 exact-Jaccard truth, and the e05 simhash chain + the banded
      // Hamming pair stage (bit_count(xor) <= 3, band = 16-bit slice),
      // then per-method count/semi-join stats with CASE-guarded exact
      // int/int double ratios. The fixture's band buckets sit under the
      // Spark side's skew cap, so the uncapped SQL is the same pair set.
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH $sigCte,
         |mbands AS (
         |  $bands),
         |mh AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM mbands a JOIN mbands b
         |         ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |d AS (SELECT DISTINCT doc_id, s FROM sh),
         |nsz AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |          FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |truth AS (SELECT doc_a, doc_b FROM inter
         |          JOIN nsz na ON na.doc_id = doc_a
         |          JOIN nsz nb ON nb.doc_id = doc_b
         |          WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5),
         |stoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |sh64 AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM stoks),
         |votes AS (SELECT doc_id, j,
         |            sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |          FROM sh64, UNNEST(generate_series(0, 59)) AS t(j)
         |          GROUP BY doc_id, j),
         |shash AS (SELECT doc_id,
         |            CAST(bit_or(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
         |                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |          FROM votes GROUP BY doc_id),
         |sbands AS (SELECT doc_id, simhash, b AS band,
         |             (simhash >> (b * 16)) & 65535 AS bh
         |           FROM shash, UNNEST(generate_series(0, 3)) AS t(b)),
         |sp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM sbands a JOIN sbands b
         |         ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |stats AS (
         |  SELECT 'minhash_lsh' AS method,
         |    (SELECT count(*) FROM mh) AS n_detected,
         |    (SELECT count(*) FROM mh JOIN truth USING (doc_a, doc_b)) AS tp
         |  UNION ALL
         |  SELECT 'simhash_h3' AS method,
         |    (SELECT count(*) FROM sp) AS n_detected,
         |    (SELECT count(*) FROM sp JOIN truth USING (doc_a, doc_b)) AS tp)
         |SELECT method, n_detected, n_truth, tp,
         |  CASE WHEN n_detected > 0
         |    THEN CAST(tp AS DOUBLE) / CAST(n_detected AS DOUBLE) ELSE 0.0 END AS prec,
         |  CASE WHEN n_truth > 0
         |    THEN CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE) ELSE 0.0 END AS recall
         |FROM stats, nt ORDER BY method""".stripMargin
    },

    "e82_temperature_mix" ->
      // The fixed-point replay: HUGEINT-wide share (mirrors the Spark
      // side's DECIMAL(38) — a long would overflow at corpus scale),
      // one floor-sqrt flattening (IEEE sqrt is correctly rounded in
      // both engines and cannot cross an integer boundary at <= 2^40),
      // integer renormalization. `//` == `div` (operands positive).
      s"""WITH tk AS (SELECT source, len(string_split(text, ' ')) AS nt
         |           FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(nt) AS BIGINT) AS n_tokens
         |      FROM tk GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM g),
         |p AS (SELECT source, n_docs, n_tokens,
         |        greatest((CAST(n_tokens AS HUGEINT) * ${graft.ext.Retrieval.Scale}) // t, 1) AS p_fp
         |      FROM g, tot),
         |w AS (SELECT source, n_docs, n_tokens, p_fp,
         |        CAST(floor(sqrt(CAST(p_fp * ${graft.ext.Retrieval.Scale} AS DOUBLE))) AS BIGINT) AS w_fp
         |      FROM p),
         |ws AS (SELECT CAST(sum(w_fp) AS BIGINT) AS sw FROM w)
         |SELECT source, n_docs, n_tokens, CAST(p_fp AS BIGINT) AS p_fp, w_fp,
         |  (w_fp * ${graft.ext.Retrieval.Scale}) // sw AS mix_fp
         |FROM w, ws ORDER BY source""".stripMargin,

    "e81_gopher_rules" -> (e81OracleCore + "\nORDER BY doc_id"),

    "e48_knn_pq" -> {
      // Full PQ replay via the shared chain generator: per-subspace
      // stride-init L2 Lloyd rounds (pqCodebooks verbatim), encoding by
      // final-codebook argmin, then the ADC lookup sum in DECIMAL(28,9)
      // (the q15 float-sum discipline).
      val subLen = 64 / E48M
      val qids = E48QueryIds.mkString(", ")
      s"""WITH
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |${pqChain("", E48M, subLen, E48Ks, E48Iters)},
         |${pqArgmin("base", s"cb$E48Iters", "codes", keepV = false)},
         |qdist AS (
         |  SELECT b.sub, b.vec_id AS query_id, c.cid,
         |    CAST(${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS DECIMAL(28,9)) AS qd
         |  FROM base b JOIN cb$E48Iters c ON c.sub = b.sub
         |  WHERE b.vec_id IN ($qids)),
         |ad AS (SELECT q.query_id, s.vec_id, CAST(sum(q.qd) AS DOUBLE) AS adist
         |       FROM codes s JOIN qdist q ON q.sub = s.sub AND q.cid = s.cid
         |       WHERE s.vec_id <> q.query_id
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id AS neighbor_id, adist FROM ad
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $E48TopK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e50_knn_ivfpq" -> {
      // IVF-PQ replay: TWO pinned-Lloyd chains — the coarse quantizer
      // (prefix c, one full-vector subspace, kc cells) and the fine PQ
      // codebooks (prefix f, e48's parameters) — then probe routing by
      // rounded L2 to the coarse centroids, candidate restriction to
      // probed cells, and the e48 ADC sum over candidates only.
      val subLen = 64 / E48M
      val qids = E48QueryIds.mkString(", ")
      s"""WITH
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |${pqChain("c", 1, 64, E50Kc, E48Iters)},
         |${pqChain("f", E48M, subLen, E48Ks, E48Iters)},
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT b.sub, b.vec_id, c.cid,
         |      ${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS d
         |    FROM cbase b JOIN ccb$E48Iters c ON c.sub = b.sub)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1),
         |${pqArgmin("fbase", s"fcb$E48Iters", "codes", keepV = false)},
         |probes AS (SELECT query_id, cell FROM (
         |    SELECT b.vec_id AS query_id, c.cid AS cell,
         |      ${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS d
         |    FROM cbase b JOIN ccb$E48Iters c ON c.sub = b.sub
         |    WHERE b.vec_id IN ($qids))
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cell) <= $E50NProbe),
         |qdist AS (
         |  SELECT b.sub, b.vec_id AS query_id, c.cid,
         |    CAST(${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS DECIMAL(28,9)) AS qd
         |  FROM fbase b JOIN fcb$E48Iters c ON c.sub = b.sub
         |  WHERE b.vec_id IN ($qids)),
         |cand AS (SELECT p.query_id, cl.vec_id
         |         FROM cells cl JOIN probes p ON p.cell = cl.cell
         |         WHERE cl.vec_id <> p.query_id),
         |ad AS (SELECT c.query_id, c.vec_id, CAST(sum(q.qd) AS DOUBLE) AS adist
         |       FROM cand c JOIN codes s ON s.vec_id = c.vec_id
         |       JOIN qdist q ON q.sub = s.sub AND q.cid = s.cid
         |                  AND q.query_id = c.query_id
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id AS neighbor_id, adist FROM ad
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $E48TopK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e58_bpe_train" -> {
      val union = (1 to 8)
        .map(r => s"SELECT $r AS round, lhs, rhs, c FROM best$r")
        .mkString("\n  UNION ALL ")
      "WITH " + bpeChainCtes() + "\n" +
        s"""SELECT round, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM (
         |  $union)
         |ORDER BY round""".stripMargin
    },

    "e76_wordpiece_train" -> {
      // The same unrolled chain under the WordPiece argmax (per-round
      // cnt$r symbol counts + the eighth-bit log-likelihood ranking).
      val union = (1 to 8)
        .map(r => s"SELECT $r AS round, lhs, rhs, c FROM best$r")
        .mkString("\n  UNION ALL ")
      "WITH " + bpeChainCtes(likelihood = true) + "\n" +
        s"""SELECT round, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM (
         |  $union)
         |ORDER BY round""".stripMargin
    },

    "e59_bpe_tokenize" ->
      // the e58 chain's FINAL segmentation (w8) tokenizes the corpus by
      // dictionary join: tokens-per-word = the word's symbol count.
      (bpeTokenizeCoreSql(likelihood = false) + "\nORDER BY doc_id"),

    "e85_tokenizer_fertility" -> e85OracleSql,

    "e86_scorer_agreement" -> e86OracleSql,
    "e87_decon_scoreboard" -> e87OracleSql,
    "e88_curriculum_order" -> e88OracleSql,
    "e89_doremi_weights" -> e89OracleSql,
    "e90_bradley_terry" -> e90OracleSql,
    "e91_rater_kappa" -> e91OracleSql,
    "e92_hard_negatives" -> e92OracleSql,
    "e94_keep_best" -> e94OracleSql,
    "e96_retrieval_scoreboard" -> e96OracleSql,
    "e97_index_dedup" -> e97OracleSql,
    "e100_pca_scores" -> e100OracleSql,
    "e101_kn_trigram_lm" -> e101OracleSql,
    "e104_lm_agreement" -> e104OracleSql,
    "e105_pc1_removal" -> e105OracleSql,
    "e106_pca_map" -> e106OracleSql,
    "e108_axis_drift" -> e108OracleSql,
    // e110's oracle is the FULL recompute over the newer snapshot —
    // the engine's incremental merge must hash-equal it exactly.
    "e110_incremental_health" -> healthRollupSql("new_110", extraCtes =
      "new_110 AS (SELECT source, lang, text FROM documents" +
        s" WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),\n"),
    // e114's oracle: the e100 replay with the source re-pointed at the
    // newer snapshot (inline subquery — the chain's WITH leads, so the
    // filter rides as a derived table) — the axis from the merged Gram
    // state must hash-equal a full rebuild's.
    // e115's oracle: the five full recomputes unioned — see
    // [[e115OracleSql]].
    "e115_incremental_all" -> e115OracleSql,
    // e116's oracle: the FULL IVF assignment replay over the newer
    // snapshot under the FROZEN e23 centroid picks (centroid vectors
    // read from the unfiltered table — they are %7==0 ids, present in
    // both snapshots; the quantizer persists across crawls by design).
    "e116_incremental_ann" -> {
      val cids = IvfCentroidIds.mkString(", ")
      s"""WITH e116 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings
         |  WHERE NOT (vec_id % 13 = 5 AND vec_id < $E110RemovedCap)),
         |cen116 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id IN ($cids)),
         |sims116 AS (SELECT e.vec_id, cid,
         |    round(list_dot_product(v, cv) /
         |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
         |  FROM e116 e CROSS JOIN cen116),
         |asg116 AS (SELECT vec_id, cid AS cell FROM sims116
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1)
         |SELECT vec_id, cell FROM asg116 ORDER BY vec_id""".stripMargin
    },
    "e114_incremental_pca" ->
      (e100OracleChainFrom("(SELECT * FROM embeddings WHERE NOT" +
        s" (vec_id % 13 = 5 AND vec_id < $E110RemovedCap)) snap114") + "\n" +
        """SELECT vec_id, CAST(sum(qd.q * vf.v) AS BIGINT) AS pc1_fp
          |FROM qd JOIN vf USING (d)
          |GROUP BY vec_id
          |ORDER BY vec_id""".stripMargin),
    // e113's oracle: e60's full BM25 replay over the newer snapshot
    // (core re-pointed at the new_113 CTE, nested per the e74
    // discipline) — scoring over the maintained index must hash-equal
    // a rebuild's scoring, ranks and all.
    "e113_incremental_bm25" ->
      (s"""WITH new_113 AS MATERIALIZED (SELECT doc_id, text FROM documents
          |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
          |res113 AS MATERIALIZED (
          |""".stripMargin + e60OracleCoreFrom("new_113") + ")\n" +
        "SELECT query_id, rank, doc_id, score_fp FROM res113" +
        "\nORDER BY query_id, rank"),
    // e112's oracle: the FULL universal-hash signature build over the
    // newer snapshot (the e02 replay re-pointed) — the engine's
    // anti-join + delta re-sign must hash-equal a rebuild.
    "e112_incremental_index" ->
      (s"""WITH new_112 AS (SELECT doc_id, text FROM documents
          |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
          |""".stripMargin + sigCteFrom("new_112") + "\n" +
        "SELECT * FROM sig ORDER BY doc_id"),
    // e111's oracle: the FULL e30 heavy-hitter recompute over the same
    // newer snapshot — the engine's count-frame merge must hash-equal it.
    "e111_incremental_hh" ->
      (s"""WITH new_111 AS (SELECT text FROM documents
          |  WHERE NOT (doc_id % 13 = 5 AND doc_id < $E110RemovedCap)),
          |toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM new_111),
          |f AS (SELECT term, count(*) AS freq FROM toks GROUP BY term)
          |SELECT term, freq FROM f ORDER BY freq DESC, term LIMIT 25""")
      .stripMargin,
    "e109_whitened_semdedup" -> {
      // The e105 whitening nested as ONE materialized CTE (the e104
      // composition), listed back to wide DOUBLE[] form, then the
      // EXACT e47 replay over it: the shared pinned-Lloyd chain
      // re-pointed at the whitened frame via cosKmeansCtes' embf
      // source, within-cell a < b pairs, keep-first min-partner.
      def cos(a: String, b: String) = // single-line: strip-once discipline
        s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 9)"
      // cosKmeansCtes keeps its margin pipes (strip-once); this oracle
      // composes by CONCATENATION, so the fragment is stripped here —
      // the one stripMargin it ever receives.
      "WITH w109 AS MATERIALIZED (\n" + e105OracleCore + "),\n" +
        cosKmeansCtes(E47K, E47Iters, embfSelect =
          "SELECT vec_id, list(CAST(w_fp AS DOUBLE) ORDER BY d) AS cvf" +
            " FROM w109 GROUP BY vec_id").stripMargin + ",\n" +
        s"""pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    ${cos("ea.v", "eb.v")} AS sim
           |  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  JOIN emb ea ON ea.vec_id = a.vec_id JOIN emb eb ON eb.vec_id = b.vec_id
           |  WHERE ${cos("ea.v", "eb.v")} >= $E109Threshold)
           |SELECT id_b AS vec_id, id_a AS kept_by, sim FROM pairs
           |QUALIFY row_number() OVER (PARTITION BY id_b ORDER BY id_a) = 1
           |ORDER BY vec_id""".stripMargin
    },
    "e107_weighted_sample" ->
      s"""WITH t107 AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |h107 AS (SELECT doc_id, n_tokens,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS u
         |  FROM t107 WHERE n_tokens > 0),
         |x107 AS (SELECT doc_id, n_tokens, u, length(bin(u)) - 1 AS e FROM h107),
         |k107 AS (SELECT doc_id, n_tokens,
         |    ((64 * e + (CASE WHEN e >= 6 THEN u >> (e - 6) ELSE u << (6 - e) END)
         |      - 64 - 3840) * ${1L << 20}) // n_tokens AS es_fp
         |  FROM x107)
         |SELECT doc_id, n_tokens, es_fp FROM k107
         |QUALIFY row_number() OVER (ORDER BY es_fp DESC, doc_id) <= $E107K
         |ORDER BY doc_id""".stripMargin,
    "e102_snapshot_diff" ->
      """WITH old_102 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 2),
        |new_102 AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
        |j_102 AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    o.doc_id IS NULL AS no_old, n.doc_id IS NULL AS no_new,
        |    md5(o.text) AS ho, md5(n.text) AS hn
        |  FROM old_102 o FULL OUTER JOIN new_102 n ON o.doc_id = n.doc_id),
        |s_102 AS (SELECT doc_id,
        |    CASE WHEN no_old THEN 'added' WHEN no_new THEN 'removed'
        |         WHEN ho IS DISTINCT FROM hn THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM j_102)
        |SELECT doc_id, status FROM s_102
        |WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    "e103_packing_scoreboard" ->
      s"""WITH t103 AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |    doc_id % $E38Shards AS shard FROM documents),
         |cc103 AS (SELECT shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM t103),
         |cp103 AS (SELECT shard, (cum - n_tokens) // $E103Budget AS pack_id,
         |    sum(n_tokens) AS pt FROM cc103 GROUP BY 1, 2),
         |cs103 AS (SELECT 'contiguous' AS method, count(*) AS n_packs,
         |    sum(pt) AS tot, min(pt * 1000 // $E103Budget) AS mn,
         |    max(pt * 1000 // $E103Budget) AS mx FROM cp103),
         |sp103 AS (SELECT doc_id, shard, i AS piece_idx,
         |    least($E103Budget, n_tokens - i * $E103Budget) AS piece_tokens
         |  FROM t103, UNNEST(generate_series(0,
         |    greatest(0, (n_tokens - 1) // $E103Budget))) AS u(i)),
         |sc103 AS (SELECT shard, piece_tokens,
         |    sum(piece_tokens) OVER (PARTITION BY shard
         |      ORDER BY doc_id, piece_idx ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sp103),
         |sg103 AS (SELECT shard, (cum - piece_tokens) // $E103Budget AS pack_id,
         |    sum(piece_tokens) AS pt FROM sc103 GROUP BY 1, 2),
         |ss103 AS (SELECT 'split_pack' AS method, count(*) AS n_packs,
         |    sum(pt) AS tot, min(pt * 1000 // $E103Budget) AS mn,
         |    max(pt * 1000 // $E103Budget) AS mx FROM sg103),
         |it103 AS (SELECT shard, sum(n_tokens) AS t FROM t103 GROUP BY shard),
         |ic103 AS (SELECT shard, t, t // $E103Budget AS nfull,
         |    t % $E103Budget AS tail FROM it103),
         |is103 AS (SELECT 'concat_cut' AS method,
         |    sum(nfull + CASE WHEN tail > 0 THEN 1 ELSE 0 END) AS n_packs,
         |    sum(t) AS tot,
         |    min(CASE WHEN tail > 0 THEN tail * 1000 // $E103Budget ELSE 1000 END) AS mn,
         |    max(CASE WHEN nfull > 0 THEN 1000 ELSE tail * 1000 // $E103Budget END) AS mx
         |  FROM ic103),
         |u103 AS (SELECT * FROM cs103 UNION ALL SELECT * FROM ss103
         |         UNION ALL SELECT * FROM is103)
         |SELECT method, CAST(n_packs AS BIGINT) AS n_packs,
         |  CAST(tot AS BIGINT) AS total_tokens,
         |  CAST(tot * 1000 // (n_packs * $E103Budget) AS BIGINT) AS mean_fill_milli,
         |  CAST(mn AS BIGINT) AS min_fill_milli,
         |  CAST(mx AS BIGINT) AS max_fill_milli
         |FROM u103 ORDER BY method""".stripMargin,
    "e98_doremi_mix" -> e98OracleSql,
    "e95_source_diversity" -> {
      // The shared pinned-Lloyd chain's final assignment joined to
      // sources, then the char-entropy arithmetic at source grain.
      s"""WITH
         |${cosKmeansCtes(E47K, E47Iters)},
         |g95 AS (SELECT d.source, f.cell
         |  FROM fasg f JOIN documents d ON d.doc_id = f.vec_id),
         |c95 AS (SELECT source, cell, count(*) AS cc FROM g95 GROUP BY source, cell),
         |t95 AS (SELECT source, CAST(sum(cc) AS BIGINT) AS n_vecs,
         |    count(*) AS n_cells FROM c95 GROUP BY source)
         |SELECT t.source, t.n_vecs, t.n_cells,
         |  CAST(sum(cc * ((8 * (length(bin(n_vecs)) - 1) + ((n_vecs * 8) >> (length(bin(n_vecs)) - 1)) - 8)
         |    - (8 * (length(bin(cc)) - 1) + ((cc * 8) >> (length(bin(cc)) - 1)) - 8))) // t.n_vecs AS BIGINT) AS entropy8
         |FROM c95 c JOIN t95 t USING (source)
         |GROUP BY t.source, t.n_vecs, t.n_cells ORDER BY t.source""".stripMargin
    },
    "e93_char_entropy" ->
      """WITH ch93 AS (SELECT doc_id, substr(text, i, 1) AS c
        |      FROM documents, UNNEST(generate_series(1, length(text))) t(i)),
        |cn93 AS (SELECT doc_id, c, count(*) AS cc FROM ch93 GROUP BY doc_id, c),
        |tt93 AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n_chars
        |      FROM cn93 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chars,
        |  CAST(sum(cc * ((8 * (length(bin(n_chars)) - 1) + ((n_chars * 8) >> (length(bin(n_chars)) - 1)) - 8)
        |    - (8 * (length(bin(cc)) - 1) + ((cc * 8) >> (length(bin(cc)) - 1)) - 8))) // t.n_chars AS BIGINT) AS entropy8
        |FROM cn93 c JOIN tt93 t USING (doc_id)
        |GROUP BY t.doc_id, t.n_chars ORDER BY t.doc_id""".stripMargin,

    "e57_hard_triplets" -> {
      // e06's cosine expression with label conditions: hardest positive
      // = min-sim same-label (QUALIFY rn = 1 ascending), hard negatives
      // = top-5 max-sim different-label; anchors without a same-label
      // partner drop via the inner join.
      val ids = knnQueryIds.mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
         |           FROM embeddings WHERE vec_id IN ($ids)),
         |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv, label AS clabel
         |      FROM embeddings),
         |s AS (SELECT query_id, qlabel, cand_id, clabel,
         |        round(list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
         |      FROM c CROSS JOIN q WHERE query_id <> cand_id),
         |pos AS (SELECT query_id, cand_id AS pos_id, sim AS pos_sim
         |        FROM s WHERE qlabel = clabel
         |        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim, cand_id) = 1),
         |neg AS (SELECT query_id, cand_id AS neg_id, sim AS neg_sim
         |        FROM s WHERE qlabel <> clabel
         |        QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) <= 5)
         |SELECT p.query_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
         |FROM pos p JOIN neg n USING (query_id)
         |ORDER BY query_id, neg_id""".stripMargin
    },

    "e56_knn_ivfpq_residual" -> {
      // e50's replay with the residual step: fine chain trained over
      // `res` (x minus the assigned coarse centroid, double-exact), and
      // the ADC grid keyed by (query, PROBED CELL, sub, cid) because
      // the query residual differs per probed cell.
      val subLen = 64 / E48M
      val qids = E48QueryIds.mkString(", ")
      s"""WITH
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |${pqChain("c", 1, 64, E50Kc, E48Iters)},
         |${pqArgmin("cbase", s"ccb$E48Iters", "ccells", keepV = true)},
         |res AS (SELECT cl.vec_id, cl.cid AS cell,
         |        list_transform(generate_series(1, 64),
         |          i -> cl.v[i] - CAST(cc.cv[i] AS DOUBLE)) AS v
         |        FROM ccells cl JOIN ccb$E48Iters cc ON cc.cid = cl.cid),
         |${pqChain("f", E48M, subLen, E48Ks, E48Iters, src = "res", vec = "v")},
         |${pqArgmin("fbase", s"fcb$E48Iters", "codes", keepV = false)},
         |probes AS (SELECT query_id, cell FROM (
         |    SELECT b.vec_id AS query_id, c.cid AS cell,
         |      ${pqL2("b.v", "CAST(c.cv AS DOUBLE[])")} AS d
         |    FROM cbase b JOIN ccb$E48Iters c ON c.sub = b.sub
         |    WHERE b.vec_id IN ($qids))
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cell) <= $E50NProbe),
         |qres AS (SELECT p.query_id, p.cell,
         |         list_transform(generate_series(1, 64),
         |           i -> b.v[i] - CAST(cc.cv[i] AS DOUBLE)) AS v
         |         FROM probes p JOIN cbase b ON b.vec_id = p.query_id
         |         JOIN ccb$E48Iters cc ON cc.cid = p.cell),
         |qsub AS (SELECT query_id, cell, sb AS sub,
         |           v[sb * $subLen + 1 : (sb + 1) * $subLen] AS v
         |         FROM qres, UNNEST(generate_series(0, ${E48M - 1})) AS t(sb)),
         |qdist AS (SELECT q.query_id, q.cell, q.sub, c.cid,
         |          CAST(${pqL2("q.v", "CAST(c.cv AS DOUBLE[])")} AS DECIMAL(28,9)) AS qd
         |          FROM qsub q JOIN fcb$E48Iters c ON c.sub = q.sub),
         |cand AS (SELECT p.query_id, r.cell, r.vec_id
         |         FROM res r JOIN probes p ON p.cell = r.cell
         |         WHERE r.vec_id <> p.query_id),
         |ad AS (SELECT c.query_id, c.vec_id, CAST(sum(q.qd) AS DOUBLE) AS adist
         |       FROM cand c JOIN codes s ON s.vec_id = c.vec_id
         |       JOIN qdist q ON q.sub = s.sub AND q.cid = s.cid
         |            AND q.query_id = c.query_id AND q.cell = c.cell
         |       GROUP BY 1, 2)
         |SELECT query_id, vec_id AS neighbor_id, adist FROM ad
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= $E48TopK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e49_zorder_key" -> {
      // InterleaveBitsExpr replayed bit-for-bit: sign-flip = +2^31 on
      // the BIGINT value (XOR with the sign bit in unsigned space),
      // then each of x's 32 bits lands at even position 2i and y's at
      // 2i+1 — a 64-term HUGEINT sum, sign-converted to BIGINT (bit 63
      // comes from y bit 31, so the long IS negative for y >= 0).
      val M = "18446744073709551616::HUGEINT" // 2^64
      val half = "9223372036854775808::HUGEINT" // 2^63
      val terms = (0 until 32).flatMap { i =>
        Seq(s"((ux >> $i) & 1)::HUGEINT * ${BigInt(1) << (2 * i)}::HUGEINT",
          s"((uy >> $i) & 1)::HUGEINT * ${BigInt(1) << (2 * i + 1)}::HUGEINT")
      }.mkString("\n    + ")
      s"""WITH f AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_partkey AS BIGINT) + 2147483648 AS ux,
         |    CAST(l_suppkey AS BIGINT) + 2147483648 AS uy
         |  FROM lineitem WHERE l_orderkey % 37 = 0),
         |z AS (SELECT l_orderkey, l_linenumber,
         |    ($terms) AS uz
         |  FROM f)
         |SELECT l_orderkey, l_linenumber,
         |  CASE WHEN uz >= $half THEN (uz - $M)::BIGINT ELSE uz::BIGINT END AS zval
         |FROM z
         |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    "e46_split_assign" -> {
      // the SAME cumulative hash-interval literals the Spark side
      // computes (Sampling.splitBounds) over the e27 key-hash formula
      val bounds = Sampling.splitBounds(splitWeights)
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN h < $hi THEN '$n'" }
        .mkString(" ")
      s"""WITH k AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents)
         |SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "e45_span_removal" ->
      // e44's span derivation verbatim, then positional tokens
      // anti-joined against the intervals and re-joined by position;
      // docs whose every token is removed (or that produced no keep
      // rows) coalesce to '' via the outer join on documents.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
        |marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
        |isl AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |        FROM marked),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        |          FROM isl GROUP BY doc_id, g),
        |tok AS (SELECT doc_id, i AS p, w[i] AS t
        |        FROM toks, UNNEST(generate_series(1, len(w))) u(i)),
        |keep AS (SELECT tok.doc_id, p, t FROM tok
        |         WHERE NOT EXISTS (SELECT 1 FROM spans
        |           WHERE spans.doc_id = tok.doc_id AND p BETWEEN s AND e)),
        |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS ct,
        |               count(*) AS kept
        |        FROM keep GROUP BY doc_id)
        |SELECT toks.doc_id, coalesce(ct, '') AS clean_text,
        |       len(w) - coalesce(kept, 0) AS n_tokens_removed
        |FROM toks LEFT JOIN agg ON agg.doc_id = toks.doc_id
        |ORDER BY toks.doc_id""".stripMargin,

    "e42_chunking" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT doc_id, t,
        |        unnest(generate_series(0, CAST(floor((len(t) - 1) / 24) AS BIGINT))) AS i
        |        FROM toks)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(len(list_slice(t, i * 24 + 1, i * 24 + 32)) AS INT) AS chunk_tokens,
        |  array_to_string(list_slice(t, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
        |FROM idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "e41_token_budget" ->
      """WITH stats AS (
        |  SELECT doc_id, length(text) AS text_len,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','to','and','in','is','on','for','with'))) AS n_stopwords,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  0.5 * (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |  + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(text_len AS DOUBLE))
        |  + 0.2 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) AS q
        |  FROM stats),
        |sel AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM q)
        |SELECT doc_id, n_tokens FROM sel WHERE cum <= 12000
        |ORDER BY doc_id""".stripMargin,

    "e40_weighted_mix" ->
      """WITH counts AS (SELECT source AS g, count(*) AS n
        |               FROM documents GROUP BY source),
        |w(g, wt) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)),
        |t AS (SELECT min(n / wt) AS t FROM counts JOIN w USING (g)),
        |rates AS (SELECT g, wt * t.t / n AS rate
        |          FROM counts JOIN w USING (g) CROSS JOIN t)
        |SELECT doc_id, source FROM documents d JOIN rates r ON d.source = r.g
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      < CAST(floor(rate * 1152921504606846976) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "e25_top_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(CAST(tf.tf AS DOUBLE) * n.n / CAST(df.df AS DOUBLE), 9) AS score
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term AS top_term, score FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) = 1
        |ORDER BY doc_id""".stripMargin,

    "e24_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75,
        |  round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "e02_minhash_signature" ->
      s"""WITH $sigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,

    "e03_minhash_pairs" -> {
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH $sigCte,
         |bands AS (
         |  $bands)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "e04_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |d AS (SELECT DISTINCT doc_id, s FROM sh),
         |n AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) AS jaccard
         |FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "e54_surprisal" ->
      // Unigram surprisal replay: corpus token counts, quantized -log2
      // probability via bin()-length difference (the -1s cancel), per-doc
      // sum + fixed-point mean. HUGEINT sums cast back to BIGINT.
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n_total FROM toks),
        |s AS (SELECT doc_id, (length(bin(n_total)) - length(bin(cnt))) AS s
        |      FROM toks JOIN cnt USING (tok), tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(s) AS BIGINT) AS surprisal,
        |  CAST(CAST(sum(s) AS BIGINT) * 1000 // count(*) AS BIGINT) AS mean_milli
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e53_knn_sq8" -> {
      // Full SQ8 replay: exact per-dim FLOAT min/max ranges, the
      // clamped floor((x-lo)*255/(hi-lo)) encoding (identical IEEE
      // association both sides), integer code-dot candidate top-30,
      // exact cosine re-rank top-5 (the e06 expression verbatim).
      val ids = E48QueryIds.mkString(", ")
      s"""WITH embf AS (SELECT vec_id, embedding AS vf FROM embeddings),
         |rng AS (SELECT t.pos AS pos, min(vf[t.pos]) AS lo, max(vf[t.pos]) AS hi
         |        FROM embf, UNNEST(generate_series(1, 64)) AS t(pos)
         |        GROUP BY t.pos),
         |codes AS (SELECT vec_id, t.pos AS pos,
         |          CASE WHEN rng.hi = rng.lo THEN 0.0
         |               ELSE least(255.0, greatest(0.0,
         |                 floor((CAST(vf[t.pos] AS DOUBLE) - CAST(rng.lo AS DOUBLE)) * 255.0
         |                       / (CAST(rng.hi AS DOUBLE) - CAST(rng.lo AS DOUBLE))))) END AS c
         |          FROM embf, UNNEST(generate_series(1, 64)) AS t(pos)
         |          JOIN rng ON rng.pos = t.pos),
         |qc AS (SELECT vec_id, pos, c FROM codes WHERE vec_id IN ($ids)),
         |ascr AS (SELECT qc.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |                CAST(sum(qc.c * cc.c) AS BIGINT) AS ascore
         |         FROM qc JOIN codes cc ON cc.pos = qc.pos AND cc.vec_id <> qc.vec_id
         |         GROUP BY 1, 2),
         |cand AS (SELECT query_id, neighbor_id FROM ascr
         |         QUALIFY row_number() OVER
         |           (PARTITION BY query_id ORDER BY ascore DESC, neighbor_id) <= 30),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |      FROM embeddings WHERE vec_id IN ($ids)),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
         |SELECT query_id, neighbor_id,
         |  round(list_dot_product(qv, cv) /
         |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 9) AS sim
         |FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $E48TopK
         |ORDER BY query_id, neighbor_id""".stripMargin
    },

    "e06_knn_cosine" -> bfOracleSql(knnQueryIds, KnnK),

    "e08_token_stats" ->
      """SELECT doc_id, length(text) AS text_len,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','to','and','in','is','on','for','with'))) AS n_stopwords,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "e09_quality_score" -> (e09OracleCore + "\nORDER BY doc_id"),

    "e10_langid" -> {
      def cnt(ws: Seq[String]) =
        s"len(list_filter(string_split(text, ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
      val scores = Text.LangMarkers.map { case (l, ws) => l -> cnt(ws) }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (l, e) =>
        s"WHEN $e = best AND best > 0 THEN '$l'" }.mkString("\n  ")
      s"""WITH scored AS (SELECT doc_id, text, $best AS best FROM documents)
         |SELECT doc_id, CASE
         |  $cases
         |  ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "e11_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, md5(substr(text, 1, 64)) AS fp_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,

    "e15_bpe_tokens" ->
      s"""SELECT doc_id, len(string_split(text, ' ')) AS n_words,
         |  len(regexp_extract_all(text, '${Text.BpePattern}')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "e17_near_dup_pipeline" -> {
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH $sigCte,
         |bands AS (
         |  $bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |d AS (SELECT DISTINCT doc_id, s FROM sh),
         |n AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
         |c AS (SELECT doc_a, doc_b, count(*) AS inter
         |      FROM cand
         |      JOIN d da ON da.doc_id = doc_a
         |      JOIN d db ON db.doc_id = doc_b AND db.s = da.s
         |      GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) AS jaccard
         |FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "e65_fuzzy_join" -> {
      val bands = (0 until Dedup.NumBands)
        .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b}::VARCHAR || h${2 * b + 1}::VARCHAR) AS bh FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH $sigCte,
         |bands AS (
         |  $bands),
         |la AS (SELECT doc_id AS left_id, band, bh FROM bands WHERE doc_id % 2 = 0),
         |rb AS (SELECT doc_id AS right_id, band, bh FROM bands WHERE doc_id % 2 = 1),
         |cand AS (SELECT DISTINCT left_id, right_id FROM la JOIN rb USING (band, bh)),
         |d AS (SELECT DISTINCT doc_id, s FROM sh),
         |n AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
         |c AS (SELECT left_id, right_id, count(*) AS inter
         |      FROM cand
         |      JOIN d da ON da.doc_id = left_id
         |      JOIN d db ON db.doc_id = right_id AND db.s = da.s
         |      GROUP BY left_id, right_id)
         |SELECT left_id, right_id,
         |  CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) AS jaccard
         |FROM c JOIN n na ON na.doc_id = left_id JOIN n nb ON nb.doc_id = right_id
         |WHERE CAST(inter AS DOUBLE) / CAST(na.sz + nb.sz - inter AS DOUBLE) >= 0.5
         |ORDER BY left_id, right_id""".stripMargin
    },

    "e18_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e20_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "e19_media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    "e12_window_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e13_window_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL (j * 15) MINUTE AS window_start,
        |  event_type, count(*) AS cnt
        |FROM events, UNNEST(generate_series(0, 3)) AS t(j)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e14_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
