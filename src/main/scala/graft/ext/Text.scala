package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token statistics, quality
  * scoring, language-ID heuristic, and content fingerprinting — all
  * composed from built-in codegen'd functions so every column has an
  * exact DuckDB-SQL oracle twin.
  */
object Text {

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  /** Per-language marker tokens for the language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "is", "to", "that"),
    "es" -> Seq("el", "los", "las", "es", "que", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et", "que"))

  private def tokens: Column = split(col("text"), " ")

  private def countIn(arr: Column, words: Seq[String]): Column =
    size(filter(arr, t => words.map(w => t === w).reduce(_ || _)))

  private def countIn(words: Seq[String]): Column = countIn(tokens, words)

  /** Overlapping token-window chunking — the embedding/context prep op:
    * one row per chunk of `size` tokens starting every `stride` tokens
    * (stride < size ⇒ overlap of size − stride). Chunk i covers token
    * positions [i·stride, i·stride + size); starts run while they are
    * < n_tokens, so the tail emits shorter final chunks rather than
    * dropping tokens. Row-local (explode of a per-row sequence — no
    * shuffle, no UDF, scales with the scan), and the slice arithmetic
    * replays exactly in DuckDB (`list_slice` clamps like `slice`).
    * Output: (doc_id, chunk_idx, chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    val toks = tokens
    val nChunks = (floor((org.apache.spark.sql.functions.size(toks) - lit(1))
      / lit(stride)) + lit(1)).cast("int")
    docs.select(col("doc_id"),
        explode(transform(sequence(lit(0), nChunks - 1), i =>
          struct(i.as("chunk_idx"),
            slice(toks, i * stride + 1, lit(size)).as("_ct")))).as("_c"))
      .select(col("doc_id"),
        col("_c.chunk_idx").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("_c._ct")).as("chunk_tokens"),
        array_join(col("_c._ct"), " ").as("chunk_text"))
  }

  /** Token statistics: (doc_id, text_len, n_tokens, n_stopwords,
    * n_punct). Token = single-space split (matches string_split);
    * punctuation = the class [.,!?;:]. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("text_len"),
      size(tokens).as("n_tokens"),
      countIn(Stopwords).as("n_stopwords"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .as("n_punct"))

  /** Quality score in [0,1]: rewards stopword density (natural prose) and
    * penalizes punctuation density and extreme lengths. All terms are
    * exact int/int divisions in double — bit-reproducible across engines
    * when written in the same expression order. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val stats = tokenStats(docs)
    val stopRatio = col("n_stopwords").cast("double") / col("n_tokens").cast("double")
    val punctRatio = col("n_punct").cast("double") / col("text_len").cast("double")
    val lenOk = when(col("n_tokens") >= 10 && col("n_tokens") <= 100000, lit(1.0)).otherwise(lit(0.0))
    stats.select(
      col("doc_id"),
      (lit(0.5) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio) + lit(0.2) * lenOk)
        .as("quality_score"))
  }

  /** The [[qualityScore]] formula as ONE column over `text` — the form a
    * single-plan pipeline composes into a projection (no doc_id join).
    * Same sub-expressions in the same order as the frame form, so the
    * doubles are bit-identical. */
  def qualityScoreCol: Column = {
    val nTokens = size(tokens)
    val nPunct = length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val stopRatio = countIn(Stopwords).cast("double") / nTokens.cast("double")
    val punctRatio = nPunct.cast("double") / length(col("text")).cast("double")
    val lenOk = when(nTokens >= 10 && nTokens <= 100000, lit(1.0)).otherwise(lit(0.0))
    lit(0.5) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio) + lit(0.2) * lenOk
  }

  /** Marker-count columns (one per language, named `_s_<lang>`) and the
    * argmax prediction over them — split so pipelines can pin each count
    * to one evaluation in its own projection (see [[langId]]'s two-
    * projection rationale) while composing in a single plan. */
  def langScoreCols: Seq[Column] =
    LangMarkers.map { case (lang, markers) => countIn(markers).as(s"_s_$lang") }

  /** Argmax over materialized `_s_<lang>` columns; first language in
    * [[LangMarkers]] order wins ties, all-zero predicts "und". */
  def langPredCol: Column = {
    val scoreCols = LangMarkers.map { case (lang, _) => lang -> col(s"_s_$lang") }
    val best = scoreCols.map(_._2).reduce((a, b) => greatest(a, b))
    scoreCols.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Language-ID heuristic: count marker-token hits per language, predict
    * the argmax (ties and all-zero scores resolve deterministically:
    * first language in [[LangMarkers]] order wins a tie; no hits at all
    * predicts "und"). N-gram profiles would be the production upgrade;
    * marker counting is the SQL-expressible baseline. */
  def langId(docs: DataFrame): DataFrame = {
    // Two projections on purpose: the marker counts are interpreted
    // higher-order filters (not codegen'd), and inlining them into the
    // argmax expression evaluates each one ~6x (greatest + tie-check +
    // prediction chain). Materializing them as columns first pins each
    // to ONE evaluation; CollapseProject keeps the split because the
    // counts are referenced repeatedly and are not cheap.
    val scored = docs.select(col("doc_id") +: langScoreCols: _*)
    // foldRight gives priority to the FIRST matching language in
    // LangMarkers order (earlier entries overwrite later in the chain).
    scored.select(col("doc_id"), langPredCol.as("lang_pred"))
  }

  /** Within-document repetition statistics — the Gopher-style quality
    * signal (Rae et al. 2021 §A1.1: documents dominated by repeated
    * n-grams are boilerplate/spam): per doc, total word n-grams,
    * distinct word n-grams, and rep_ratio = 1 - distinct/total (0.0 for
    * docs too short to have an n-gram). Entirely row-local — a
    * projection over higher-order array functions, no explode, no
    * shuffle. Output: (doc_id, n_ngrams, n_distinct, rep_ratio). */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    // The token array is materialized as a COLUMN before the gram
    // transform references it: higher-order functions are interpreted
    // (no codegen, no common-subexpression elimination), so an inline
    // `split(text)` would re-tokenize the document on EVERY element_at
    // call — 2n re-splits per gram, ~12x on this query. A bound column
    // reference is O(1) per access.
    val w = col("_w")
    val grams = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*)))
      .otherwise(array())
    // Sorted grams in their own projection: the distinct count is then
    // one adjacent-difference pass (n log n sort + n compares) instead
    // of array_distinct's O(n^2) pairwise scan, and the gram array is
    // built exactly once.
    docs.select(col("doc_id"), tokens.as("_w"))
      .select(col("doc_id"), array_sort(grams).as("_g"))
      .select(
        col("doc_id"),
        size(col("_g")).as("n_ngrams"),
        when(size(col("_g")) <= 1, size(col("_g")))
          .otherwise(lit(1) + size(filter(
            sequence(lit(1), size(col("_g")) - 1),
            i => element_at(col("_g"), i + 1) =!= element_at(col("_g"), i))))
          .as("n_distinct"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        when(col("n_ngrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(lit(0.0)).as("rep_ratio"))
  }

  /** Gopher rule-based quality filtering (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", §A1.1 / Table A1) — the WORD-LEVEL subset of the paper's
    * document filters, each reported as its measured statistic plus one
    * composite keep decision:
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10] chars
    *   - symbol-to-word ratio ('#' or '...' occurrences / words) <= 0.1
    *   - fraction of words containing an alphabetic character >= 0.8
    *   - at least 2 stop-word hits (the paper's "contains >= 2 of a
    *     fixed stop set"; counted over [[Stopwords]])
    *
    * The paper's LINE-level rules (bullet starts, ellipsis line ends)
    * need multi-line documents and are omitted — on a one-line corpus
    * they are constant and gate nothing. Everything here is row-local
    * codegen'd column arithmetic (one projection, no shuffle — scales
    * with the scan), and every statistic replays exactly in DuckDB.
    * Mean word length uses the 1-char-delimiter identity
    * `sum(len(token)) = len(text) - (n_tokens - 1)` — exact for any
    * split on ' ', no per-token fold needed. Output: (doc_id, n_words,
    * mean_word_len, stop_hits, symbol_ratio, alpha_frac, keep) with
    * keep as 0/1 int. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = col("_w")
    val nWords = col("n_words")
    // '#' count = chars removed by deleting them; '...' count = chars
    // removed / 3 (both engines scan left-to-right, non-overlapping).
    val nHash = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))).cast("double") / lit(3.0)
    val meanWordLen = (length(col("text")) - (nWords - lit(1))).cast("double") /
      nWords.cast("double")
    val stats = docs
      .select(col("doc_id"), col("text"), tokens.as("_w"))
      .select(
        col("doc_id"), col("text"),
        size(toks).as("n_words"),
        countIn(toks, Stopwords).as("stop_hits"),
        size(filter(toks, t => t.rlike("[a-zA-Z]"))).as("n_alpha"))
      .select(
        col("doc_id"), col("n_words"),
        meanWordLen.as("mean_word_len"),
        col("stop_hits"),
        ((nHash.cast("double") + nEllipsis) / nWords.cast("double"))
          .as("symbol_ratio"),
        (col("n_alpha").cast("double") / nWords.cast("double")).as("alpha_frac"))
    stats.select(
      col("doc_id"), col("n_words"), col("mean_word_len"), col("stop_hits"),
      col("symbol_ratio"), col("alpha_frac"),
      when(col("n_words") >= 50 && col("n_words") <= 100000
          && col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0
          && col("symbol_ratio") <= 0.1
          && col("alpha_frac") >= 0.8
          && col("stop_hits") >= 2, lit(1)).otherwise(lit(0)).as("keep"))
  }

  /** Whitespace class for [[normalizeForDedup]], spelled EXPLICITLY
    * (space, tab, LF, VT, FF, CR) rather than `\s`: Java's `\s` matches
    * vertical tab while RE2's does not, so the shorthand would make the
    * Spark and DuckDB sides diverge on VT-containing text. */
  val WsRun = "[ \\t\\n\\x0B\\f\\r]+"

  /** Dedup-normalization for a text column: lowercase, strip the
    * punctuation class, collapse whitespace runs, trim. Hashing the
    * NORMALIZED text makes exact dedup robust to case/spacing/
    * punctuation variants — the canonical first stage before
    * [[graft.ext.Dedup.exactGroups]] on scraped corpora. Pure codegen'd
    * column; regexes are in the Java∩RE2 subset so the SQL oracle runs
    * the identical transform. */
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,!?;:]", ""), WsRun, " "))

  /** Email / phone-number patterns for [[redactPii]] — deliberately in
    * the common subset of Java regex and RE2 so the DuckDB oracle runs
    * the identical pattern. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing for a text column: count and redact email addresses
    * and phone numbers (regex-based — the deterministic first pass every
    * pipeline runs before the ML-based PII stage). Row-local, codegen'd.
    * Output: (doc_id, n_emails, n_phones, redacted). */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0))).as("n_phones"),
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>").as("redacted"))

  /** Content fingerprint: md5 of the full text (exact-dup key), plus a
    * prefix fingerprint of the first 64 chars (clustering key for
    * boilerplate-prefix detection). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text")).as("fp"),
      md5(substring(col("text"), 1, 64)).as("fp_prefix"))

  /** BPE-ish subword token count: alpha runs, digit runs, and single
    * non-alphanumeric symbols — the pre-merge tokenization a byte-pair
    * tokenizer starts from. Whitespace token count alongside for the
    * compression-ratio signal (subword/word ratio ~ language density). */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_words"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_tokens"))

  /** Winnowing-style document fingerprint (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — min-hash-of-window variant): the minimum 64-bit rolling hash
    * over the document's word 3-gram shingles (the codegen'd
    * [[graft.functions.RollingHash64Expr]] on each shingle). Documents
    * sharing any lowest-hash shingle collide — a cheap near-dup
    * clustering key that, unlike md5, survives local edits. */
  /** Top term per document by a tf-idf-style importance score.
    * Score = tf * N / df — the log-free rational form, monotone in tf
    * for fixed df, chosen deliberately: ln() can differ by an ULP
    * across engines, while integer-derived double division is
    * bit-identical everywhere, so the score oracle-checks exactly.
    * Ties break lexicographically on the term. Standard weighting:
    * Sparck Jones, "A statistical interpretation of term specificity"
    * (1972). Output: (doc_id, top_term, score). */
  def topTermTfIdf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(col("doc_id"), explode(tokens).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(col("doc_id")).distinct().count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(desc("score"), asc("term"))
    tf.join(df_, "term")
      .withColumn("score",
        round(col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"), 9))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("score"))
  }

  def winnowFingerprints(docs: DataFrame): DataFrame =
    graft.ext.Dedup.shingles(docs)
      .groupBy(col("id"))
      .agg(min(graft.functions.rollingHash64(col("s"))).as("winnow_fp"))
      .withColumnRenamed("id", "doc_id")

  /** Corpus-LM surprisal quality scores — the language-model perplexity
    * filter of CCNet/Gopher-era pipelines (score documents under a
    * model of the corpus; extremes are noise or boilerplate), with the
    * LM reduced to its unigram term and the log quantized to integer
    * floor-log2 so the whole computation is exact, engine-portable
    * integer arithmetic (no transcendental, no float accumulation —
    * the e52 `length(bin(x))` discipline).
    *
    * Pass 1 counts corpus unigrams (map-side-combined); pass 2 scores
    * each token instance with s(tok) = floor(log2 N) - floor(log2
    * cnt(tok)) — the quantized -log2 of its corpus probability (within
    * ±1 of the real value) — and folds per document: total surprisal
    * and the fixed-point mean `surprisal * 1000 div n_tokens`.
    *
    * Scale shape (100 TB): the vocabulary frame is (token, cnt) —
    * millions of rows, NOT corpus-scale — and the scoring join shuffles
    * (doc, token) pairs hash-partitioned by token; with a bounded
    * vocabulary the join side broadcasts and the whole score is
    * map-side. Output: (doc_id, n_tokens, surprisal, mean_milli),
    * all BIGINT. */
  def surprisalScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    toks.join(cnt, Seq("tok")).crossJoin(broadcast(tot))
      .select(col("doc_id"), (flog2(col("n_total")) - flog2(col("cnt"))).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("surprisal"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal"),
        expr("surprisal * 1000 div n_tokens").as("mean_milli"))
  }

  /** Interpolated BIGRAM language-model surprisal — the CCNet/KenLM
    * perplexity-filter shape one model order up from
    * [[surprisalScores]]: train n-gram counts on a held-in corpus
    * split, score EVERY document under the frozen counts, and flag the
    * extremes (gibberish scores high, boilerplate scores low). The
    * model is Jelinek-Mercer interpolation with λ = 3/4 in exact 2^20
    * fixed point:
    *
    *   p_fp(w2|w1) = (3·(c2(w1,w2)·S div cl(w1)) + c1(w2)·S div N) div 4
    *
    * where c2 = train bigram count, cl(w1) = count of w1 as a bigram
    * left (so the bigram term sums to exactly S over w2), c1/N the
    * train unigram counts — unseen events contribute 0 and the whole
    * probability clamps to ≥ 1 (the unknown-token floor). Surprisal is
    * the eighth-bit integer -log2 ([[Retrieval.log8Sql]] discipline):
    * `s8 = 8·20 - log8(p_fp)` per bigram, summed per document with the
    * fixed-point mean `surprisal8 * 1000 div n_bigrams`. Every stage is
    * integer, so the DuckDB oracle replays it verbatim and the result
    * is bit-stable under any partitioning.
    *
    * Bigrams are ROW-LOCAL (an index-transform over the token array —
    * no self-join, no window); documents with fewer than two tokens
    * have no bigram events and are absent from the output by
    * construction.
    *
    * Scale shape (100 TB): both count frames are map-side-combined and
    * bounded by the observed vocabulary (unigrams) / observed bigram
    * set — far below corpus scale after combining; scoring is two
    * token-keyed equi-joins AQE can broadcast when the model fits, and
    * the final fold is a per-doc aggregate. Output:
    * `(doc_id, n_bigrams, surprisal8, mean_milli)`, all BIGINT. */
  def bigramSurprisal(docs: DataFrame, trainFilter: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // The extraction runs twice (all docs / train split) instead of
    // semi-joining a corpus-sized id set: both passes are row-local
    // scans, and nothing model-sized ever shuffles by doc.
    bigramSurprisalFrom(
      buildBigramCounts(docs.where(trainFilter), idCol, textCol),
      docs, idCol, textCol)

  /** The frozen bigram-LM COUNT artifact — the MERGEABLE form the
    * incremental seam maintains ([[graft.ext.Snapshot
    * .refreshBigramCounts]]): train-split bigram counts `(w1, w2, c2)`
    * and unigram counts `(w2, c1)`, both PER-DOC additive (a bigram
    * never crosses documents), so a crawl delta folds in signed. The
    * derived quantities the scorer needs — the left-context totals
    * `cl(w1)` and the corpus total N — re-derive from these frames at
    * serving time (one vocab-grain aggregate each), so the artifact
    * stays minimal and every derived number is automatically
    * consistent with the merged counts. */
  final case class BigramCounts(big: DataFrame, uni: DataFrame)

  /** One pass over a training split → the [[BigramCounts]] frames. */
  def buildBigramCounts(trainDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): BigramCounts =
    BigramCounts(
      bigramEvents(trainDocs, idCol, textCol)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2")),
      trainDocs.select(explode(split(col(textCol), " ")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("c1")))

  /** [[bigramSurprisal]] over a PREBUILT (possibly delta-maintained)
    * count artifact — the serving path of a perplexity filter whose
    * model lives across crawls: identical scoring arithmetic, the
    * training split never re-extracted. */
  def bigramSurprisalFrom(model: BigramCounts, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val S = Retrieval.Scale
    val pairs = bigramEvents(docs, idCol, textCol)
    val big = model.big
    val left = big.groupBy("w1").agg(sum(col("c2")).as("cl"))
    val uni = model.uni
    val tot = uni.agg(sum(col("c1")).as("n_total"))
    val scored = pairs
      .join(big, Seq("w1", "w2"), "left")
      .join(left, Seq("w1"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("_pb",
        expr(s"CASE WHEN c2 IS NULL THEN 0 ELSE (3 * ((c2 * ${S}L) div cl)) END"))
      .withColumn("_pu",
        expr(s"CASE WHEN c1 IS NULL THEN 0 ELSE (c1 * ${S}L) div n_total END"))
      .withColumn("_p_fp", greatest(expr("(_pb + _pu) div 4"), lit(1L)))
      .withColumn("_s8",
        lit(8L * 20) - expr(Retrieval.log8Sql("_p_fp")))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_s8")).as("surprisal8"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal8"),
        expr("surprisal8 * 1000 div n_bigrams").as("mean_milli"))
  }

  /** Interpolated Kneser-Ney trigram surprisal — the KenLM-shaped
    * perplexity filter (CCNet scores documents under a KN 5-gram LM;
    * this is the same construction one order down, with the same
    * decision semantics), one model order and one smoothing idea up
    * from [[bigramSurprisal]]'s Jelinek-Mercer: instead of mixing in
    * RAW unigram frequency (which lets "Francisco" look probable in
    * any context because "San Francisco" is common), each back-off
    * level uses CONTINUATION counts — how many distinct contexts a
    * word completes — with absolute discounting (Kneser & Ney '95,
    * Chen & Goodman '98). D = 3/4 in exact 2^20 fixed point, every
    * count an integer, so the DuckDB oracle replays the computation
    * verbatim:
    *
    *   p1 = cont1(w3)·S div B                 [continuation unigram]
    *   p2 = (4·n1r − 3)⁺·S div 4·nmid(w2)
    *        + 3·nl2(w2)·p1 div 4·nmid(w2)     [continuation bigram]
    *   p3 = (4·c3 − 3)⁺·S div 4·ctx(w1,w2)
    *        + 3·nl3(w1,w2)·p2 div 4·ctx       [discounted trigram]
    *
    * where c3 = train trigram count, ctx = Σ_w3 c3 (so the level is
    * exactly normalized), nl3 = distinct continuations of (w1,w2),
    * n1r = N1+(·w2w3) distinct left contexts, nmid = N1+(·w2·),
    * nl2 = N1+(w2·), cont1 = N1+(·w3), B = total distinct (w2,w3)
    * types — ALL derived from the one trigram-count frame. An unseen
    * CONTEXT backs off a whole level (ctx NULL → p3 = p2; nmid NULL →
    * p2 = p1); an unseen EVENT in a seen context contributes only the
    * interpolation term; the final probability clamps to ≥ 1 (the
    * unknown floor). Surprisal is the eighth-bit integer −log2
    * ([[Retrieval.log8Sql]]): s8 = 160 − log8(p_fp), per-doc sum +
    * fixed-point mean, the [[bigramSurprisal]] output contract.
    *
    * Overflow bound: 4·c3·S must fit a long ⇒ the most frequent
    * TRIGRAM's count < 2^41 — comfortable at 100 TB (a trigram that
    * appears 2·10¹² times is ~1% of all trigrams on earth); widen to
    * DECIMAL(38,0) beyond that. 3·nl2·p1 ≤ 3·V·2^20 needs V < 2^41
    * likewise.
    *
    * Scale shape (100 TB): the model frames are map-side-combined
    * counts bounded by the observed trigram/bigram/unigram type sets
    * (the same bound [[bigramSurprisal]] documents, one order up);
    * scoring is token-keyed equi-joins AQE broadcasts when the model
    * fits, else shuffles on the join keys; the fold is one per-doc
    * aggregate. Docs with < 3 tokens have no trigram events and are
    * absent by construction. Output:
    * `(doc_id, n_trigrams, surprisal8, mean_milli)`, all BIGINT. */
  def knTrigramSurprisal(docs: DataFrame, trainFilter: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    knTrigramSurprisalFrom(
      buildTrigramCounts(docs.where(trainFilter), idCol, textCol),
      docs, idCol, textCol)

  /** The KN model's ONE frozen artifact: the train-split trigram count
    * frame `(w1, w2, w3, c3)` — per-doc additive (a trigram never
    * crosses documents), so it merges SIGNED off a crawl diff
    * ([[graft.ext.Snapshot.refreshTrigramCounts]]). EVERY derived
    * quantity the scorer needs (context totals, all three
    * continuation-count frames, the type total B) re-derives from this
    * frame at serving time, so maintaining c3 maintains the whole
    * model consistently — distinct-type counts are exact over the
    * merged frame because zero-count events DROP in the merge exactly
    * as a retrain would never produce them. */
  def buildTrigramCounts(trainDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    trigramEvents(trainDocs, idCol, textCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))

  /** [[knTrigramSurprisal]] over a PREBUILT (possibly
    * delta-maintained) trigram count frame — the serving path of the
    * KenLM-shaped filter whose model lives across crawls. */
  def knTrigramSurprisalFrom(c3: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val S = Retrieval.Scale
    val events = trigramEvents(docs, idCol, textCol)
    val ctx = c3.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("ctx"), count(lit(1)).as("nl3"))
    val n1r = c3.groupBy("w2", "w3").agg(count(lit(1)).as("n1r"))
    val mid = n1r.groupBy("w2")
      .agg(sum(col("n1r")).as("nmid"), count(lit(1)).as("nl2"))
    val cont = n1r.groupBy("w3").agg(count(lit(1)).as("cont1"))
    val btot = cont.agg(sum(col("cont1")).as("btot"))
    val scored = events
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(ctx, Seq("w1", "w2"), "left")
      .join(n1r, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .crossJoin(broadcast(btot))
      .withColumn("_p1", expr(
        s"CASE WHEN cont1 IS NULL THEN 0L ELSE (cont1 * ${S}L) div btot END"))
      .withColumn("_p2", expr(
        s"""CASE WHEN nmid IS NULL THEN _p1 ELSE
           (greatest(4 * coalesce(n1r, 0L) - 3, 0L) * ${S}L) div (4 * nmid)
           + (3 * nl2 * _p1) div (4 * nmid) END"""))
      .withColumn("_p3", expr(
        s"""CASE WHEN ctx IS NULL THEN _p2 ELSE
           (greatest(4 * coalesce(c3, 0L) - 3, 0L) * ${S}L) div (4 * ctx)
           + (3 * nl3 * _p2) div (4 * ctx) END"""))
      .withColumn("_p_fp", greatest(col("_p3"), lit(1L)))
      .withColumn("_s8", lit(8L * 20) - expr(Retrieval.log8Sql("_p_fp")))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_s8")).as("surprisal8"))
      .select(col("doc_id"), col("n_trigrams"), col("surprisal8"),
        expr("surprisal8 * 1000 div n_trigrams").as("mean_milli"))
  }

  /** The `(doc_id, w1, w2, w3)` trigram-event stream, ROW-LOCAL like
    * [[bigramEvents]] (index transform, no self-join, no window);
    * docs with < 3 tokens emit nothing. */
  private def trigramEvents(frame: DataFrame, idCol: String,
      textCol: String): DataFrame = frame
    .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_a"))
    .select(col("doc_id"), explode(when(size(col("_a")) >= 3,
      expr("transform(sequence(2, size(_a) - 1), " +
        "i -> struct(_a[i-2] AS w1, _a[i-1] AS w2, _a[i] AS w3))"))
      .otherwise(expr("array()"))).as("_t"))
    .select(col("doc_id"), col("_t.w1").as("w1"),
      col("_t.w2").as("w2"), col("_t.w3").as("w3"))

  /** Character-distribution Shannon entropy per document, in exact
    * eighth-bit integers — the char-level gibberish detector
    * (keyboard-mash, base64 blobs and single-char runs sit at the two
    * entropy extremes that word-level signals like [[repetitionScores]]
    * miss):
    *
    *   entropy8 = Σ_c cnt_c · (log8 N − log8 cnt_c)  div  N
    *
    * with log8 the established `⌊8·log2⌋` integer log
    * ([[Retrieval.log8Sql]]) and one floor division at the end, so the
    * value is bit-stable under any partitioning and the SQL oracle
    * replays it. Range: 0 (single repeated char) to ~8·log2(alphabet).
    * Empty documents have no characters and are absent.
    *
    * Scale shape: ONE codegen'd row-local projection — the histogram
    * is built inside the row by the native
    * [[graft.functions.CharEntropy8Expr]] kernel (an ASCII array + a
    * tiny code-point spill map, one O(n) pass), so NOTHING shuffles:
    * the op scales with the scan like e08/e81. (Two rejected cuts, for the
    * record: an explode/groupBy shuffle — needless for per-row work —
    * and an array-HOF projection whose duplicated lambda subtrees
    * evaluated interpreted, 80 s at sf0.1 vs ~1 s for this kernel.)
    * Output: `(doc_id, n_chars, entropy8)`, all BIGINT. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol) +: charEntropyCols(col(textCol)): _*)
      .where(col("n_chars") > 0)

  /** [[charEntropy]]'s `(n_chars, entropy8)` as row-local columns over
    * a text expression — the composable single-projection form (the
    * [[qualityScoreCol]] discipline). */
  def charEntropyCols(text: Column): Seq[Column] = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    Seq(length(text).cast("long").as("n_chars"),
      column(graft.functions.CharEntropy8Expr(expression(text)))
        .as("entropy8"))
  }

  /** The `(doc_id, w1, w2)` bigram-event stream of a frame, ROW-LOCAL
    * (an index transform over the token array — no self-join, no
    * window; `sequence(1, 0)` DESCENDS in Spark, so docs with < 2
    * tokens are guarded to an empty array and emit nothing). ONE
    * definition shared by training ([[buildBigramCounts]]) and scoring
    * ([[bigramSurprisalFrom]]), so both sides extract events
    * identically. */
  private def bigramEvents(frame: DataFrame, idCol: String,
      textCol: String): DataFrame = frame
    .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_a"))
    .select(col("doc_id"), explode(when(size(col("_a")) >= 2,
      expr("transform(sequence(1, size(_a) - 1), " +
        "i -> struct(_a[i-1] AS w1, _a[i] AS w2))"))
      .otherwise(expr("array()"))).as("_p"))
    .select(col("doc_id"), col("_p.w1").as("w1"), col("_p.w2").as("w2"))

  /** CCNet's head/middle/tail split: every document bucketed by its
    * [[bigramSurprisal]] perplexity WITHIN its language — the actual
    * shipping shape of the CCNet pipeline (Wenzek et al. 2020), where
    * LM-score terciles per language drive what gets kept or
    * down-sampled. `ntile(nBuckets)` over the per-language
    * (mean_milli, doc_id) total order — deterministic, partitioned by
    * language (never a global window), bucket 1 = lowest perplexity
    * (the "head"). Documents with < 2 tokens have no perplexity and
    * are absent, like the scorer itself. Output:
    * `(doc_id, lang, mean_milli, bucket)`.
    *
    * Scale: the scorer's shape plus one language-partitioned window —
    * thousands of languages partition cleanly; for a single dominant
    * language at extreme scale, swap ntile for quantile cutpoints from
    * [[Sketches]] and a broadcast band join. */
  def perplexityBuckets(docs: DataFrame, trainFilter: Column,
      nBuckets: Int = 3, idCol: String = "doc_id",
      langCol: String = "lang", textCol: String = "text"): DataFrame =
    perplexityBucketsFrom(docs,
      bigramSurprisal(docs, trainFilter, idCol, textCol),
      nBuckets, idCol, langCol)

  /** [[perplexityBuckets]] over an ALREADY-SCORED frame (the
    * [[bigramSurprisal]] output shape) — the consumer face: e78/e86
    * read one memoized scoring pass instead of retraining the LM per
    * query (the e59 trainers-pay discipline). */
  def perplexityBucketsFrom(docs: DataFrame, scored: DataFrame,
      nBuckets: Int = 3, idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    require(nBuckets >= 1, s"need nBuckets >= 1, got $nBuckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol).orderBy(col("mean_milli"), col("doc_id"))
    scored
      .join(docs.select(col(idCol).as("doc_id"), col(langCol)), "doc_id")
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .select(col("doc_id"), col(langCol), col("mean_milli"), col("bucket"))
  }

  /** Per-group TOKEN-DISTRIBUTION DIVERGENCE from the corpus — the
    * domain-shift diagnostic a mixture designer reads before setting
    * sampling weights (the DoReMi-era question "how far is this
    * source's unigram distribution from the pool?"), as a quantized KL
    * divergence in exact integer arithmetic:
    *
    *   kl_s8(g) = Σ_t  p_g(t) · (log8 p_g(t) - log8 p(t))
    *
    * with `p_g(t) = c_g(t)·S div N_g` and `p(t) = c(t)·S div N` in 2^20
    * fixed point and log8 the eighth-bit integer log2
    * ([[Retrieval.log8Sql]]). Units: fixed-point probability mass ×
    * eighth-bits. Terms exist only where the group saw the token
    * (`p_g > 0`; `p > 0` follows by containment); a single-group corpus
    * scores exactly 0 (p_g ≡ p), and quantization can push near-zero
    * divergences a few units negative — the diagnostic's resolution,
    * documented rather than clamped. Zero-probability-quantized tokens
    * (`c·S < N`) clamp to p_fp = 1 before the log, the e75 floor.
    *
    * Scale shape (100 TB): both count frames are map-side-combined and
    * vocabulary-bounded per group; the divergence is one token-keyed
    * join of the group counts against the corpus counts plus a
    * per-group fold — nothing corpus-sized ever shuffles. Output:
    * `(group, n_tokens, n_types, kl_s8)`, all exact. */
  def domainShift(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val S = Retrieval.Scale
    val toks = docs.select(col(groupCol).as("g"),
      explode(split(col(textCol), " ")).as("t"))
    val cg = toks.groupBy("g", "t").agg(count(lit(1)).as("c_g"))
    val ng = cg.groupBy("g").agg(sum(col("c_g")).as("n_g"),
      count(lit(1)).as("n_types"))
    val call = toks.groupBy("t").agg(count(lit(1)).as("c_all"))
    val nall = call.agg(sum(col("c_all")).as("n_all"))
    def p(cNum: String, den: String): String =
      s"greatest(($cNum * ${S}L) div $den, 1)"
    cg.join(ng, "g").join(call, "t").crossJoin(broadcast(nall))
      .withColumn("_pg", expr(p("c_g", "n_g")))
      .withColumn("_pa", expr(p("c_all", "n_all")))
      .withColumn("_term", col("_pg") *
        (expr(Retrieval.log8Sql("_pg")) - expr(Retrieval.log8Sql("_pa"))))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n_g")).as("n_tokens"), max(col("n_types")).as("n_types"),
        sum(col("_term")).as("kl_s8"))
  }

  /** Fixed-point unit for [[phraseScores]] and [[cooccurrence]]. */
  val PhraseScale: Long = 1L << 20

  /** PHRASE (collocation) DETECTION — word2vec's phrase pass (Mikolov
    * et al. 2013 §4: `score(a,b) = (count(ab) - δ) · N / (count(a) ·
    * count(b))`, phrases above a threshold join the vocabulary as
    * single tokens), in exact fixed point: `score_fp = (c_ab - δ) · N
    * · 2^20 div (c_a · c_b)` — one floor division, identical in both
    * engines. δ discounts rare accidental pairs.
    *
    * Scale shape: unigram and adjacent-bigram counts are two
    * map-side-combined aggregations over the token stream; the score
    * join keys bigrams on their two component words (vocabulary-sized
    * frames). Output: `(phrase, c_ab, score_fp)` for scores above
    * `minScoreFp`. Overflow bound: `c_ab · N · 2^20` must fit a long
    * ⇒ N < 2^21 per count unit — widen to DECIMAL past ~10^12 tokens.
    */
  def phraseScores(docs: DataFrame, delta: Long = 3L,
      minScoreFp: Long = PhraseScale,
      textCol: String = "text"): DataFrame = {
    require(delta >= 0, s"delta must be >= 0, got $delta")
    val toks = docs.select(split(col(textCol), " ").as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("_n"))
    val bi = docs.select(split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1), i =>
        struct(element_at(col("w"), i).as("a"),
          element_at(col("w"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // c_ab > delta keeps the numerator positive: Spark `div` truncates
    // where DuckDB `//` floors, so a negative numerator would diverge
    // (and a non-positive score can never pass a positive threshold)
    bi.where(col("c_ab") > delta)
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(tot))
      .select(concat_ws(" ", col("a"), col("b")).as("phrase"), col("c_ab"),
        expr(s"(c_ab - $delta) * _n * ${PhraseScale}L div (c_a * c_b)")
          .as("score_fp"))
      .where(col("score_fp") >= minScoreFp)
  }

  /** GloVe-style WINDOWED CO-OCCURRENCE counts (Pennington et al.
    * 2014): for every ordered (center, context) word pair within
    * `window` positions, the distance-discounted mass `Σ 2^20 div d`
    * — the matrix GloVe factorizes, in exact integers.
    *
    * Scale shape: positions explode once; the pair generator is a
    * ROW-LOCAL window slide (each position pairs with at most
    * 2·window neighbors inside the same row's array — no self-join,
    * no shuffle before the final (center, context) aggregation, which
    * map-side combines). Output: `(center, context, weight_fp)`. */
  def cooccurrence(docs: DataFrame, window: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = split(col(textCol), " ")
    val pairs = docs.select(w.as("w"))
      .select(explode(transform(sequence(lit(1), size(col("w"))), i =>
        struct(element_at(col("w"), i).as("center"), i.as("i")))).as("c"),
        col("w"))
      .select(col("c.center").as("center"), col("c.i").as("i"), col("w"))
      .select(col("center"),
        explode(filter(transform(
          sequence(lit(-window), lit(window)), d =>
            when(d =!= 0 && col("i") + d >= 1 && col("i") + d <= size(col("w")),
              struct(element_at(col("w"), col("i") + d).as("context"),
                abs(d).cast("long").as("dist")))),
          x => x.isNotNull)).as("p"))
      .select(col("center"), col("p.context").as("context"),
        expr(s"${PhraseScale}L div p.dist").as("_w"))
    pairs.groupBy("center", "context")
      .agg(sum(col("_w")).as("weight_fp"))
  }

  /** Vocabulary-rank shard count for [[skipgramPairs]]'s two-phase
    * global rank: tokens hash into `RankBuckets` shards, rank within a
    * shard is a PARTITIONED window, and the ≤ `RankBuckets`-row shard
    * histogram supplies the cross-shard offsets — so the engine never
    * plans a partition-less window over the vocabulary (the
    * PlanAuditSpec gate). 64 shards keep the per-shard sort ~|V|/64
    * while the offset triangular join stays a 64×64 constant. */
  val RankBuckets: Long = 64L

  /** SKIP-GRAM TRAINING PAIRS with deterministic negative sampling —
    * word2vec's data-generation step (Mikolov et al. 2013): every
    * in-window (center, context) token pair is a positive; each
    * positive instance draws `negatives` vocabulary tokens as
    * negatives. The draw is `md5(doc:pos:offset:j) mod |V|` mapped to
    * the vocabulary rank in `(md5-shard, t)` order — the
    * [[Sampling.hashSample]] membership discipline applied to negative
    * sampling, so reruns, partitionings, and the SQL oracle draw
    * identical negatives. `freqWeighted = false` draws uniformly over
    * the vocabulary; `freqWeighted = true` draws from the UNIGRAM
    * distribution (word2vec's default family) by resolving
    * `hash mod totalMass` against banded cumulative-mass intervals —
    * see the inline note. Output: `(center, other, label, cnt)`
    * grouped — label +1 positives, -1 negatives.
    *
    * Scale shape: the positive generator is the [[cooccurrence]]
    * row-local window slide; negatives add `negatives` rows per
    * positive instance, each resolved by ONE equi-join against the
    * |V|-row ranked vocabulary (plain shuffle join — AQE upgrades to
    * broadcast only when |V| genuinely fits); the final count map-side
    * combines. The vocabulary rank itself is the TWO-PHASE form
    * (per-shard partitioned `row_number` + [[RankBuckets]]-bounded
    * shard offsets), so no stage sorts the vocabulary in one task and
    * nothing vocabulary-sized is broadcast — a 10⁹-token web-corpus
    * vocabulary ranks in |V|/64-row tasks. */
  def skipgramPairs(docs: DataFrame, window: Int = 3, negatives: Int = 2,
      freqWeighted: Boolean = false,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && negatives >= 0,
      s"window >= 1 and negatives >= 0 required, got $window/$negatives")
    val w = split(col(textCol), " ")
    val vocab = docs.select(explode(w).as("t")).distinct()
    // md5 shard of a token — phase 1 of the two-phase rank. The
    // vocabulary ORDER is (shard, t): arbitrary but total, shared with
    // the oracle, and rankable without a global window.
    def shardOf(c: Column): Column =
      pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"),
        lit(RankBuckets))
    // cross-shard offsets: triangular join over the ≤ RankBuckets-row
    // shard histogram (a bounded NLJ — the e66 literal-list class),
    // NOT a partition-less window.
    def shardOffsets(hist: DataFrame, massCol: String): DataFrame =
      hist.join(
          hist.select(col("_b").as("_b2"), col(massCol).as("_m2")),
          col("_b2") < col("_b"), "left")
        .groupBy("_b").agg(coalesce(sum(col("_m2")), lit(0L)).as("_off"))
    val bucketed = vocab.withColumn("_b", shardOf(col("t")))
    val rnW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_b")).orderBy(col("t"))
    val offs = shardOffsets(
      bucketed.groupBy("_b").agg(count(lit(1)).as("_bc")), "_bc")
    val ranked = bucketed
      .withColumn("_rn", row_number().over(rnW).cast("long"))
      .join(offs, Seq("_b"))
      .select(col("t"), (col("_off") + col("_rn")).as("_rk"))
    val nVocab = broadcast(vocab.agg(count(lit(1)).as("_nv")))
    // every in-window pair INSTANCE with its (doc, position, offset) key
    val inst = docs.select(col(idCol).as("_doc"), w.as("w"))
      .select(col("_doc"),
        explode(transform(sequence(lit(1), size(col("w"))), i =>
          struct(element_at(col("w"), i).as("center"), i.as("i")))).as("c"),
        col("w"))
      .select(col("_doc"), col("c.center").as("center"), col("c.i").as("i"),
        explode(filter(transform(
          sequence(lit(-window), lit(window)), d =>
            when(d =!= 0 && col("c.i") + d >= 1 &&
              col("c.i") + d <= size(col("w")),
              struct(element_at(col("w"), col("c.i") + d).as("context"),
                d.as("d")))),
          x => x.isNotNull)).as("p"))
    val pos = inst.groupBy(col("center"), col("p.context").as("other"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("label", lit(1L))
    val drawBase =
      if (negatives == 0) None
      else Some(inst
        .select(col("_doc"), col("center"), col("i"), col("p.d").as("d"),
          explode(sequence(lit(1), lit(negatives))).as("j"))
        .withColumn("_h", conv(substring(
          md5(concat_ws(":", col("_doc"), col("i"), col("d"), col("j"))),
          1, 15), 16, 10).cast("long")))
    val negs = drawBase.toSeq.map { draws =>
      val resolved =
        if (!freqWeighted)
          draws.crossJoin(nVocab)
            .withColumn("_draw", pmod(col("_h"), col("_nv")) + 1)
            .join(ranked, col("_rk") === col("_draw"))
        else {
          // FREQUENCY-weighted draw (word2vec's unigram distribution):
          // each token owns the cumulative-mass interval [lo, hi) of
          // its corpus count in (shard, t)-order; a draw
          // r = hash mod totalMass resolves to its owner. Intervals
          // are BANDED (RangeJoin's discipline) at width ~ mean token
          // mass: each interval explodes into the
          // <= (mass div width + 2) bands it covers, the draw joins
          // its single band equi-key, and a residual range filter
          // picks the owner — ~3|V| banded rows total, never a
          // draws x vocab scan. The cumulative mass is the same
          // two-phase form as the rank: per-shard partitioned running
          // sum + RankBuckets-bounded shard mass offsets.
          val counts = docs.select(explode(split(col(textCol), " ")).as("t"))
            .groupBy("t").agg(count(lit(1)).as("_c"))
            .withColumn("_b", shardOf(col("t")))
          val cumW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_b")).orderBy(col("t"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)
          val stats = broadcast(counts.agg(sum(col("_c")).as("_n"),
            count(lit(1)).as("_v")))
          val moffs = shardOffsets(
            counts.groupBy("_b").agg(sum(col("_c")).as("_bm")), "_bm")
          val banded = (counts
            .withColumn("_cum", sum(col("_c")).over(cumW))
            .join(moffs, Seq("_b"))
            .withColumn("_hi", col("_off") + col("_cum"))
            .withColumn("_lo", col("_hi") - col("_c"))
            .crossJoin(stats)
            .withColumn("_wd", expr("greatest(1L, _n div _v)"))
            .withColumn("_band",
              explode(sequence(expr("_lo div _wd"), expr("(_hi - 1) div _wd"))))
            .select(col("t"), col("_lo"), col("_hi"), col("_band")))
          draws.crossJoin(stats)
            .withColumn("_r", pmod(col("_h"), col("_n")))
            .withColumn("_band", expr("_r div greatest(1L, _n div _v)"))
            .join(banded, Seq("_band"))
            .where(col("_r") >= col("_lo") && col("_r") < col("_hi"))
        }
      resolved
        .groupBy(col("center"), col("t").as("other"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("label", lit(-1L))
    }
    (pos +: negs).reduce(_.unionByName(_))
      .select(col("center"), col("other"), col("label"), col("cnt"))
  }
}
