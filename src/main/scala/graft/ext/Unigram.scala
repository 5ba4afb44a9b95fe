package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training — the SentencePiece counterpart of
  * [[Bpe]] (Kudo 2018: a vocabulary of subword pieces scored by a
  * unigram language model, fit by EM over the corpus), in the engine's
  * deterministic hard-EM form:
  *
  *  - the corpus collapses to its word-frequency table (the e58
  *    discipline — everything after tokenize-to-words is
  *    VOCABULARY-sized, never corpus-sized);
  *  - the seed vocabulary is every substring of length <=
  *    [[MaxPieceLen]] with its corpus occurrence mass;
  *  - each EM round runs VITERBI segmentation (hard E-step) of every
  *    word under integer piece costs — `cost(s) = floor_log2(T·2^20
  *    div cnt(s))`, the e54 fixed-point surprisal — then recounts
  *    pieces by usage (M-step). DP ties break by the SMALLEST
  *    last-piece length, pinning ONE segmentation per word per round;
  *  - single-character pieces always survive with count >= 1, so every
  *    word stays segmentable (the unigram fallback).
  *
  * The Viterbi DP itself is ROW-LOCAL: a word is at most [[MaxWordLen]]
  * chars, so after ONE join hands each word its candidate piece costs
  * (as a position-keyed map column), the forward pass, the
  * backpointers, and the backtrack all run inside a single projection
  * with higher-order array functions — no per-position shuffle, no
  * driver loop, constant work per word. The DuckDB oracle replays the
  * same DP relationally (unrolled position CTEs) — different shape,
  * bit-identical results, because every tie-break is pinned.
  *
  * Scale shape (100 TB): one corpus pass builds word frequencies
  * (map-side combined); the candidate frame is |distinct words| ×
  * [[MaxWordLen]] × [[MaxPieceLen]] rows joined against the
  * vocabulary-sized cost table; segmentation is one groupBy(word) to
  * collect the cost map plus the row-local DP; the recount is one
  * piece-keyed aggregation. One checkpoint per EM round. Words longer
  * than [[MaxWordLen]] are REJECTED loudly rather than silently
  * truncated (real pipelines pre-split at tokenizer max length).
  */
object Unigram {

  /** Longest segmentable word (the row-local DP's unroll bound — the
    * oracle unrolls the same count). */
  val MaxWordLen = 16

  /** Longest candidate piece (SentencePiece's max piece length role). */
  val MaxPieceLen = 4

  /** Fixed-point unit for piece surprisal. */
  val Scale: Long = 1L << 20

  /** Cost standing in for "piece absent" — larger than any reachable
    * path sum (16 pieces × cost < 2^40), so absent pieces never win. */
  val Inf: Long = 1L << 50

  /** Corpus word-frequency table `(w, freq)` — whitespace words, the
    * only corpus-sized pass. */
  def wordFreqs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every substring s (1 <= len <= MaxPieceLen) of
    * every word, with count = total corpus occurrences (freq-weighted,
    * every start position). */
  def seedVocab(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("_i"))
      .select(col("w"), col("freq"), col("_i"),
        explode(sequence(lit(1),
          least(lit(MaxPieceLen), length(col("w")) - col("_i") + 1))).as("_k"))
      .select(col("w").substr(col("_i"), col("_k")).as("s"), col("freq"))
      .groupBy("s").agg(sum(col("freq")).as("cnt"))

  /** Integer piece costs from counts: `floor_log2(T·2^20 div cnt)` —
    * lower = more probable. T is the count total (1-row broadcast). */
  def costs(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("_t"))
    vocab.crossJoin(broadcast(tot))
      .select(col("s"),
        (length(bin(expr(s"_t * ${Scale}L div cnt"))) - 1).cast("long")
          .as("cost"))
  }

  /** Viterbi segmentation of every word under the given piece costs:
    * `(w, start, piece)` tiling each word. One join (candidate piece ->
    * cost), one groupBy(w) to collect the position-keyed cost map, then
    * the row-local DP. */
  def viterbiSegments(words: DataFrame, pieceCosts: DataFrame): DataFrame = {
    // candidate pieces: (w, j = end position, k = length, cost)
    val cand = words
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("_j"))
      .select(col("w"), col("_j"),
        explode(sequence(lit(1), least(lit(MaxPieceLen), col("_j")))).as("_k"))
      .withColumn("s", col("w").substr(col("_j") - col("_k") + 1, col("_k")))
      .join(pieceCosts, Seq("s"), "left")
      .select(col("w"), (col("_j") * 8 + col("_k")).as("_jk"),
        coalesce(col("cost"), lit(Inf)).as("_cost"))
    val withMap = cand.groupBy("w")
      .agg(map_from_entries(collect_list(struct(col("_jk"), col("_cost"))))
        .as("_m"))
      .withColumn("_len", length(col("w")).cast("int"))
    // cost of the k-piece ending at position j (Inf when k > j or absent)
    def pc(m: Column, j: Column, k: Int): Column =
      when(j >= k, coalesce(element_at(m, (j * 8 + k).cast("int")), lit(Inf)))
        .otherwise(lit(Inf))
    // forward DP: best(0..len) as a 1-indexed array (best(0) = acc(1) = 0)
    val best = aggregate(
      sequence(lit(1), col("_len")),
      array(lit(0L)),
      (acc, j) => concat(acc, array(
        (1 to MaxPieceLen).map(k =>
          when(j >= k, element_at(acc, j - k + 1) + pc(col("_m"), j, k))
            .otherwise(lit(Inf)))
          .reduce(least(_, _)))))
    val withBest = withMap.withColumn("_best", best)
    // chosen last-piece length at position j: SMALLEST k attaining best(j)
    def kch(b: Column, m: Column, j: Column): Column =
      (1 to MaxPieceLen).foldRight(lit(0)) { (k, rest) =>
        // probe in reverse so the k=1 `when` ends up outermost: the
        // first (smallest-k) match wins
        when(j >= k && element_at(b, j + 1) ===
          element_at(b, j - k + 1) + pc(m, j, k), lit(k)).otherwise(rest)
      }
    // backtrack: walk pos -> pos - k, collecting (start, k) pairs
    val walk = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(col("_len").as("pos"),
        array().cast("array<struct<start:int,k:int>>").as("ps")),
      (st, _) => {
        val k = kch(col("_best"), col("_m"), st.getField("pos"))
        // k = 0 (no piece attains best — impossible while single chars
        // are alive) freezes the walk instead of emitting empty pieces
        when(st.getField("pos") > 0 && k > 0,
          struct((st.getField("pos") - k).as("pos"),
            concat(st.getField("ps"), array(struct(
              (st.getField("pos") - k + 1).as("start"), k.as("k")))).as("ps")))
          .otherwise(struct(lit(0).as("pos"), st.getField("ps").as("ps")))
      })
    withBest
      .withColumn("_p", explode(walk.getField("ps")))
      .select(col("w"), col("_p.start").as("start"),
        col("w").substr(col("_p.start"), col("_p.k")).as("piece"))
  }

  /** Hard-EM training: seed from substrings, then `rounds` Viterbi
    * E-steps + usage recounts. Returns the final usage counts
    * `(s, cnt)` — the learned vocabulary with its unigram mass (plus
    * the always-alive single chars). One checkpoint per round. */
  def train(docs: DataFrame, rounds: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val words = wordFreqs(docs, textCol).localCheckpoint()
    require(words.where(length(col("w")) > MaxWordLen).isEmpty,
      s"words longer than $MaxWordLen are not segmentable by the unrolled DP")
    // overflow headroom for costs(): every round's count total is
    // bounded by the seed substring mass <= MaxPieceLen * sum(freq*len),
    // and `T * Scale` must stay inside a signed long (T < 2^43) — fail
    // loudly instead of letting bin() of a wrapped negative silently
    // flatten the piece costs (the q50 fixed-point discipline)
    // coalesce: sum() is null on an empty corpus (getLong would NPE
    // before the guard); multiply in BigInt so the headroom product
    // cannot itself wrap before the comparison
    val mass = BigInt(words
      .agg(coalesce(sum(col("freq") * length(col("w"))), lit(0L)))
      .head().getLong(0)) * MaxPieceLen
    require(mass * Scale < BigInt(Long.MaxValue),
      s"fixed-point overflow: substring mass $mass * 2^20 exceeds a long; " +
        "shrink Scale or shard the corpus")
    val chars = words
      .select(explode(sequence(lit(1), length(col("w")))).as("_i"), col("w"))
      .select(col("w").substr(col("_i"), lit(1)).as("s"))
      .distinct().localCheckpoint()
    val vocab = graft.plans.Supersteps.rounds(seedVocab(words), rounds,
        graft.plans.Supersteps.Bounded) { (vocab, _) =>
      // alias the segment side: its `w` attribute IS words' (the DP
      // starts from the words frame), so a bare-name join would be an
      // ambiguous self-join
      val usage = viterbiSegments(words, costs(vocab))
        .select(col("w").as("_uw"), col("piece"))
        .join(words, col("_uw") === col("w"))
        .groupBy(col("piece").as("s")).agg(sum(col("freq")).as("cnt"))
      // single-char fallback stays alive at count >= 1
      usage.join(chars, Seq("s"), "full")
        .select(col("s"), coalesce(col("cnt"), lit(1L)).as("cnt"))
    }
    graft.plans.Supersteps.release(chars) // loop-only input, now consumed
    vocab
  }
}
