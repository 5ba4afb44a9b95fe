package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine WORD-VECTOR TRAINING over the co-occurrence statistics the
  * corpus generators (e67–e70) already produce — the capstone of the
  * embedding family: GloVe-style weighted-least-squares factorization
  * (Pennington et al. 2014) of the log co-occurrence matrix,
  * `w_i · c_j ≈ log2 X_ij`, by full-batch gradient descent in EXACT
  * fixed-point integer arithmetic.
  *
  * Determinism contract (the [[Classify.perceptronTrain]] discipline
  * applied to factorization): every quantity is a `long` at scale
  * `2^Shift`; every scale division is an ARITHMETIC RIGHT SHIFT —
  * `shiftright` in Spark, `>>` in DuckDB, both floor toward -inf on
  * negatives (verified; integer `div`/`//` would disagree on rounding
  * direction between engines) — so the whole training run is
  * bit-identical under any partitioning and replays as chained DuckDB
  * CTEs. Initial vectors are md5-derived (`(md5(side:t:k) mod 8191 -
  * 4095) * 16`, i.e. ±2^16 ≈ ±1/16 at scale), the [[Sampling]] hash
  * discipline applied to initialization. Deviations from the paper,
  * stated: uniform loss weights (the distance discount is already in
  * `weight_fp`), no bias terms, and the target is floor-log2 (the e52
  * `bin()`-length fixed-point log) rather than natural log — same
  * factorization structure, exactly replayable arithmetic.
  *
  * Scale shape (100 TB corpus, |V| up to 10⁹): state is `(side, t, k,
  * v)` — 2·|V|·dims rows, never collected, never broadcast. Each round
  * is three token-keyed equi-join + aggregate passes over `pairs × dims`
  * rows (score, then one gradient pass per side), all map-side
  * combined; loop state crosses rounds through [[graft.plans.Supersteps.cut]]
  * (one action per round, linear lineage). Nothing in the loop sorts
  * globally or broadcasts model state.
  *
  * Overflow safety is ENFORCED, not hoped for (the round-11 8x tier
  * caught the hoped-for version overflowing: a high-degree token's
  * residual grew round over round until `e * c` left the long range):
  * residuals clamp to ±2^26 ([[EClamp]]), state values clamp to
  * ±(2^24-1) ([[VCap]]) on every update, gradient sums accumulate in
  * DECIMAL(38,0) (per-product <= 2^50 fits a long; the DEGREE-sized
  * sum does not have to), and the summed gradient clamps to ±2^51
  * ([[GClamp]]) before the long cast + shift. Every clamp is a
  * deterministic greatest/least the oracle replays verbatim
  * (GREATEST/LEAST over DuckDB's HUGEINT sum), so bit-exactness is
  * unchanged — and at fixture scale none of the clamps bind, so
  * fixture results are identical to the unclamped arithmetic. A
  * clamped run is saturation, not divergence: rails at the value cap
  * mean the learning rate is too high for the degree distribution —
  * production would subsample/cap frequent tokens upstream (standard
  * word2vec practice), which also bounds the degree term.
  */
object Glove {

  /** Fixed-point scale exponent: values are longs at scale 2^20. */
  val Shift = 20

  /** Residual clamp: ±2^26 (healthy residuals sit near the ~2^24-scale
    * targets, so this only binds on divergence). */
  val EClamp = 1L << 26

  /** State value cap: ±(2^24 - 1) — the documented bound, enforced.
    * Keeps every dot/gradient per-product under 2^50. */
  val VCap = (1L << 24) - 1

  /** Summed-gradient clamp before the long cast: any |g| >= 2^51 rails
    * the update far past [[VCap]] anyway, so clamping first loses
    * nothing and makes the decimal -> long cast safe. */
  val GClamp = 1L << 51

  /** Targets from a [[Text.cooccurrence]] frame: `(i, j, tgt)` with
    * `tgt = (floor(log2(weight_fp)) - Shift) << Shift` — the
    * fixed-point log2 of the (distance-discounted) co-occurrence
    * count. Row-local. */
  def logTargets(cooc: DataFrame, centerCol: String = "center",
      contextCol: String = "context",
      weightCol: String = "weight_fp"): DataFrame =
    cooc.select(col(centerCol).as("i"), col(contextCol).as("j"),
      ((length(bin(col(weightCol))) - lit(1) - lit(Shift)).cast("long")
        * lit(1L << Shift)).as("tgt"))

  /** Deterministic md5 initial state over `vocab` (single column `t`):
    * `(side, t, k, v)` for side ∈ {w, c}, k ∈ [0, dims). */
  def initVectors(vocab: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    vocab.select(col("t"), explode(array(lit("w"), lit("c"))).as("side"))
      .select(col("side"), col("t"),
        explode(sequence(lit(0L), lit((dims - 1).toLong))).as("k"))
      .withColumn("v",
        (conv(substring(md5(concat_ws(":", col("side"), col("t"), col("k"))),
          1, 15), 16, 10).cast("long") % 8191L - 4095L) * 16L)
  }

  /** Per-pair residuals under `state`: `(i, j, e)` with
    * `e = (Σ_k w_ik·c_jk >> Shift) - tgt_ij`. */
  private def residuals(pairs: DataFrame, state: DataFrame): DataFrame = {
    val wv = state.where(col("side") === "w")
      .select(col("t").as("i"), col("k"), col("v").as("_wv"))
    val cv = state.where(col("side") === "c")
      .select(col("t").as("j"), col("k"), col("v").as("_cv"))
    pairs.join(wv, Seq("i")).join(cv, Seq("j", "k"))
      .groupBy("i", "j", "tgt")
      .agg(sum(col("_wv") * col("_cv")).as("_dot"))
      .select(col("i"), col("j"),
        greatest(least(shiftright(col("_dot"), Shift) - col("tgt"),
          lit(EClamp)), lit(-EClamp)).as("e"))
  }

  /** Every state of a training run: element r is the state after r
    * rounds (element 0 = the md5 init), each superstep-cut. The loop
    * update is `v -= (Σ e·other) >> (Shift + etaShift)` — the gradient
    * scale division and the 2^-etaShift learning rate folded into ONE
    * floor shift. */
  def trainStates(cooc: DataFrame, dims: Int = 4, rounds: Int = 3,
      etaShift: Int = 6): Seq[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(etaShift >= 0, s"etaShift must be >= 0, got $etaShift")
    val pairs = logTargets(cooc).localCheckpoint()
    val vocab = pairs.select(col("i").as("t"))
      .unionByName(pairs.select(col("j").as("t"))).distinct()
    // the history face returns every round's state: none is released
    val out = Seq.newBuilder[DataFrame]
    val last = graft.plans.Supersteps.rounds(
        graft.plans.Supersteps.cut(initVectors(vocab, dims)), rounds,
        graft.plans.Supersteps.Bounded, keepStates = true) { (state, _) =>
      out += state
      val err = residuals(pairs, state)
      val wv = state.where(col("side") === "w")
        .select(col("t").as("i"), col("k"), col("v").as("_wv"))
      val cv = state.where(col("side") === "c")
        .select(col("t").as("j"), col("k"), col("v").as("_cv"))
      // per-product <= 2^50 (clamped e x capped v) fits a long; the
      // DEGREE-sized sum accumulates in DECIMAL(38,0), then clamps to
      // ±GClamp for a safe long cast (scaladoc overflow contract)
      def gsum(other: Column) = sum((col("e") * other).cast("decimal(38,0)"))
      val gw = err.join(cv, Seq("j"))
        .groupBy(col("i"), col("k"))
        .agg(gsum(col("_cv")).as("_g"))
        .select(lit("w").as("side"), col("i").as("t"), col("k"), col("_g"))
      val gc = err.join(wv, Seq("i"))
        .groupBy(col("j"), col("k"))
        .agg(gsum(col("_wv")).as("_g"))
        .select(lit("c").as("side"), col("j").as("t"), col("k"), col("_g"))
      val step = shiftright(
        greatest(least(coalesce(col("_g"), lit(0L)), lit(GClamp)),
          lit(-GClamp)).cast("long"),
        Shift + etaShift)
      state.join(gw.unionByName(gc), Seq("side", "t", "k"), "left")
        .select(col("side"), col("t"), col("k"),
          greatest(least(col("v") - step, lit(VCap)), lit(-VCap)).as("v"))
    }
    (out += last).result()
  }

  /** Final trained vectors `(side, t, k, v)`. */
  def train(cooc: DataFrame, dims: Int = 4, rounds: Int = 3,
      etaShift: Int = 6): DataFrame =
    trainStates(cooc, dims, rounds, etaShift).last

  /** Fixed-point squared-error loss `Σ e²` of `state` against the
    * co-occurrence targets — the GloveSpec descent law's measurement.
    * One bounded action (a single-row aggregate). */
  def loss(cooc: DataFrame, state: DataFrame): Long =
    residuals(logTargets(cooc), state)
      .agg(coalesce(sum(col("e") * col("e")), lit(0L)).as("l"))
      .head().getLong(0)
}
