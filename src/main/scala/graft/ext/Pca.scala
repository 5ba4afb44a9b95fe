package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal-component analysis over an embedding corpus, in the
  * repo's exactness toolkit: quantize once, accumulate an EXACT
  * integer Gram matrix in a single distributed pass, run the power
  * iteration in fixed point on the driver (the matrix is d×d — 64×64
  * here — so the iteration is microscopic next to the data pass), and
  * project every vector onto the learned direction with an exact
  * integer dot product.
  *
  * Why a pipeline wants this: the dominant direction of an embedding
  * corpus is the cheapest global structure there is — it gives a
  * 1-D ordering for diversity-aware sharding (range-partition the
  * corpus along PC1 so a shard spans the semantic spread), a
  * drift axis to monitor between crawl snapshots, and the first step
  * of whitening before cosine-based dedup (SemDeDup-style pipelines
  * whiten before clustering; all-MiniLM-family embeddings are known
  * to carry a dominant "common direction" that swamps cosine scores).
  *
  * Exactness contract (the e89/e90/e91 discipline — both engines walk
  * the same integer sequence, so the oracle compare is a hash match,
  * not a tolerance):
  *   - quantize: q_d = floor(x_d · 4096) — float→double is exact, the
  *     double product is correctly rounded IEEE in both engines, and
  *     floor can only disagree across engines if the product sits
  *     exactly on an integer the two round differently — impossible,
  *     same operation, same bits.
  *   - Gram pass: n, s_i = Σ q_i, G_ij = Σ q_i·q_j are integer sums
  *     (order-free). Scaled covariance C = n·G − s·sᵀ, exact.
  *   - power iteration (`Iters` rounds, v₀ = 2²⁰·𝟙): u = C·v in
  *     BigInt; v' = (u · 2²⁰) quot max(|u|)∨1 — infinity-norm
  *     normalization instead of L2, so NO square root and no Σu²
  *     (which would overflow even HUGEINT at this scale); BigInt
  *     `/` truncates toward zero exactly like DuckDB's integer `//`
  *     (verified: (−7)//2 = −3 in both).
  *   - sign canon: flip v so its largest-|·| component (smallest dim
  *     index on ties) is positive — power iteration's sign is
  *     otherwise arbitrary.
  *   - projection: pc1_fp = Σ_d q_d·v_d, |q|≤2¹², |v|≤2²⁰, 64 terms
  *     → ≤2³⁸, a plain long.
  *
  * Scale shape (100 TB): the Gram pass is ONE `mapPartitions` over
  * the quantized vectors producing a single 2144-long partial row per
  * partition (count + 64 sums + 2080 upper-triangle products) — the
  * treeAggregate shape, no shuffle at all, map-side-combined by
  * construction; the collect is bounded by the partition count, never
  * the corpus. Per-partition partials are longs: |q_i·q_j| ≤ 2²⁴, so
  * a partition would need >2³⁸ ≈ 3·10¹¹ rows to overflow — far past
  * any sane partition size; the cross-partition reduce happens in
  * BigInt on the driver, so corpus size n never overflows anything.
  * The projection is a stateless per-row map (broadcast 64-long
  * literal). `mapPartitions` is justified here exactly like the
  * blocked-GEMM kernel ([[Similarity.embeddingNearDupPairsFast]]):
  * the 2080-term per-row update is a tight primitive loop no
  * expressible plan matches, and the aggregation state is a fixed
  * array, not row machinery.
  */
object Pca {

  /** Quantization scale: floor(x · 2¹²). */
  val QScale = 4096

  /** Fixed-point scale of the iterated direction vector (2²⁰). */
  val VScale: Long = 1L << 20

  /** Power-iteration rounds. Exactness never depends on this (both
    * engines iterate identically); 16 rounds converge the dominant
    * direction to well past the fixture's spectral-gap needs
    * (PcaSpec pins cosine ≥ 0.999 against a double-precision
    * reference run). */
  val Iters = 16

  /** The exact quantization as a column: q_d = floor(x_d · 2¹²). */
  def quantizeCol(embedding: Column): Column =
    transform(embedding, x => floor(x.cast("double") * lit(QScale.toDouble)))

  /** The exact integer PC1 projection of an embedding column under a
    * frozen direction — [[pc1Scores]]' row-local core: the direction
    * rides as a literal array. */
  def pc1Col(embedding: Column, direction: Array[Long]): Column = {
    val vLit = array(direction.map(x => lit(x)): _*)
    aggregate(zip_with(quantizeCol(embedding), vLit, (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
  }

  /** `(vec_id, q: array<long>)` — the exact quantized view. */
  def quantize(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), quantizeCol(col("embedding")).as("q"))

  /** One distributed pass: exact `(n, s[d], G[d][d])` Gram sums.
    * G is returned full/symmetric (mirrored from the upper-triangle
    * accumulation) because the iteration and the oracle both index it
    * densely. */
  def gramPass(embeddings: DataFrame, dims: Int = 64): (Long, Array[BigInt], Array[Array[BigInt]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val nUpper = dims * (dims + 1) / 2
    val partials = quantize(embeddings)
      .select(col("q")).as[Array[Long]]
      .rdd.mapPartitions { it =>
        var cnt = 0L
        val s = new Array[Long](dims)
        val g = new Array[Long](nUpper)
        while (it.hasNext) {
          val q = it.next()
          cnt += 1
          var i = 0
          var k = 0
          while (i < dims) {
            val qi = q(i)
            s(i) += qi
            var j = i
            while (j < dims) { g(k) += qi * q(j); j += 1; k += 1 }
            i += 1
          }
        }
        Iterator.single((cnt, s, g))
      }.collect()

    val n = partials.map(_._1).sum
    val s = Array.fill(dims)(BigInt(0))
    val gU = Array.fill(nUpper)(BigInt(0))
    partials.foreach { case (_, ps, pg) =>
      var i = 0
      while (i < dims) { s(i) += ps(i); i += 1 }
      var k = 0
      while (k < nUpper) { gU(k) += pg(k); k += 1 }
    }
    val g = Array.ofDim[BigInt](dims, dims)
    var i = 0
    var k = 0
    while (i < dims) {
      var j = i
      while (j < dims) { g(i)(j) = gU(k); g(j)(i) = gU(k); j += 1; k += 1 }
      i += 1
    }
    (n, s, g)
  }

  /** Signed Gram-state merge — the PCA axis joining the incremental
    * seam (e114): the Gram state is PURE integer sums (n, s_i, G_ij),
    * so a corpus delta folds in exactly — subtract the removed rows'
    * own Gram pass, add the added rows' — and the maintained state is
    * bit-identical to a full pass over the new corpus (BigInt, no
    * rounding anywhere). The delta passes run over delta-sized frames
    * only; the merge is driver-side over the fixed 2144-long state.
    * Downstream ([[pc1Direction]], projections) consumes the merged
    * state unchanged, so the refreshed axis hash-equals a rebuild. */
  def mergeGram(base: (Long, Array[BigInt], Array[Array[BigInt]]),
      sub: (Long, Array[BigInt], Array[Array[BigInt]]),
      add: (Long, Array[BigInt], Array[Array[BigInt]]))
      : (Long, Array[BigInt], Array[Array[BigInt]]) = {
    val dims = base._2.length
    require(sub._2.length == dims && add._2.length == dims,
      "Gram states must share dimensionality")
    val n = base._1 - sub._1 + add._1
    val s = Array.tabulate(dims)(i => base._2(i) - sub._2(i) + add._2(i))
    val g = Array.tabulate(dims, dims)((i, j) =>
      base._3(i)(j) - sub._3(i)(j) + add._3(i)(j))
    (n, s, g)
  }

  /** Fixed-point power iteration on the scaled covariance
    * C = n·G − s·sᵀ; returns the sign-canonical direction at
    * [[VScale]]. Pure integer driver-side math — microscopic (d×d)
    * and bit-identical to the oracle's unrolled-CTE replay. */
  def pc1Direction(n: Long, s: Array[BigInt], g: Array[Array[BigInt]]): Array[Long] = {
    val dims = s.length
    val nB = BigInt(n)
    iterate(Array.tabulate(dims, dims)((i, j) => nB * g(i)(j) - s(i) * s(j)))
  }

  /** Per-vector projection onto PC1: `(vec_id, pc1_fp)` with
    * pc1_fp = Σ_d q_d·v_d — the 1-D corpus axis, exact. One Gram
    * pass + one stateless projection; nothing pair-shaped. */
  def pc1Scores(embeddings: DataFrame, dims: Int = 64): DataFrame = {
    val (n, s, g) = gramPass(embeddings, dims)
    val v = pc1Direction(n, s, g)
    embeddings.select(col("vec_id"),
      pc1Col(col("embedding"), v).as("pc1_fp"))
  }

  /** The first `k` principal directions via repeated exact-integer
    * deflation: remove each learned direction's spectral mass from the
    * scaled covariance and re-run the same fixed-point power iteration.
    * With λ = vᵀCv / vᵀv (the Rayleigh eigenvalue), the deflated
    * matrix is C − λ·vvᵀ/(vᵀv); multiplied through by the positive
    * vᵀv, with λ truncated ONCE to an integer and the result rescaled
    * back by vᵀv (both engines truncate identically — BigInt quot ==
    * DuckDB `//`), each deflation step is
    *
    *   D_ij = (C_ij·(vᵀv) − (vᵀCv quot vᵀv)·v_i·v_j) quot (vᵀv)
    *
    * — every term exact, the two truncations perturbing D by O(1) per
    * entry (≈2⁻⁴⁰ relative), far below any spectral gap that makes the
    * next component meaningful. The trailing `quot vᵀv` rescale keeps
    * the entry magnitude FLAT across deflations (C's own ledger), so
    * the oracle's HUGEINT (2¹²⁶) replay survives ANY k — without it
    * the ledger would grow by vᵀv ≈ 2⁴⁶ per component and overflow at
    * the third. Each learned v is the FIXED-POINT direction, so a
    * residual of its mass survives deflation at O(ε·λ); power
    * iteration converges to the next component whenever that residual
    * sits below the next eigenvalue — true for any gap the 2²⁰ scale
    * can express (PcaSpec pins all axes against a double-precision
    * reference and pins pairwise near-orthogonality). The ENGINE side
    * is BigInt, unbounded at any corpus size. */
  def pcaDirections(n: Long, s: Array[BigInt], g: Array[Array[BigInt]],
      k: Int): Seq[Array[Long]] = {
    val dims = s.length
    require(k >= 1 && k <= dims, s"need 1 <= k <= $dims, got $k")
    val nB = BigInt(n)
    var c = Array.tabulate(dims, dims)((i, j) => nB * g(i)(j) - s(i) * s(j))
    val out = Seq.newBuilder[Array[Long]]
    var t = 0
    while (t < k) {
      val vL = iterate(c)
      out += vL
      if (t < k - 1) {
        val v = vL.map(BigInt(_))
        val vv = v.map(x => x * x).sum.max(BigInt(1))
        val cc = c
        val vCv = (for (i <- 0 until dims; j <- 0 until dims)
          yield v(i) * cc(i)(j) * v(j)).sum
        val lam = vCv / vv
        c = Array.tabulate(dims, dims)((i, j) =>
          (cc(i)(j) * vv - lam * v(i) * v(j)) / vv)
      }
      t += 1
    }
    out.result()
  }

  /** The shared canonical-sign power iteration over an integer matrix
    * (PC1 runs it on C, PC2 on the deflated D). */
  private def iterate(c: Array[Array[BigInt]]): Array[Long] = {
    val dims = c.length
    var v = Array.fill(dims)(BigInt(VScale))
    var t = 0
    while (t < Iters) {
      val u = Array.tabulate(dims) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dims) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      val m = u.map(_.abs).max.max(BigInt(1))
      v = u.map(x => (x * VScale) / m) // BigInt quot == DuckDB integer //
      t += 1
    }
    val mAbs = v.map(_.abs).max
    val dStar = v.indexWhere(_.abs == mAbs)
    val canon = if (v(dStar).signum < 0) v.map(-_) else v
    canon.map(_.toLong)
  }

  /** The k-D corpus map `(vec_id, pc1_fp … pck_fp)` — the cheap global
    * coordinates for stratified sharding and drift dashboards (the
    * sharding consumer wants 2–4 axes): ONE Gram pass, k driver-side
    * 64×64 iterations (corpus-invisible), one stateless projection
    * carrying all k directions as literals. */
  def pcaMap(embeddings: DataFrame, k: Int = 2, dims: Int = 64): DataFrame = {
    val (n, s, g) = gramPass(embeddings, dims)
    val dirs = pcaDirections(n, s, g, k)
    val cols = col("vec_id") +: dirs.zipWithIndex.map { case (v, i) =>
      pc1Col(col("embedding"), v).as(s"pc${i + 1}_fp")
    }
    embeddings.select(cols: _*)
  }

  /** The drift dashboard the axis exists for: per (group, half) mean
    * position along the FROZEN PC1 — train the direction once on the
    * whole corpus, project both snapshot halves onto it, and a group
    * whose mean moves between halves is drifting along the corpus's
    * own dominant semantic direction (the first number a crawl-over-
    * crawl monitor wants, and the 1-D version of embedding-drift
    * detection). `groups` maps `vec_id` to a `source` column; `half`
    * is any deterministic snapshot split expression. Mean is exact:
    * the pc1 sum widens to DECIMAL(38,0) before the ·1000 milli scale
    * (|pc1_fp| ≤ 2³⁸ ⇒ a long sum would cap groups at ~2²⁴ vectors —
    * the doremi lesson), and the possibly-negative numerator
    * truncates toward zero in both engines. One projection + one
    * group aggregate; nothing pair-shaped. Output:
    * `(source, half, n_vecs, mean_pc1_milli)`. */
  def axisDrift(embeddings: DataFrame, groups: DataFrame, half: Column,
      dims: Int = 64): DataFrame = {
    val (n, s, g) = gramPass(embeddings, dims)
    val v = pc1Direction(n, s, g)
    embeddings.select(col("vec_id"), pc1Col(col("embedding"), v).as("_p"))
      .join(groups, "vec_id")
      .withColumn("half", half.cast("long"))
      .groupBy(col("source"), col("half"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("_p").cast("decimal(38,0)")).as("_sp"))
      .withColumn("mean_pc1_milli",
        expr("CAST((_sp * 1000) div n_vecs AS BIGINT)"))
      .select(col("source"), col("half"), col("n_vecs"), col("mean_pc1_milli"))
  }

  /** Common-direction removal (the whitening step SemDeDup-style
    * pipelines run before cosine clustering, and the classic
    * all-but-the-top post-processing for embedding quality): project
    * out the frozen PC1 from every vector, in EXACT integers by
    * scaling instead of dividing —
    *
    *   w = q·(vᵀv) − (qᵀv)·v
    *
    * is the orthogonal rejection times the positive scalar vᵀv, and
    * cosine is scale-invariant, so downstream similarity sees exactly
    * the rejected direction with no truncation anywhere. The algebra
    * gives an EXACT law: w·v = (qᵀv)(vᵀv) − (qᵀv)(vᵀv) = 0, integer
    * zero, pinned by PcaSpec and the e105 oracle's own residual
    * column. Magnitudes: |q|≤2¹², vᵀv ≤ 64·2⁴⁰ ≈ 2⁴⁶, so |w| ≤ 2⁵⁹ —
    * a plain long. Row-local projection (the direction and vᵀv ride
    * as literals); output LONG FORM `(vec_id, d, w_fp)` so the oracle
    * hashes scalars, not arrays. */
  def removePc1(embeddings: DataFrame, direction: Array[Long]): DataFrame = {
    val vv = direction.map(x => BigInt(x) * BigInt(x)).sum
    require(vv.isValidLong, "direction norm overflows a long")
    val vLit = array(direction.map(x => lit(x)): _*)
    embeddings
      .select(col("vec_id"), quantizeCol(col("embedding")).as("_q"),
        pc1Col(col("embedding"), direction).as("_qv"))
      .select(col("vec_id"), posexplode(
        zip_with(col("_q"), vLit,
          (q, v) => q * lit(vv.toLong) - col("_qv") * v)))
      .select(col("vec_id"), col("pos").cast("long").as("d"),
        col("col").as("w_fp"))
  }

  /** [[removePc1]] in WIDE form, ready to FEED a cosine consumer:
    * `(vec_id, embedding: array<double>)` with the SAME exact integer
    * w = q·(vᵀv) − (qᵀv)·v per dimension, cast ONCE to double. The
    * cast is lossy above 2⁵³ (|w| ≤ 2⁵⁹ here) but IDENTICAL in both
    * engines — the same integer rounds to the same IEEE double — so
    * downstream similarity arithmetic stays replay-exact; cosine is
    * scale-invariant, so the uncancelled vᵀv factor is inert. This is
    * the whiten→dedup seam (e109): SemDeDup-style pipelines remove the
    * common direction BEFORE clustering, because the dominant
    * direction of an embedding corpus swamps raw cosine scores. */
  def whiten(embeddings: DataFrame, direction: Array[Long]): DataFrame = {
    val vv = direction.map(x => BigInt(x) * BigInt(x)).sum
    require(vv.isValidLong, "direction norm overflows a long")
    val vLit = array(direction.map(x => lit(x)): _*)
    embeddings
      .select(col("vec_id"), quantizeCol(col("embedding")).as("_q"),
        pc1Col(col("embedding"), direction).as("_qv"))
      .select(col("vec_id"),
        zip_with(col("_q"), vLit,
          (q, v) => (q * lit(vv.toLong) - col("_qv") * v).cast("double"))
          .as("embedding"))
  }
}
