package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosineSimilarity, dotProduct}
import graft.operators.Skew

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the full candidate table, ranked per query. Scale path:
  * random-hyperplane LSH bucketing, which prunes the candidate set to
  * same-bucket rows before exact scoring (the IVF/LSH pattern). Both
  * compute the score with built-in higher-order functions
  * ([[graft.functions.cosineSimilarity]]) — whole-stage codegen, no UDF.
  *
  * Scale notes (100 TB): brute force is O(|Q|·|C|) but embarrassingly
  * parallel when the query side broadcasts; the window rank per query is
  * a shuffle on query_id. At cluster scale, replace the window with a
  * bounded top-k via per-partition heaps (TypedImperativeAggregate) —
  * noted in SURVEY.md §7.3; for |Q| small the window is already the
  * right plan because each query's candidate list fits a partition.
  */
object Similarity {

  /** Exact brute-force cosine top-k.
    * Similarity is rounded to 9 decimals before ranking so ordering (and
    * the oracle compare) is robust to sub-ULP accumulation differences;
    * ties break on candidate id. Self-matches are excluded.
    * Output: (query_id, neighbor_id, sim). */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = embeddings
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cands = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val sim = round(cosineSimilarity(col("qv"), col("cv")), 9).as("sim")
    val scored = cands.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), sim)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** [[bruteForceTopK]] with the bounded-heap [[TopKAggregator]] instead
    * of a window rank: identical output (same score, same tie-break),
    * but only k candidates per partition per query cross the shuffle —
    * the plan that survives a 100 TB candidate side. */
  def bruteForceTopKAgg(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = embeddings
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cands = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val sim = round(cosineSimilarity(col("qv"), col("cv")), 9).as("sim")
    val scored = cands.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), sim)
    scored.groupBy("query_id")
      .agg(TopKAggregator.asColumn(k, col("sim"), col("neighbor_id")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("s"))
      .select(col("query_id"), col("s.neighbor_id").as("neighbor_id"), col("s.sim").as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    * cosine >= threshold — the embedding leg of the dedup family
    * (alongside MinHash/SimHash in [[Dedup]]). Exact O(n^2) form for
    * oracle checking; at corpus scale, generate candidates with
    * [[lshBuckets]] band equality first and verify only those (the e17
    * composition), accepting the measured recall. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    // Hoist each vector's norm to a column computed ONCE (n folds), so
    // the per-pair work is a single dot fold — the arithmetic
    // dot / (sqrt(na) * sqrt(nb)) is expression-identical to
    // cosineSimilarity, keeping oracle parity bitwise. Higher-order
    // array functions are interpreted (not codegen'd), so per-pair folds
    // dominate this operator: 3 folds/pair -> 1 fold/pair is 3x.
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double"))).as("nrm"))
    val a = withNorm.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    val sim = round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("sim")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sim)
      .where(col("sim") >= threshold)
  }

  /** [[embeddingNearDupPairs]] as a broadcast kernel: identical output
    * (same fold order, same HALF_UP rounding — proved pair-for-pair in
    * SimilaritySpec and by the e20 oracle), ~5x faster. The generic join
    * form pays per-pair row assembly (copying both 64-float arrays into
    * every joined row before scoring); all-pairs similarity wants the
    * classic blocked-GEMM shape instead — broadcast the corpus once,
    * stream left rows, tight primitive loop per pair, emit only
    * above-threshold pairs. This is the one operator where
    * `mapPartitions` beats any expressible plan: the "join" output is
    * quadratic but the survivors are sparse, so no row machinery should
    * run per candidate pair.
    *
    * Scale: BLOCKED broadcast — the corpus is never collected whole.
    * Vectors are split into `ceil(n / maxBlockRows)` id-modulo blocks;
    * each pass collects+broadcasts ONE block (driver memory bounded by
    * `maxBlockRows`, ~300 MB at the default for 64-float vectors) and
    * streams the full corpus against it distributively. A pair (a, b),
    * a < b, is emitted exactly once: in the pass owning b's block, from
    * the left row a. Per-pass inner loops start at the first block id
    * > a (binary search), so total pair work across passes is n^2/2 —
    * the classic blocked-GEMM outer loop, corpus scans x numBlocks but
    * quadratic work unchanged. One block on the fixture corpus, so
    * local perf is identical to the single-broadcast form. */
  def embeddingNearDupPairsFast(embeddings: DataFrame, threshold: Double,
      maxBlockRows: Int = 1 << 20): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val src = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val n = src.count()
    val numBlocks = math.max(1, math.ceil(n.toDouble / maxBlockRows).toInt)
    val passes = (0 until numBlocks).map { blk =>
      // One block only — bounded by maxBlockRows, NOT the corpus.
      val block = src
        .where(pmod(col("vec_id"), lit(numBlocks.toLong)) === blk.toLong)
        .collect().sortBy(_._1)
      val blockIds = block.map(_._1)
      val blockVecs = block.map(_._2)
      val blockNorms = blockVecs.map { v =>
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(acc)
      }
      val bc = spark.sparkContext.broadcast((blockIds, blockVecs, blockNorms))
      src.repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val (ids, vecs, norms) = bc.value
          val m = ids.length
          it.flatMap { case (aId, va) =>
            var nacc = 0.0; var i = 0
            while (i < va.length) { nacc += va(i).toDouble * va(i).toDouble; i += 1 }
            val na = math.sqrt(nacc)
            // First block entry with id > aId (block is id-sorted).
            var lo = 0; var hi = m
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ids(mid) <= aId) lo = mid + 1 else hi = mid
            }
            (lo until m).iterator.flatMap { j =>
              val vb = vecs(j)
              var dot = 0.0
              var d = 0
              while (d < va.length) { dot += va(d).toDouble * vb(d).toDouble; d += 1 }
              // Spark Round semantics for doubles: HALF_UP at scale 9
              val sim = BigDecimal(dot / (na * norms(j)))
                .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
              if (sim >= threshold) Some((aId, ids(j), sim)) else None
            }
          }
        }
    }
    passes.reduce(_ union _).toDF("id_a", "id_b", "sim")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into cells keyed by nearest centroid; a query scores exactly only
    * the vectors in its `nprobe` nearest cells. This is the IVF-Flat
    * construction (Sivic/Zisserman "Video Google" inverted files; the
    * FAISS IVF family) with deterministic centroid picks so every stage
    * has a SQL oracle twin — swap in k-means centroids at corpus scale,
    * the dataflow is unchanged.
    *
    * Scale shape: assignment is a broadcast of k centroids against the
    * corpus followed by ONE map-side-combinable argmax agg (`max` of a
    * (sim, -centroid) struct — no per-vector window shuffle); the probe
    * join shuffles only cell keys; exact scoring touches
    * ~`nprobe/k` of the corpus per query.
    */
  def ivfTopK(embeddings: DataFrame, centroidIds: Seq[Long], queryIds: Seq[Long],
      k: Int, nprobe: Int = 2): DataFrame =
    ivfTopKWith(embeddings,
      embeddings.where(col("vec_id").isin(centroidIds: _*))
        .select(col("vec_id").as("cid"), col("embedding").as("cv")),
      queryIds, k, nprobe)

  /** [[ivfTopK]] with an explicit centroid frame `(cid, cv)` — e.g. one
    * trained by [[trainCentroids]]. */
  def ivfTopKWith(embeddings: DataFrame, centroids: DataFrame, queryIds: Seq[Long],
      k: Int, nprobe: Int = 2): DataFrame = {
    // Cell assignment: argmax centroid by (rounded sim desc, cid asc) —
    // the row-local literal form (bestCellStruct; value-identical to the
    // former broadcast-join + max(struct) agg, zero shuffle).
    val grid = collectCentroidGrid(centroids)
    require(grid._1.nonEmpty, "ivfTopKWith needs a non-empty centroid frame")
    val best = bestCellStruct(col("embedding"), grid)
    val assigned = embeddings
      .select(col("vec_id"), (-best.getField("ncid")).as("cell"),
        col("embedding").as("cv2"))
    val queries = assigned.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("cv2").as("qv"))
    // The (tiny) query-side probe join reads the centroids back from the
    // collected grid instead of re-executing the centroid plan (double
    // upcasts of float centroids are exact, so the probe-side cosine
    // arithmetic is value-identical).
    val cenLocal = {
      val sp = embeddings.sparkSession
      import sp.implicits._
      grid._1.zip(grid._2).toSeq.toDF("cid", "cv")
    }
    // Probe list: each query's nprobe nearest centroids (the query's own
    // cell is its rank-1 probe by construction).
    val qsim = round(cosineSimilarity(col("qv"), col("cv")), 9).as("psim")
    val probeW = Window.partitionBy("query_id").orderBy(desc("psim"), asc("cid"))
    val probes = queries.join(broadcast(cenLocal))
      .select(col("query_id"), col("qv"), col("cid"), qsim)
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))
    // Exact scoring inside probed cells only.
    val sim = round(cosineSimilarity(col("qv"), col("cv2")), 9).as("sim")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), sim)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** The model frame as a DRIVER-LOCAL relation: collect (bounded —
    * model frames are k × dims by contract) and rebuild on the collected
    * rows. Downstream consumers read an in-memory leaf instead of
    * re-running the producing plan; [[centroidLits]] over the result is
    * free (no job). The k-means/PQ twin of the vocab-sized frozen-model
    * collects the scoreboard harnesses already use. */
  private def materializeLocal(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The centroid frame collected into a driver-side (cids, matrix)
    * grid, sorted by cid, so the batch assign/train paths score against
    * driver-side constants instead of a joined centroid frame. Float
    * elements upcast to double EXACTLY (the same per-element upcast the
    * joined dot-product fold performed), so downstream arithmetic is
    * bit-identical. */
  private def collectCentroidGrid(cen: DataFrame)
      : (Array[Long], Array[Array[Double]]) = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val elem = cen.schema("cv").dataType.asInstanceOf[ArrayType].elementType
    val rows = cen.select(col("cid").cast("bigint"), col("cv")).collect().map { r =>
      val cv = elem match {
        case FloatType  => r.getSeq[Float](1).map(_.toDouble).toArray
        case DoubleType => r.getSeq[Double](1).toArray
        case t => throw new IllegalArgumentException(
          s"centroid cv element type $t (need float or double)")
      }
      (r.getLong(0), cv)
    }.sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** ROW-LOCAL argmax cell assignment: per row, max of
    * `struct(round(cos(emb, cv_i), 9), -cid_i)` over the k collected
    * centroids — value-identical to the broadcast-join + map-side-argmax
    * agg it replaces (same rounded sim, same smaller-cid tie-break, same
    * null/NaN ordering — [[graft.functions.BestCellExpr]]'s contract),
    * but with ZERO shuffle: the corpus row never leaves its scan
    * partition (guide §2.4 — the per-round/per-assignment corpus
    * exchange was the k-means family's only data-sized shuffle), and
    * generated code whose size is independent of k. */
  private def bestCellStruct(emb: Column,
      grid: (Array[Long], Array[Array[Double]]),
      carryInput: Boolean = false): Column = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    column(graft.functions.BestCellExpr(expression(emb), grid._1, grid._2,
      l2 = false, carryInput = carryInput))
  }

  /** [[bestCellStruct]] routed through a one-element `explode(array(…))`
    * generate barrier: the generator evaluates the carry struct EXACTLY
    * once per row, so downstream references to (sim, ncid, emb) extract
    * fields from a materialized attribute instead of letting the
    * scan-side alias substitution duplicate the assignment — and, worse,
    * a non-cheap embedding expression below it (the e109 whitening) —
    * per reference (measured 2× per training round before the barrier).
    * Output columns: `_sim`, `_ncid`, `_emb` appended to `keep`. */
  private def assignedBarrier(embeddings: DataFrame, keep: Seq[String],
      grid: (Array[Long], Array[Array[Double]])): DataFrame =
    embeddings
      .select(keep.map(col) :+ explode(array(bestCellStruct(col("embedding"),
        grid, carryInput = true))).as("_b"): _*)
      .select(keep.map(col) ++ Seq(
        col("_b").getField("sim").as("_sim"),
        col("_b").getField("ncid").as("_ncid"),
        col("_b").getField("emb").as("_emb")): _*)

  /** K-means (Lloyd's) centroid training for IVF, DataFrame-native:
    * deterministic spread init (every `n/k`-th id — no RNG state, no
    * global sort), then `iters` rounds of [assign to nearest centroid by
    * cosine] -> [element-wise mean per cell]. Assignment is ROW-LOCAL
    * ([[bestCellStruct]] over the round's collected centroid literals —
    * the argmax values are identical to the former broadcast-join +
    * map-side argmax agg, but the round no longer shuffles the corpus);
    * the mean is a posexplode + per-(cell, dim) avg whose partial
    * aggregation shuffles only (cell, dim) keys, never vectors. Each
    * round runs ONE job (the mean collect — k × dims values, the bounded
    * frozen-model class) in place of the former per-round checkpoint. A
    * cell that loses all members drops out (k shrinks), standard for
    * Lloyd's without reseeding. Returns `(cid, cv)` (a driver-local
    * frame) for [[ivfTopKWith]]. Cosine assignment is scale-invariant,
    * so the unnormalized mean is a valid spherical-k-means update. */
  def trainCentroids(embeddings: DataFrame, k: Int, iters: Int = 5,
      roundDecimals: Int = -1): DataFrame = {
    val n = embeddings.count()
    require(k > 0 && n > 0, s"need k > 0 and a non-empty corpus, got k=$k n=$n")
    val stride = math.max(1L, n / k)
    var centroids = materializeLocal(embeddings
      .where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv")))
    for (_ <- 1 to iters) {
      val assigned = assignedBarrier(embeddings, Seq.empty,
        collectCentroidGrid(centroids))
        .select((-col("_ncid")).as("cid"), col("_emb").as("emb"))
      // roundDecimals >= 0 rounds each mean component before the float
      // cast: double summation order varies with partitioning, and the
      // rounding pins every round's centroids to engine-portable values
      // so the whole training run is SQL-oracle-checkable (e32). -1 (the
      // default) keeps full precision.
      def mean(x: Column): Column =
        if (roundDecimals >= 0) round(x, roundDecimals) else x
      centroids = materializeLocal(assigned
        .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), x => mean(x("m")).cast("float")).as("cv")))
    }
    centroids
  }

  /** [[trainCentroids]] over a BOUNDED deterministic sample — the
    * production discipline for a quantizer whose k grows with the
    * corpus (VERDICT r15 task 1): with k ∝ n, a full-corpus pinned
    * Lloyd train is O(n·k·iters) = super-linear, but the centroids
    * only need to SEE the corpus's density, not every row, so train
    * on a [[Sampling.hashSample]]-membership subset (membership is a
    * pure function of vec_id — no seed, no partitioning, no arrival
    * order — which is exactly what keeps the full chain SQL-oracle-
    * replayable, unlike `df.sample`). Train cost drops to
    * O(|sample|·k·iters); the one full-corpus pass left is the
    * broadcast-k ASSIGNMENT the caller runs afterwards ([[semDedupWith]]
    * / [[assignCells]]) — linear, iteration-free. The stride init and
    * every Lloyd round run over the sample's OWN count, so the chain
    * equals [[trainCentroids]] applied verbatim to the sample frame
    * (the SimilaritySpec law). If the sample holds fewer than k rows
    * the init's LIMIT caps k at the sample size — the signal that the
    * schedule has outgrown single-level training and wants the
    * two-level quantizer documented at [[semDedupAuto]]. */
  def trainCentroidsSampled(embeddings: DataFrame, k: Int, iters: Int,
      roundDecimals: Int, trainFraction: Double): DataFrame = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction $trainFraction outside (0, 1]")
    trainCentroids(
      Sampling.hashSample(embeddings, col("vec_id"), trainFraction),
      k, iters, roundDecimals)
  }

  /** [[semDedup]] with the quantizer trained on a bounded hash-sample
    * ([[trainCentroidsSampled]]) and assigned over the FULL corpus —
    * the linear-train production path [[semDedupAuto]] switches to
    * above its corpus-size threshold, exposed directly for an explicit
    * fraction (e123's gate-checked form). */
  def semDedupSampled(embeddings: DataFrame, k: Int, iters: Int,
      threshold: Double, roundDecimals: Int,
      trainFraction: Double): DataFrame =
    semDedupWith(embeddings,
      trainCentroidsSampled(embeddings, k, iters, roundDecimals,
        trainFraction),
      threshold)

  /** SEMANTIC decontamination — the embedding-space face of the
    * decontamination family (exact n-gram e34, Bloom-prefiltered e51,
    * fuzzy-lexical e65): flag every corpus vector whose cosine against
    * ANY benchmark vector reaches `threshold`, catching paraphrased or
    * reformatted test-set leakage that no lexical overlap detector
    * sees. `benchPred` splits one embedding frame into benchmark and
    * corpus sides — a NULL predicate row is CORPUS (it must still be
    * screened; under three-valued logic a bare `!pred` would silently
    * drop it from both sides). Output is the dirty-pair report
    * `(vec_id, bench_id, sim)` — the evidence a removal pass consumes
    * (anti-join the distinct vec_ids to clean, exactly e51's shape).
    *
    * Exact brute force over the benchmark side: benchmarks are SMALL
    * BY DEFINITION (thousands of rows), so the broadcast is bounded
    * and the scan is one pass over the corpus with a per-pair codegen'd
    * dot fold — linear in the corpus at any scale. For a benchmark too
    * large to broadcast, prefilter candidates with shared
    * [[lshBuckets]] bands and verify only those (the e17 discipline),
    * accepting the measured recall. Similarity arithmetic is
    * expression-identical to [[embeddingNearDupPairs]] (hoisted norms,
    * round 9) so the DuckDB replay is bitwise. */
  def semanticDecontaminate(embeddings: DataFrame, benchPred: Column,
      threshold: Double): DataFrame = {
    val isBench = coalesce(benchPred, lit(false))
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double"))).as("nrm"))
    val bench = withNorm.where(isBench)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bv"),
        col("nrm").as("nb"))
    val corpus = withNorm.where(!isBench)
      .select(col("vec_id"), col("embedding").as("cv"), col("nrm").as("nc"))
    val sim = round(dotProduct(col("cv"), col("bv")) / (col("nc") * col("nb")), 9)
    corpus.join(broadcast(bench), sim >= threshold)
      .select(col("vec_id"), col("bench_id"), sim.as("sim"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv 2303.09540):
    * embedding-level dedup that finds near-duplicates by MEANING, where
    * MinHash/SimHash ([[Dedup]]) see only surface n-grams. The paper's
    * construction, unchanged: k-means-cluster the corpus, compare pairs
    * only WITHIN a cluster, and drop one member of every pair above the
    * cosine threshold.
    *
    * Scale shape — this is [[embeddingNearDupPairs]]' scale path: the
    * clustering bounds the quadratic. Assignment is the row-local
    * literal-k argmax ([[bestCellStruct]] — linear, zero shuffle); pair work is
    * sum of per-cell squares, controlled by choosing k ~ n/targetCell
    * (FAISS-style sqrt(n) clusters at web scale); the pair join is an
    * equi-join on the cell key, so AQE's skew split covers an
    * unbalanced cell. Cross-cluster duplicates are missed BY CONTRACT
    * (the paper's recall trade; the oracle replays the same clustering,
    * so parity is exact).
    *
    * Keep policy: the established keep-first discipline
    * ([[Dedup.dropNearDuplicates]]) — a vector is DROPPED iff some
    * same-cell vector with a SMALLER id matches it at >= threshold.
    * Output: the dropped rows `(vec_id, kept_by, sim)` with `kept_by`
    * the smallest such partner (deterministic), ordered by the caller.
    * `roundDecimals` pins the k-means means for oracle portability
    * (e32's discipline; -1 = full precision). */
  /** Literal-k argmax cell assignment shared by [[semDedup]] and
    * [[clusterSample]]: every vector scores the k collected centroid
    * literals row-locally, the winning cell is max(sim rounded to 9,
    * ties to the smaller cid) via ONE [[bestCellStruct]] expression —
    * no join, no shuffle. The rounding and tie-break are LOAD-BEARING
    * for oracle parity — the shared cosKmeansCtes SQL chain replays
    * exactly this expression, so they must change together.
    * `keepVector` additionally carries the embedding (semDedup's pair
    * stage needs it). Output: (vec_id, cell, sim[, emb]). */
  /** The IVF SERVING INDEX artifact: each vector's coarse-quantizer
    * cell `(vec_id, cell)` under an explicit FROZEN centroid frame
    * `(cid, cv)` — the assignment lists an ANN service keeps warm
    * across crawls. Assignment is per-vector and row-local under
    * frozen centroids (one broadcast-k argmax agg, nothing
    * cross-vector), which is exactly what makes delta maintenance
    * ([[graft.ext.Snapshot.refreshIvfAssignments]]) possible — the
    * e112 signature-index upsert applied to the ANN surface. The
    * quantizer itself retrains only when the corpus moves: the
    * documented trigger is the e108 axis-drift alarm
    * ([[graft.ext.Pca]] — a drifted principal axis means the frozen
    * cells no longer partition the data well), at which point a full
    * [[trainCentroids]] + reassignment replaces the index. */
  def ivfAssignments(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(embeddings, centroids, keepVector = false)
      .select(col("vec_id"), col("cell"))

  private def assignCells(embeddings: DataFrame, cen: DataFrame,
      keepVector: Boolean): DataFrame = {
    // Row-local form of the broadcast-k argmax (value-identical — see
    // bestCellStruct): no shuffle, no broadcast build; the centroid
    // grid rides the plan as one collected constant, and the generate
    // barrier guarantees one evaluation per row. An empty centroid
    // frame keeps the former inner-join semantics (empty result, not an
    // error).
    val grid = collectCentroidGrid(cen)
    if (grid._1.isEmpty) {
      val core = Seq(col("vec_id"), lit(0L).as("cell"), lit(0.0).as("sim"))
      return embeddings.where(lit(false)).select(
        (if (keepVector) core :+ col("embedding").as("emb") else core): _*)
    }
    val core = Seq(col("vec_id"), (-col("_ncid")).as("cell"),
      col("_sim").as("sim"))
    assignedBarrier(embeddings, Seq("vec_id"), grid).select(
      (if (keepVector) core :+ col("_emb").as("emb") else core): _*)
  }

  def semDedup(embeddings: DataFrame, k: Int, iters: Int,
      threshold: Double, roundDecimals: Int = -1): DataFrame =
    semDedupWith(embeddings,
      trainCentroids(embeddings, k, iters, roundDecimals), threshold)

  /** [[semDedup]]'s assign+pair stage under an EXPLICIT centroid frame
    * `(cid, cv)` — the seam that lets the quantizer train on a
    * different (smaller) frame than the corpus it partitions
    * ([[semDedupSampled]]), or be reused frozen across runs. */
  def semDedupWith(embeddings: DataFrame, cen: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = assignCells(embeddings, cen, keepVector = true)
      .select(col("vec_id"), col("cell"), col("emb"))
    // Hoisted norms (the e20 lesson: one fold per vector, one per pair).
    // NOT cut/materialized, deliberately: the static plan duplicates
    // this subtree per pair side, but both sides shuffle on the same
    // cell key so the runtime reuses the exchange (measured: a cut
    // here is timing-neutral at sf0.1), and a checkpoint would persist
    // a CORPUS-sized row-format copy — the wrong trade at 100 TB
    // against re-scanning columnar parquet. Contrast deltaWorkLists,
    // whose cut frame is delta-sized.
    val withNorm = assigned.select(col("vec_id"), col("cell"), col("emb"),
      sqrt(aggregate(col("emb"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double"))).as("nrm"))
    val a = withNorm.select(col("cell"), col("vec_id").as("id_a"),
      col("emb").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col("cell"), col("vec_id").as("id_b"),
      col("emb").as("vb"), col("nrm").as("nb"))
    val sim = round(dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 9)
    val pairs = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sim.as("sim"))
      .where(col("sim") >= threshold)
    val w = Window.partitionBy("id_b").orderBy(asc("id_a"))
    pairs.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("id_b").as("vec_id"), col("id_a").as("kept_by"), col("sim"))
  }

  /** [[semDedup]] with the PRODUCTION k-schedule named in code:
    * k = ceil(n / targetCell), derived from ONE corpus count, so the
    * expected cell population stays at `targetCell` as the corpus
    * grows — the FAISS-style discipline the fixed-k scaladoc and the
    * committed 16× probe point at (e47's fixture holds k constant BY
    * DESIGN to keep its oracle replayable, which makes its pair work
    * n²/k — 25.5 s at 8×, ~360 s at 16×; THIS is the path a 100-TB
    * run calls instead). The law `semDedupAuto(targetCell) ==
    * semDedup(derived k)` is pinned by SimilaritySpec (and e117's
    * oracle replays the chain at the derived k); per-cell PAIR work
    * is then O(targetCell²) and total pair work O(n·targetCell) —
    * linear in the corpus at fixed cell size. The TRAIN term: with
    * k ∝ n, a full-corpus pinned-Lloyd train is O(n·k·iters) =
    * O(n²·iters/targetCell) — fine through the fixture tiers
    * (measured 1.49 s at sf0.1, k=40), so below `maxTrainRows` the
    * train runs over the whole corpus (bit-compatible with every
    * committed e117 record); ABOVE it the quantizer trains on a
    * bounded hash-sample of `maxTrainRows` expected rows
    * ([[trainCentroidsSampled]] — membership deterministic, the chain
    * still oracle-replayable, e123's gate entry), making the train
    * term O(maxTrainRows·k·iters) — LINEAR in the corpus since
    * k ∝ n. The one super-linear term left is the full-corpus
    * broadcast-k ASSIGNMENT, O(n·k) in one iteration-free pass; its
    * production escape is a hierarchical (two-level) quantizer —
    * route each vector through √k coarse cells, assign within — the
    * remaining documented beyond-scope seam, with e108's axis drift
    * as the retrain trigger either way. */
  def semDedupAuto(embeddings: DataFrame, targetCell: Int, iters: Int,
      threshold: Double, roundDecimals: Int = -1,
      maxTrainRows: Long = DefaultMaxTrainRows): DataFrame = {
    require(targetCell >= 1, s"need targetCell >= 1, got $targetCell")
    require(maxTrainRows >= 1, s"need maxTrainRows >= 1, got $maxTrainRows")
    val n = embeddings.count()
    val k = math.max(1L, (n + targetCell - 1) / targetCell.toLong)
    require(k <= Int.MaxValue, s"derived k=$k overflows Int")
    if (n > maxTrainRows)
      semDedupSampled(embeddings, k.toInt, iters, threshold, roundDecimals,
        trainFraction = maxTrainRows.toDouble / n)
    else semDedup(embeddings, k.toInt, iters, threshold, roundDecimals)
  }

  /** [[semDedupAuto]]'s default train-sample cap: 2²⁰ rows keeps a
    * 64-dim float sample under ~300 MB on the driver-free broadcast
    * path while staying far above every fixture tier (so the gate
    * fixtures keep exercising the full-train chain their committed
    * records pin; e123 lowers the cap explicitly to exercise the
    * sampled chain under the oracle). */
  val DefaultMaxTrainRows: Long = 1L << 20

  /** Cluster-balanced coreset sampling — the DIVERSITY selector of the
    * curation family (the complement of [[semDedup]]'s redundancy
    * remover, same clustering): k-means-cluster the corpus, then keep
    * each cluster's `perCell` most PROTOTYPICAL members (highest cosine
    * to the cluster's own centroid, vec_id breaking ties). Uniform
    * per-cluster quotas are the standard guard against a web-scale
    * corpus where one mode dominates the sample — every semantic region
    * contributes equally regardless of its population.
    *
    * Scale shape: [[trainCentroids]] is linear per round (broadcast-k
    * argmax assignment, (cell, dim)-keyed means); the final assignment
    * is the same broadcast argmax agg (one shuffle on vec_id, never a
    * pair join); the quota rank is a Window PARTITIONED BY cell — k
    * tasks, each bounded by its cell population, no global sort. Output
    * `(cell, vec_id, sim, rnk)` with rnk 1..perCell densest-first;
    * `roundDecimals` pins the trained means for oracle portability
    * (e32's discipline; -1 = full precision). */
  def clusterSample(embeddings: DataFrame, k: Int, iters: Int,
      perCell: Int, roundDecimals: Int = -1): DataFrame = {
    require(perCell >= 1, s"need perCell >= 1, got $perCell")
    val cen = trainCentroids(embeddings, k, iters, roundDecimals)
    val assigned = assignCells(embeddings, cen, keepVector = false)
    val w = Window.partitionBy("cell").orderBy(desc("sim"), asc("vec_id"))
    assigned.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= perCell)
      .select(col("cell"), col("vec_id"), col("sim"), col("rnk"))
  }

  /** Per-group SEMANTIC DIVERSITY: the eighth-bit entropy of each
    * group's k-means cell distribution — the mixture-design complement
    * of [[clusterSample]] (which enforces diversity) and
    * [[graft.ext.Text.domainShift]] (which measures token-level
    * shift): a source whose vectors pile into one semantic cell reads
    * near 0, one spread evenly over all k cells reads ~8·log2(k).
    * This is the number a mixture designer checks before trusting a
    * source's volume — a billion near-identical pages are worth one.
    * Same exact integer arithmetic as the char-entropy signal
    * (cnt·(log8 n − log8 cnt) div n), so the oracle replays it.
    *
    * `groups` maps vec_id to its group label `(vec_id, source)`.
    * Scale shape: [[trainCentroids]] linear per round, one broadcast-k
    * argmax assignment, a group×cell count (≤ groups·k rows) and
    * group-grain aggregates — nothing pair-shaped. Output:
    * `(source, n_vecs, n_cells, entropy8)`. */
  def clusterDiversity(embeddings: DataFrame, groups: DataFrame,
      k: Int, iters: Int, roundDecimals: Int = -1): DataFrame = {
    val cen = trainCentroids(embeddings, k, iters, roundDecimals)
    val assigned = assignCells(embeddings, cen, keepVector = false)
      .select(col("vec_id"), col("cell"))
    val cnt = assigned.join(groups, Seq("vec_id"))
      .groupBy("source", "cell").agg(count(lit(1)).as("_cc"))
    val tot = cnt.groupBy("source")
      .agg(sum(col("_cc")).as("n_vecs"), count(lit(1)).as("n_cells"))
    cnt.join(tot, Seq("source"))
      .select(col("source"), col("n_vecs"), col("n_cells"),
        (col("_cc") * (expr(Retrieval.log8Sql("n_vecs")) -
          expr(Retrieval.log8Sql("_cc")))).as("_t"))
      .groupBy("source", "n_vecs", "n_cells").agg(sum(col("_t")).as("_s"))
      .select(col("source"), col("n_vecs"), col("n_cells"),
        expr("_s div n_vecs").as("entropy8"))
  }

  /** Product quantization (Jégou/Douze/Schmid, TPAMI 2011): the
    * COMPRESSION path of the ANN family. Vectors split into `m`
    * subspaces; a per-subspace L2 k-means codebook (`ks` centroids)
    * quantizes each subvector to one code — the corpus collapses from
    * `dims` floats to `m` small ints per vector (64x here), and search
    * runs over the CODES via asymmetric distance computation (ADC): the
    * query precomputes its distance to every (subspace, centroid) once,
    * then each candidate's approximate distance is an m-term lookup
    * sum. At 100 TB this is the point — the scan touches the code
    * table and a broadcast |Q| x m x ks lookup grid; raw vectors move
    * only for the query side.
    *
    * All m codebooks train in ONE frame (the `sub` column rides along),
    * so each Lloyd round is one broadcast-assign + one (sub, cid, pos)
    * mean — m-way training adds no extra shuffles. Distances are
    * `||a||^2 + ||b||^2 - 2ab` over the codegen'd [[dotProduct]] (no
    * interpreted zip_with fold on the hot path), rounded to 9 for
    * engine-portable ordering; `roundDecimals` pins the centroid means
    * (the e32 discipline) so the WHOLE pipeline — training, encoding,
    * ADC — replays as a SQL oracle. */
  def pqCodebooks(embeddings: DataFrame, m: Int, ks: Int, iters: Int,
      dims: Int, roundDecimals: Int = -1): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subLen = dims / m
    val n = embeddings.count()
    require(ks > 0 && n > 0, s"need ks > 0 and a non-empty corpus, got ks=$ks n=$n")
    val stride = math.max(1L, n / ks)
    val base = subVectors(embeddings, m, subLen)
    val picks = embeddings.where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(ks).select("vec_id")
    var cb = materializeLocal(base.join(picks, "vec_id")
      .select(col("sub"), col("vec_id").as("cid"), col("v").as("cv")))
    def mean(x: Column): Column =
      if (roundDecimals >= 0) round(x, roundDecimals) else x
    for (_ <- 1 to iters) {
      // One collect per round (m × ks × subLen values — the bounded
      // model class) in place of the former checkpoint; the assign
      // inside pqAssign is row-local, so the round never shuffles the
      // corpus (guide §2.4).
      cb = materializeLocal(pqAssign(base, cb)
        .select(col("sub"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("sub", "cid", "pos").agg(avg("x").as("mx"))
        .groupBy("sub", "cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("pm"))
        .select(col("sub"), col("cid"),
          transform(col("pm"), x => mean(x("mx")).cast("float")).as("cv")))
    }
    cb
  }

  /** `(vec_id, sub, v)` subvector frame — row-local slice explode. */
  private def subVectors(embeddings: DataFrame, m: Int, subLen: Int): DataFrame =
    embeddings.select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(col("embedding"), s * subLen + 1, subLen).as("v"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.v").as("v"))

  /** Nearest codebook entry per (vec_id, sub) by rounded L2, ties to the
    * smallest cid — the argmin computed ROW-LOCALLY against the collected
    * codebook literals (the [[bestCellStruct]] discipline for the PQ
    * metric): per row, `array_max` of `struct(-d_i, -cid_i)` over the
    * row's OWN subspace's entries, selected by a `when` chain on the
    * bounded `sub` index. The distance expression is tree-identical to
    * the former broadcast-join form (`round(v·v + cv·cv − 2·v·cv, 9)`,
    * with `cv·cv` constant-folding), so values — and the oracle replay —
    * are unchanged; the per-round/per-encode corpus shuffle is gone.
    * Keeps the subvector for training rounds. */
  private def pqAssign(base: DataFrame, cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    val elem = cb.schema("cv").dataType.asInstanceOf[ArrayType].elementType
    val entries = cb.select(col("sub").cast("int"), col("cid").cast("bigint"),
        col("cv")).collect()
      .map { r =>
        val cv = elem match {
          case FloatType  => r.getSeq[Float](2).map(_.toDouble).toArray
          case DoubleType => r.getSeq[Double](2).toArray
          case t => throw new IllegalArgumentException(
            s"codebook cv element type $t (need float or double)")
        }
        (r.getInt(0), r.getLong(1), cv)
      }.sortBy(t => (t._1, t._2))
    require(entries.nonEmpty, "pqAssign needs a non-empty codebook")
    val bySub = entries.groupBy(_._1).toSeq.sortBy(_._1)
    def subBest(es: Array[(Int, Long, Array[Double])]): Column =
      column(graft.functions.BestCellExpr(expression(col("v")),
        es.map(_._2), es.map(_._3), l2 = true))
    val best = bySub.tail.foldLeft(
      when(col("sub") === lit(bySub.head._1), subBest(bySub.head._2))) {
      case (acc, (s, es)) => acc.when(col("sub") === lit(s), subBest(es))
    }
    base.withColumn("_best", best)
      .select(col("sub"), col("vec_id"),
        (-col("_best").getField("ncid")).as("cid"), col("v"))
  }

  /** PQ ANN top-k via ADC. Approximate distance = exact sum (DECIMAL
    * accumulation — the q15 float-sum discipline) of the query's
    * precomputed rounded L2 to each subspace's assigned centroid.
    * Output: `(query_id, neighbor_id, adist)`, k per query by
    * (adist asc, neighbor_id asc). Self-matches excluded. */
  def pqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 4, ks: Int = 4, iters: Int = 2, dims: Int = 64,
      roundDecimals: Int = -1): DataFrame = {
    val subLen = dims / m
    val cb = pqCodebooks(embeddings, m, ks, iters, dims, roundDecimals)
    val base = subVectors(embeddings, m, subLen)
    val codes = pqAssign(base, cb).select(col("sub"), col("vec_id"), col("cid"))
    val qd = round(dotProduct(col("v"), col("v"))
      + dotProduct(col("cv"), col("cv"))
      - lit(2.0) * dotProduct(col("v"), col("cv")), 9)
    val qdist = base.where(col("vec_id").isin(queryIds: _*))
      .select(col("sub"), col("vec_id").as("query_id"), col("v"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("sub"), col("query_id"), col("cid"),
        qd.cast("decimal(28,9)").as("qd"))
    val adist = codes.join(broadcast(qdist), Seq("sub", "cid"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).cast("double").as("adist"))
    val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("vec_id"))
    adist.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** IVF-PQ (the FAISS IVFADC composition, Jégou et al. 2011 §IV): the
    * coarse quantizer routes each query to `nprobe` cells, and ONLY the
    * vectors in those cells are scored — by their PQ codes, not their
    * raw floats. The 100-TB search stack in one plan: the inverted file
    * bounds WHICH codes are read (~nprobe/kc of the corpus), PQ bounds
    * WHAT a read costs (m code lookups, no vector data).
    *
    * The coarse quantizer IS the PQ machinery with one subspace over
    * the full vector ([[pqCodebooks]] m=1) — same pinned-Lloyd L2
    * training, so coarse routing and fine scoring share one metric and
    * ONE oracle discipline. This is the no-residual IVFADC variant
    * (codes quantize raw vectors); [[ivfPqResidualTopK]] is the
    * residual refinement (encode `x - coarse_centroid`), which drops
    * recall loss further at the cost of a per-probed-cell query
    * lookup grid. */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      kc: Int = 8, nprobe: Int = 2, m: Int = 4, ks: Int = 4, iters: Int = 2,
      dims: Int = 64, roundDecimals: Int = -1): DataFrame = {
    val subLen = dims / m
    // The coarse and fine codebook trainers are INDEPENDENT (both read
    // only the corpus) but each runs one eager localCheckpoint per
    // pinned-Lloyd round — overlapped on driver threads so the serial
    // action floors coincide instead of adding (guide §2.6; the
    // e72/sccAssignments pattern). Results are rounded/deterministic,
    // identical under any job scheduling.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration.Inf
    val coarseF = Future(pqCodebooks(embeddings, 1, kc, iters, dims, roundDecimals))
    val cbF = Future(pqCodebooks(embeddings, m, ks, iters, dims, roundDecimals))
    val coarse = Await.result(coarseF, Inf)
    val baseFull = subVectors(embeddings, 1, dims)
    val cells = pqAssign(baseFull, coarse)
      .select(col("vec_id"), col("cid").as("cell"))
    val cb = Await.result(cbF, Inf)
    val base = subVectors(embeddings, m, subLen)
    val codes = pqAssign(base, cb).select(col("sub"), col("vec_id"), col("cid"))
    val d = round(dotProduct(col("v"), col("v"))
      + dotProduct(col("cv"), col("cv"))
      - lit(2.0) * dotProduct(col("v"), col("cv")), 9)
    val probeW = Window.partitionBy("query_id").orderBy(asc("d"), asc("cell"))
    val probes = baseFull.where(col("vec_id").isin(queryIds: _*))
      .select(col("sub"), col("vec_id").as("query_id"), col("v"))
      .join(broadcast(coarse.withColumnRenamed("cid", "cell")), Seq("sub"))
      .select(col("query_id"), col("cell"), d.as("d"))
      .withColumn("_pr", row_number().over(probeW)).where(col("_pr") <= nprobe)
      .select(col("query_id"), col("cell"))
    val qdist = base.where(col("vec_id").isin(queryIds: _*))
      .select(col("sub"), col("vec_id").as("query_id"), col("v"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("sub"), col("query_id"), col("cid"),
        d.cast("decimal(28,9)").as("qd"))
    val adist = cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(qdist), Seq("sub", "cid", "query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).cast("double").as("adist"))
    val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("vec_id"))
    adist.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** Random-hyperplane LSH signature (Charikar, STOC 2002: sign of the
    * dot product with random hyperplanes estimates angular similarity):
    * `planes` pseudo-random hyperplanes
    * derived deterministically from (plane index, dimension) hashes —
    * reproducible with no RNG state. Bucket = bit vector of dot-product
    * signs. */
  /** Deterministic pseudo-random plane component in [-1, 1): hash
    * (p, d) -> 32-bit murmur, scale into the unit interval. Public so
    * the SQL oracle can inline the identical constants as literals. */
  def planeComponent(p: Int, d: Int): Double = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong((p.toLong << 32) | d.toLong, 42)
    h.toDouble / Int.MaxValue.toDouble
  }

  def lshBuckets(embeddings: DataFrame, planes: Int = 16, dims: Int = 64): DataFrame = {
    def comp(p: Int, d: Int): Double = planeComponent(p, d)
    // One literal plane array + zip_with/aggregate per plane keeps the
    // expression tree small (planes nodes, not planes*dims): a flat
    // element_at sum at 32x64 made analysis+codegen the bottleneck.
    val bucketBits: Seq[Column] = (0 until planes).map { p =>
      val plane = typedLit((0 until dims).map(d => comp(p, d)))
      val dot = dotProduct(col("embedding"), plane)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    embeddings.withColumn("bucket", bucketBits.reduce(_ + _))
  }

  /** ANN top-k via banded LSH (multi-probe): the hyperplane sign code is
    * cut into `bands` independent bands of `bitsPerBand` planes each;
    * a row is a candidate for a query if ANY band matches — the same
    * banding construction as MinHash LSH, turning single-bucket recall
    * (vanishing for tight buckets) into 1-(1-p^r)^b. Candidate set per
    * query is a few percent of the corpus; recall vs [[bruteForceTopK]]
    * is measured in tests. At scale the bucket join shuffles only
    * (band, bucket) keys and the distinct-candidate set, never the
    * all-pairs product.
    *
    * Defaults (8 bands x 4 bits) are tuned for loose neighbor angles:
    * the fixture embeddings are near-random (top-10 cosine only
    * 0.24-0.49, i.e. theta ~60-75 deg), the worst case for hyperplane
    * LSH — measured recall ~0.6 at ~40% candidate fraction. Tight
    * real-world embedding neighborhoods (theta < 30 deg) reach >0.95
    * recall at a few percent candidates with 4x6 bands; tune
    * (bands, bitsPerBand) to the corpus geometry. `probes` > 0 adds
    * multi-probe: each query band also probes its Hamming-1 buckets
    * (that many single-bit flips), raising recall at probe-time cost
    * with an UNCHANGED corpus-side index — the lever to pull before
    * adding bands (which re-buckets the corpus). probes = 0 is the
    * plain banded form; candidates are a superset law in
    * SimilaritySpec, recall measured in the e72 scoreboard. */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      bands: Int = 8, bitsPerBand: Int = 4,
      maxBucket: Long = Skew.DefaultBucketCap, probes: Int = 0): DataFrame =
    lshTopKWith(embeddings,
      lshCandidateIndex(embeddings, bands, bitsPerBand, maxBucket),
      queryIds, k, bands, bitsPerBand, probes)

  /** The CORPUS-SIDE banded LSH index `(neighbor_id, cv, band, bh)` —
    * every vector exploded into its `bands` capped band buckets. This
    * frame is BYTE-IDENTICAL between the plain and multi-probe forms
    * (probing is query-side only), so one built index serves any
    * `probes` setting: build it once per corpus and probe it many
    * times (the e72 scoreboard materializes it once for both LSH
    * entries; at 100 TB this is the persisted artifact the e97
    * index-reuse ingest shape keeps warm). Candidate-side band buckets
    * above `maxBucket` members are dropped (a degenerate band — e.g.
    * all-zero embeddings — would otherwise route the whole corpus into
    * one bucket); drops observed + logged. */
  def lshCandidateIndex(embeddings: DataFrame, bands: Int = 8,
      bitsPerBand: Int = 4,
      maxBucket: Long = Skew.DefaultBucketCap): DataFrame = {
    val bucketed = lshBuckets(embeddings, bands * bitsPerBand)
    def bandCols(bucket: Column): Column = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(bucket, b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("bh"))
    }: _*)
    Skew.capBuckets(
      bucketed.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        explode(bandCols(col("bucket"))).as("cb"))
        .select(col("neighbor_id"), col("cv"),
          col("cb.band").as("band"), col("cb.bh").as("bh")),
      Seq("band", "bh"), maxBucket, "lsh_band")
  }

  /** [[lshTopK]] over a PREBUILT [[lshCandidateIndex]] — the seam that
    * lets one corpus-side index serve several probe configurations.
    * `bands`/`bitsPerBand` must match the index's build parameters
    * (they shape the query-side band hashes). */
  def lshTopKWith(embeddings: DataFrame, cands: DataFrame,
      queryIds: Seq[Long], k: Int,
      bands: Int = 8, bitsPerBand: Int = 4, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= bitsPerBand,
      s"probes must be in [0, $bitsPerBand], got $probes")
    val planes = bands * bitsPerBand
    // Query-side bucketing only: the sign code is row-local, so
    // bucketing the filtered query rows equals filtering the bucketed
    // corpus (what the fused form computed).
    val bucketedQ = lshBuckets(
      embeddings.where(col("vec_id").isin(queryIds: _*)), planes)
    // Multi-probe (Lv et al., VLDB'07, the sign-LSH form): each query
    // band ALSO probes the buckets at Hamming distance 1 — `probes`
    // single-bit flips of its band hash — so near-misses on one
    // hyperplane sign are recovered without adding tables. Probing is
    // QUERY-side only (|Q|·bands·(1+probes) rows); the corpus-side
    // index is byte-identical to the plain form, which is the point:
    // recall rises at probe-time cost, not index-build cost.
    val flips: Seq[Long] = 0L +: (0 until probes).map(j => (1L << j).toLong)
    def probeBandCols(bucket: Column): Column = array((for {
      b <- 0 until bands; f <- flips
    } yield struct(lit(b).as("band"),
      shiftrightunsigned(bucket, b * bitsPerBand)
        .bitwiseAND(lit((1L << bitsPerBand) - 1))
        .bitwiseXOR(lit(f)).as("bh"))): _*)
    val queries = bucketedQ
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probeBandCols(col("bucket"))).as("qb"))
    val pairs = cands.join(broadcast(queries),
        col("qb.band") === col("band") && col("qb.bh") === col("bh") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val sim = round(cosineSimilarity(col("qv"), col("cv")), 9).as("sim")
    val scored = pairs.select(col("query_id"), col("neighbor_id"), sim)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation harness that turns "tune (bands, bitsPerBand) to the
    * corpus geometry" from guesswork into a measured number. Both
    * inputs are (query_id, neighbor_id, ...) top-k frames
    * ([[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] shapes); output is
    * one row per exact-side query: |approx ∩ exact| / k, zero-filled
    * for queries the approximate index missed entirely. One semi-join
    * + one aggregate — runs at corpus scale as cheaply as the indexes
    * themselves. */
  /** Unified ANN evaluation — one scoreboard over every index family
    * (the e43 per-query harness generalized to the whole ANN surface,
    * VERDICT round-9 item 3): each entry is `(method, k, exact,
    * approx)` where both frames carry `(query_id, neighbor_id)` top-k
    * lists; the output is ONE row per method with the EXACT-integer
    * hit count and `recall = hits / (n_queries · k)` — the single
    * final division keeps the double deterministic under any
    * partitioning (a per-query mean would sum doubles in shuffle
    * order). Scale shape: per method one equi-join of two top-k lists
    * (|Q|·k rows each — query-bounded, never corpus-bounded) + a
    * 1-row aggregate. */
  def recallScoreboard(entries: Seq[(String, Int, DataFrame, DataFrame)]): DataFrame = {
    require(entries.nonEmpty, "recallScoreboard needs at least one entry")
    entries.map { case (name, k, exact, approx) =>
      exact.select(col("query_id"), col("neighbor_id"))
        .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("_hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          sum(coalesce(col("_hit"), lit(0L))).as("hits"))
        .select(lit(name).as("method"), lit(k.toLong).as("k"),
          col("n_queries"), col("hits"),
          (col("hits").cast("double") / (col("n_queries") * k)).as("recall"))
    }.reduce(_.unionByName(_))
  }

  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recall needs k >= 1, got $k")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("_h"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("_h"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Residual IVF-PQ — the refinement [[ivfPqTopK]]'s doc names as the
    * production next step (Jégou et al. 2011 §IV.B, FAISS's default
    * IVFADC): fine codes quantize the RESIDUAL `x - coarse_centroid
    * (cell(x))` instead of the raw vector. Residuals concentrate near
    * the origin regardless of which cell a vector lives in, so the ks
    * fine centroids model a much tighter distribution — the recall
    * recovered per code byte is the whole point of the composition.
    *
    * The price is query-side: the ADC lookup table becomes
    * (query, PROBED CELL, sub, cid) — the query's residual differs per
    * probed cell — so the broadcast grid grows by nprobe, still
    * |Q| x nprobe x m x ks scalars, nowhere near data-scale. Candidate
    * reads stay code-only. Residual arithmetic is double-exact (float
    * casts are value-preserving, subtraction is one IEEE op both
    * engines agree on), so the e48/e50 oracle discipline extends: BOTH
    * Lloyd chains, the residual construction, probe routing, and the
    * per-cell ADC replay in SQL. */
  def ivfPqResidualTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      kc: Int = 8, nprobe: Int = 2, m: Int = 4, ks: Int = 4, iters: Int = 2,
      dims: Int = 64, roundDecimals: Int = -1): DataFrame = {
    val subLen = dims / m
    val coarse = pqCodebooks(embeddings, 1, kc, iters, dims, roundDecimals)
    val baseFull = subVectors(embeddings, 1, dims)
    val resDelta = transform(sequence(lit(1), lit(dims)), i =>
      element_at(col("v"), i).cast("double")
        - element_at(col("cv"), i).cast("double"))
    // (vec_id, cell, residual) — checkpointed: training, encoding, and
    // candidate restriction all reread it, and each reread would
    // otherwise replay the whole coarse chain
    val resid = pqAssign(baseFull, coarse)
      .join(broadcast(coarse), Seq("sub", "cid"))
      .select(col("vec_id"), col("cid").as("cell"), resDelta.as("embedding"))
      .localCheckpoint()
    val cells = resid.select(col("vec_id"), col("cell"))
    val resEmb = resid.select(col("vec_id"), col("embedding"))
    val cb = pqCodebooks(resEmb, m, ks, iters, dims, roundDecimals)
    val base = subVectors(resEmb, m, subLen)
    val codes = pqAssign(base, cb).select(col("sub"), col("vec_id"), col("cid"))
    val d = round(dotProduct(col("v"), col("v"))
      + dotProduct(col("cv"), col("cv"))
      - lit(2.0) * dotProduct(col("v"), col("cv")), 9)
    val probeW = Window.partitionBy("query_id").orderBy(asc("d"), asc("cell"))
    val qFull = baseFull.where(col("vec_id").isin(queryIds: _*))
      .select(col("sub"), col("vec_id").as("query_id"), col("v"))
    val probes = qFull
      .join(broadcast(coarse.withColumnRenamed("cid", "cell")), Seq("sub"))
      .select(col("query_id"), col("cell"), d.as("d"))
      .withColumn("_pr", row_number().over(probeW)).where(col("_pr") <= nprobe)
      .select(col("query_id"), col("cell"))
    // per-(query, probed cell) residual, sliced into subvectors
    val qres = probes
      .join(qFull.select(col("query_id"), col("v")), Seq("query_id"))
      .join(broadcast(coarse.select(col("cid").as("cell"), col("cv"))), Seq("cell"))
      .select(col("query_id"), col("cell"), resDelta.as("qr"))
    val qsub = qres.select(col("query_id"), col("cell"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub"),
            slice(col("qr"), s * subLen + 1, subLen).as("v"))): _*)).as("s"))
      .select(col("query_id"), col("cell"), col("s.sub").as("sub"), col("s.v").as("v"))
    val qdist = qsub.join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"), col("cid"),
        d.cast("decimal(28,9)").as("qd"))
    val adist = cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(qdist), Seq("sub", "cid", "query_id", "cell"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd")).cast("double").as("adist"))
    val w = Window.partitionBy("query_id").orderBy(asc("adist"), asc("vec_id"))
    adist.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** Hard-triplet mining for contrastive/metric training (Schroff et
    * al. 2015, FaceNet §3.2 — the training-data extraction step every
    * embedding-model pipeline runs): per anchor, the HARDEST positive
    * (least-similar same-label vector — the pair the model must pull
    * together) and the k HARDEST negatives (most-similar
    * different-label vectors — the pairs it must push apart). Rounded
    * cosine + id tie-breaks make the mined set deterministic.
    *
    * Scale shape: identical to [[bruteForceTopK]] — the anchor set
    * broadcasts, candidates stream map-side, two windows partitioned by
    * anchor. At corpus scale, route candidates through [[lshTopK]] /
    * [[ivfTopK]] prefilters (negatives are top-k by similarity, exactly
    * the ANN shape) and swap the window for [[TopKAggregator]].
    *
    * Output: one row per (anchor, negative rank): (query_id, pos_id,
    * pos_sim, neg_id, neg_sim); anchors lacking a same-label partner
    * are dropped (no trainable triple). */
  def hardTriplets(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val anchors = embeddings.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val cands = embeddings.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("label").as("clabel"))
    val sim = round(cosineSimilarity(col("qv"), col("cv")), 9)
    val scored = cands.join(broadcast(anchors), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("qlabel"), col("cand_id"), col("clabel"),
        sim.as("sim"))
    val wPos = Window.partitionBy("query_id").orderBy(asc("sim"), asc("cand_id"))
    val pos = scored.where(col("qlabel") === col("clabel"))
      .withColumn("_rn", row_number().over(wPos)).where(col("_rn") === 1)
      .select(col("query_id"), col("cand_id").as("pos_id"), col("sim").as("pos_sim"))
    val wNeg = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cand_id"))
    val neg = scored.where(col("qlabel") =!= col("clabel"))
      .withColumn("_rn", row_number().over(wNeg)).where(col("_rn") <= k)
      .select(col("query_id"), col("cand_id").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(neg, Seq("query_id"))
  }

  // ---- SQ8: scalar quantization + exact re-rank ----

  /** Per-dimension (lo, hi) training ranges for SQ8 — ONE row of two
    * float arrays, built from a single posexplode + min/max aggregate
    * (min/max of floats are exact: no accumulation, so the ranges are
    * engine-portable by construction). */
  def sq8Ranges(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(array_sort(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("pm"))
      .select(transform(col("pm"), p => p("lo")).as("lo"),
        transform(col("pm"), p => p("hi")).as("hi"))

  /** uint8 scalar-quantization codes, stored as a FLOAT array so the
    * codegen'd [[graft.functions.dotProduct]] scores them natively
    * (every value 0..255 is float-exact, and the integer-valued double
    * products sum exactly — the approximate score is an INTEGER both
    * engines agree on bit-for-bit). code[d] = clamp(floor((x[d] - lo[d])
    * * 255 / (hi[d] - lo[d])), 0, 255); degenerate dims (hi == lo)
    * encode 0. Row-local, one broadcast of the 1-row range frame. */
  def sq8Encode(embeddings: DataFrame, ranges: DataFrame, dims: Int): DataFrame =
    embeddings.crossJoin(broadcast(ranges))
      .select(col("vec_id"), transform(sequence(lit(1), lit(dims)), i => {
        val x = element_at(col("embedding"), i).cast("double")
        val l = element_at(col("lo"), i).cast("double")
        val h = element_at(col("hi"), i).cast("double")
        when(h === l, lit(0.0))
          .otherwise(least(lit(255.0), greatest(lit(0.0),
            floor((x - l) * lit(255.0) / (h - l)))))
          .cast("float")
      }).as("code"))

  /** SQ8 ANN: scalar-quantized candidate generation with exact cosine
    * re-rank — the compression path between raw brute force and PQ
    * (FAISS's `SQ8` index family). The candidate scan reads 1-byte-per-
    * dim codes (4x smaller than float32; at 100 TB the scan IS the
    * cost), scores by integer code dot product, keeps `rerank`
    * candidates per query, and re-ranks ONLY those against the raw
    * vectors with the exact [[bruteForceTopK]] scoring — so precision
    * loss is confined to candidate selection, never to the returned
    * ordering. Setting `rerank` >= corpus size degenerates to exact
    * brute force (the law the spec asserts).
    *
    * Output: (query_id, neighbor_id, sim) — k per query by (sim desc,
    * neighbor_id), self-matches excluded. */
  def sq8TopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      rerank: Int = 30, dims: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank window ($rerank) must cover k ($k)")
    val codes = sq8Encode(embeddings, sq8Ranges(embeddings), dims)
    val qCodes = codes.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val ascore = codes.select(col("vec_id").as("neighbor_id"), col("code").as("cc"))
      .join(broadcast(qCodes), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotProduct(col("qc"), col("cc")).cast("long").as("ascore"))
    val wA = Window.partitionBy("query_id").orderBy(desc("ascore"), asc("neighbor_id"))
    val cand = ascore.withColumn("_rn", row_number().over(wA))
      .where(col("_rn") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val qv = embeddings.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cv = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val wR = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    cand.join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSimilarity(col("qv"), col("cv")), 9).as("sim"))
      .withColumn("_rn", row_number().over(wR)).where(col("_rn") <= k)
      .drop("_rn")
  }
}
