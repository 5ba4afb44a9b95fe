package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus accounting — the primitive under every
  * incremental pipeline: a new crawl lands, and before anything
  * re-runs, the question is WHICH documents are new, gone, or changed
  * (re-process exactly the added+changed set; retire the removed set
  * from downstream indexes). The diff is content-addressed (md5 of the
  * content column), so a re-crawled byte-identical page is correctly
  * `unchanged` regardless of crawl metadata.
  *
  * Scale shape (100 TB): ONE id-keyed full-outer equi-join; the hash
  * is a row-local projection on each side, so the join carries
  * `(id, 16-byte hash)` — never the content. At production scale both
  * snapshots are bucketed by id and the join is shuffle-free;
  * unbucketed, AQE sizes the exchange. Nothing pair-shaped, nothing
  * collected. The changed-set output is exactly the re-process
  * work-list, so downstream cost tracks the DELTA, not the corpus
  * (the e97 index-reuse discipline applied to the whole pipeline).
  */
object Snapshot {

  /** The non-identical rows of `newer` vs `older`:
    * `(id, status ∈ {added, removed, changed})`, content-addressed.
    * `unchanged` rows are dropped here (they are the overwhelming
    * majority by design — emitting them would make the diff
    * corpus-sized); [[diffStats]] accounts for them. */
  def diff(older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame =
    statusOf(older, newer, idCol, contentCol)
      .where(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))

  /** One row per status (including `unchanged`) with its count — the
    * snapshot-health dashboard number: a crawl whose `changed` fraction
    * jumps is the content-drift alarm, one whose `added` collapses is
    * the coverage alarm. */
  def diffStats(older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame =
    statusOf(older, newer, idCol, contentCol)
      .groupBy("status").agg(count(lit(1)).as("n_docs"))

  /** The frozen older-snapshot hash index `(id, _h_old, _in_old)` —
    * the 16-byte-per-row artifact [[diff]]'s full-outer join consumes.
    * Presence is a LITERAL flag, not hash nullness: a
    * row whose content is NULL hashes to NULL, and classifying on the
    * hash would read it as added/removed even though its id exists in
    * both snapshots (advisor, round 13). */
  def hashIndex(df: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame =
    df.select(col(idCol), md5(col(contentCol)).as("_h_old"),
      lit(true).as("_in_old"))

  /** The e39 corpus-health rollup carried as exact MERGEABLE MASS per
    * (source, lang): doc count, token sum, and the quality sum in
    * DECIMAL — the form a dashboard must be FROZEN in for delta
    * refresh to exist at all (an average can't absorb a delta; its
    * numerator and denominator can). Same quality expression and same
    * DECIMAL accumulation as e39, so `finish` of these sums is
    * bit-identical to the direct rollup. */
  def healthSums(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("_t"),
        Text.qualityScoreCol.cast("decimal(18,6)").as("_q"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("sum_tokens"),
        sum(col("_q")).as("sum_q"))

  /** The two delta work-lists every incremental consumer pairs:
    * ids whose OLD contribution must be SUBTRACTED (removed ∪ changed)
    * and ids whose NEW contribution must be ADDED (added ∪ changed).
    * The diff is MATERIALIZED once ([[graft.plans.Supersteps.cut]] —
    * the e97 candidate-list discipline): it is delta-sized by
    * construction, and without the cut each consumer branch would
    * re-run the full-outer hash join over both snapshots (the Explain
    * audit showed the static plan duplicating two corpus scans per
    * branch). */
  def deltaWorkLists(older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text")
      : (DataFrame, DataFrame) = {
    val delta = graft.plans.Supersteps.cut(diff(older, newer, idCol, contentCol))
    (delta.where(col("status").isin("removed", "changed")).select(col(idCol)),
      delta.where(col("status").isin("added", "changed")).select(col(idCol)))
  }

  /** Per-term token counts as mergeable mass — the frozen state behind
    * [[refreshHeavyHitters]] (a top-k is NOT mergeable; the
    * vocabulary-sized count frame it derives from is). Tokenization =
    * e30's ([[Sketches.heavyHittersExact]]) verbatim. */
  def termCounts(docs: DataFrame, contentCol: String = "text"): DataFrame =
    docs.select(explode(split(col(contentCol), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** Delta-driven heavy-hitter refresh — the e110 discipline applied
    * to the SKETCH family's exact anchor (e30): the frozen per-term
    * count frame absorbs the delta's signed token counts (one signed
    * union + one term-grain aggregate; terms whose count cancels to
    * zero drop) and the top-k re-derives from the merged frame. Counts
    * are exact longs, so the merged frame is bit-identical to a full
    * [[termCounts]] over the newer snapshot and the top-k therefore
    * hash-equal to a full [[Sketches.heavyHittersExact]] — which IS
    * the e111 oracle. Feature work (tokenize) runs only on delta rows;
    * the merge is vocabulary-grain; top-k is a TakeOrdered, no global
    * sort. (The approximate twin — e18's CMS — re-derives the same way
    * at scale: CMS sketches are linear, so add the delta's sketch and
    * subtract the removed rows'; the exact anchor here is what any
    * such merge is judged against.) */
  def refreshHeavyHitters(baseCounts: DataFrame, older: DataFrame,
      newer: DataFrame, k: Int, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshHeavyHittersWith(baseCounts, older, newer, subIds, addIds, k,
      idCol, contentCol)
  }

  /** [[refreshHeavyHitters]] over a SHARED, already-materialized delta
    * (the e115 discipline: one diff pass feeds every incremental
    * consumer — a production run maintaining all five artifacts must
    * not pay five full-outer hash joins over both snapshots where one
    * suffices). */
  def refreshHeavyHittersWith(baseCounts: DataFrame, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame, k: Int,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame = {
    val sub = termCounts(older.join(subIds, Seq(idCol), "left_semi"), contentCol)
      .select(col("term"), (-col("freq")).as("freq"))
    val add = termCounts(newer.join(addIds, Seq(idCol), "left_semi"), contentCol)
    baseCounts.unionByName(sub).unionByName(add)
      .groupBy("term").agg(sum(col("freq")).as("freq"))
      .where(col("freq") > 0)
      .orderBy(desc("freq"), asc("term"))
      .limit(k)
  }

  /** Delta-driven MinHash-index maintenance — what keeps the e97
    * frozen signature index frozen ACROSS crawls: signatures are
    * per-doc and row-local (no cross-doc state), so the newer index is
    * exactly the base index MINUS the subtract work-list (one id-keyed
    * anti join) PLUS fresh signatures over the add work-list (the only
    * rows that ever re-shingle). Oracle-equal to a full re-sign of the
    * newer snapshot — short documents (< shingle width) drop out of
    * both paths identically because the signature aggregate never sees
    * them. Feature work tracks the delta; the anti join carries the
    * index's k longs per row, never content. */
  def refreshSignatureIndex(baseIndex: DataFrame, older: DataFrame,
      newer: DataFrame, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshSignatureIndexWith(baseIndex, newer, subIds, addIds, idCol)
  }

  /** [[refreshSignatureIndex]] over a shared, already-materialized
    * delta (the e115 one-diff discipline). The older snapshot never
    * appears: retirement is the anti join, and only add-list docs
    * re-shingle. */
  def refreshSignatureIndexWith(baseIndex: DataFrame, newer: DataFrame,
      subIds: DataFrame, addIds: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    baseIndex.join(subIds, Seq(idCol), "left_anti")
      .unionByName(Dedup.minhashSignatures(
        newer.join(addIds, Seq(idCol), "left_semi")))

  /** Delta-driven co-occurrence maintenance — the incremental seam
    * reaching the EMBEDDING-TRAINING input (the co-occurrence matrix
    * is the expensive frozen artifact a crawl→retrain pipeline keeps
    * warm; GloVe trains from exactly this frame): context windows
    * never cross documents, so the (center, context) weight mass is
    * PER-DOC additive and merges SIGNED exactly like the heavy-hitter
    * counts — subtract the work-list docs' pair mass, add the fresh
    * docs', drop zero-mass pairs (weights are positive, so a pair
    * cancels only when its last carrier leaves — a full recompute
    * would never show it). All weights are exact fixed-point longs,
    * so the merged frame is bit-identical to [[Text.cooccurrence]]
    * over the newer snapshot — the e119 oracle. Pair-generation work
    * runs only on delta rows; the merge is pair-grain. */
  def refreshCooccurrence(baseCo: DataFrame, older: DataFrame,
      newer: DataFrame, window: Int = 3, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshCooccurrenceWith(baseCo, older, newer, subIds, addIds, window,
      idCol, contentCol)
  }

  /** [[refreshCooccurrence]] over a shared, already-materialized delta
    * (the e115 one-diff discipline). */
  def refreshCooccurrenceWith(baseCo: DataFrame, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame,
      window: Int = 3, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val sub = Text.cooccurrence(
        older.join(subIds, Seq(idCol), "left_semi"), window, contentCol)
      .select(col("center"), col("context"),
        (-col("weight_fp")).as("weight_fp"))
    val add = Text.cooccurrence(
      newer.join(addIds, Seq(idCol), "left_semi"), window, contentCol)
    baseCo.unionByName(sub).unionByName(add)
      .groupBy("center", "context")
      .agg(sum(col("weight_fp")).as("weight_fp"))
      .where(col("weight_fp") > 0)
  }

  /** Delta-driven bigram-LM maintenance — the incremental seam
    * reaching the PERPLEXITY-FILTER model (the LM a CCNet-style
    * curation stack scores every crawl against): the
    * [[Text.BigramCounts]] frames are per-doc additive train-split
    * counts, so they merge SIGNED like the heavy-hitter frame — the
    * delta work-lists restricted to the TRAIN SPLIT (membership is
    * id-pure, so the restriction is one filter) subtract their old
    * counts and add their fresh ones; zero-count events drop. The
    * scorer's derived numbers (cl, N) re-derive from the merged
    * frames, so [[Text.bigramSurprisalFrom]] over the maintained
    * model hash-equals a full retrain+rescore — the e120 oracle. */
  def refreshBigramCounts(base: Text.BigramCounts, older: DataFrame,
      newer: DataFrame, trainFilter: Column,
      idCol: String = "doc_id", contentCol: String = "text")
      : Text.BigramCounts = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshBigramCountsWith(base, older, newer, subIds, addIds,
      trainFilter, idCol, contentCol)
  }

  /** [[refreshBigramCounts]] over a shared, already-materialized delta
    * (the e115 one-diff discipline). */
  def refreshBigramCountsWith(base: Text.BigramCounts, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame,
      trainFilter: Column, idCol: String = "doc_id",
      contentCol: String = "text"): Text.BigramCounts = {
    val subM = Text.buildBigramCounts(
      older.join(subIds, Seq(idCol), "left_semi").where(trainFilter),
      idCol, contentCol)
    val addM = Text.buildBigramCounts(
      newer.join(addIds, Seq(idCol), "left_semi").where(trainFilter),
      idCol, contentCol)
    Text.BigramCounts(
      base.big
        .unionByName(subM.big.select(col("w1"), col("w2"),
          (-col("c2")).as("c2")))
        .unionByName(addM.big)
        .groupBy("w1", "w2").agg(sum(col("c2")).as("c2"))
        .where(col("c2") > 0),
      base.uni
        .unionByName(subM.uni.select(col("w2"), (-col("c1")).as("c1")))
        .unionByName(addM.uni)
        .groupBy("w2").agg(sum(col("c1")).as("c1"))
        .where(col("c1") > 0))
  }

  /** Delta-driven KN-trigram maintenance — [[refreshBigramCounts]]'s
    * discipline one model order up (the KenLM-shaped e101 filter): the
    * ONE frozen artifact is the train-split trigram count frame
    * ([[Text.buildTrigramCounts]] — per-doc additive), merged signed
    * off the diff work-lists restricted to the id-pure train split;
    * zero-count events drop, so every DISTINCT-type continuation count
    * the scorer derives is exact over the merged frame, and
    * [[Text.knTrigramSurprisalFrom]] over the maintained frame
    * hash-equals a full retrain+rescore — the e121 oracle. */
  def refreshTrigramCounts(baseC3: DataFrame, older: DataFrame,
      newer: DataFrame, trainFilter: Column,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshTrigramCountsWith(baseC3, older, newer, subIds, addIds,
      trainFilter, idCol, contentCol)
  }

  /** [[refreshTrigramCounts]] over a shared, already-materialized
    * delta (the e115 one-diff discipline). */
  def refreshTrigramCountsWith(baseC3: DataFrame, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame,
      trainFilter: Column, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val sub = Text.buildTrigramCounts(
        older.join(subIds, Seq(idCol), "left_semi").where(trainFilter),
        idCol, contentCol)
      .select(col("w1"), col("w2"), col("w3"), (-col("c3")).as("c3"))
    val add = Text.buildTrigramCounts(
      newer.join(addIds, Seq(idCol), "left_semi").where(trainFilter),
      idCol, contentCol)
    baseC3.unionByName(sub).unionByName(add)
      .groupBy("w1", "w2", "w3").agg(sum(col("c3")).as("c3"))
      .where(col("c3") > 0)
  }

  /** Delta-driven IVF-assignment maintenance — the incremental seam
    * reaching the ANN SERVING surface (the last frozen artifact
    * outside it, VERDICT r14): under FROZEN coarse centroids a
    * vector's cell is per-doc and row-local (one broadcast-k argmax —
    * no cross-vector state, exactly like a MinHash signature), so the
    * maintained index is the base assignment MINUS the subtract
    * work-list (one id-keyed anti join over 2-long rows) PLUS fresh
    * assignments over the add work-list — the only vectors that ever
    * re-score against the centroids. Bit-identical to a full
    * [[Similarity.ivfAssignments]] pass over the newer snapshot
    * (rounded-sim argmax with deterministic cid ties, same expression
    * both paths — the e116 oracle and the SimilaritySpec law).
    * Centroids stay frozen across crawls BY DESIGN (the serving
    * quantizer is the artifact); the retrain trigger is the e108
    * axis-drift alarm, after which a full retrain+reassign replaces
    * the index wholesale. */
  def refreshIvfAssignments(baseAssign: DataFrame, newer: DataFrame,
      centroids: DataFrame, subIds: DataFrame, addIds: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    baseAssign.join(subIds.select(col(idCol).as("vec_id")),
        Seq("vec_id"), "left_anti")
      .unionByName(Similarity.ivfAssignments(
        newer.join(addIds.select(col(idCol).as("vec_id")),
          Seq("vec_id"), "left_semi"), centroids))

  /** Delta-driven BM25-index maintenance — the incremental seam
    * extended to the retrieval surface (a production search index is
    * THE index that must survive crawls without rebuilds): postings
    * and doc lengths are per-doc frames, so they UPSERT like the
    * signature index (anti join the subtract ids, union the add
    * docs' fresh rows); document frequencies are term-grain counts,
    * so they merge SIGNED like the heavy-hitter frame (subtract the
    * work-list docs' df contributions, add the fresh ones, drop
    * zero-mass terms). All counts are exact longs, so every frame is
    * bit-identical to [[Retrieval.buildBm25Index]] over the newer
    * snapshot — and [[Retrieval.bm25TopKFromIndex]] over the
    * maintained index therefore hash-equals a full rebuild's scoring
    * (the e113 oracle). Tokenize work runs only on delta rows. */
  def refreshBm25Index(base: Retrieval.Bm25Index, older: DataFrame,
      newer: DataFrame, idCol: String = "doc_id",
      contentCol: String = "text"): Retrieval.Bm25Index = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    refreshBm25IndexWith(base, older, newer, subIds, addIds, idCol,
      contentCol)
  }

  /** [[refreshBm25Index]] over a shared, already-materialized delta
    * (the e115 one-diff discipline). */
  def refreshBm25IndexWith(base: Retrieval.Bm25Index, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame,
      idCol: String = "doc_id",
      contentCol: String = "text"): Retrieval.Bm25Index = {
    val subI = subIds.select(col(idCol).as("_id"))
    val subDf = Retrieval.buildBm25Index(
      older.join(subIds, Seq(idCol), "left_semi"), idCol, contentCol).dfreq
    val fresh = Retrieval.buildBm25Index(
      newer.join(addIds, Seq(idCol), "left_semi"), idCol, contentCol)
    Retrieval.Bm25Index(
      base.postings.join(subI, Seq("_id"), "left_anti")
        .unionByName(fresh.postings),
      base.dl.join(subI, Seq("_id"), "left_anti").unionByName(fresh.dl),
      base.dfreq
        .unionByName(subDf.select(col("_t"), (-col("_df")).as("_df")))
        .unionByName(fresh.dfreq)
        .groupBy("_t").agg(sum(col("_df")).as("_df"))
        .where(col("_df") > 0))
  }

  /** Delta-driven dashboard refresh — the q49 incremental-components
    * discipline applied to the aggregate family (and the composition
    * [[diff]] exists to feed): given the FROZEN base rollup of the
    * older snapshot ([[healthSums]], computed once offline), produce
    * the newer snapshot's rollup WITHOUT re-featurizing unchanged
    * content. One [[statusOf]] pass yields the work-list; the
    * removed/changed-old contributions are re-derived from `older`
    * RESTRICTED to the delta ids (a semi join — the only rows whose
    * features are recomputed) and SUBTRACTED, added/changed-new
    * contributions ADDED, via one signed union + one group-grain
    * aggregate. Every merge operand is exact (long counts, DECIMAL
    * quality mass), so the merged rollup is bit-identical to a full
    * recompute over `newer` — which is exactly what the e110 oracle
    * computes. Groups whose mass cancels to zero drop (a full
    * recompute would never show them).
    *
    * Scale shape (100 TB): the diff is the [[diff]] hash join (16-byte
    * rows); feature work (tokenize + quality) runs ONLY on delta rows;
    * the merge is group-grain (sources × langs). Cost tracks the
    * delta, e97-style — the 8× tier row is the measurement. */
  def refreshHealth(baseSums: DataFrame, older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text"): DataFrame = {
    val (subIds, addIds) = deltaWorkLists(older, newer, idCol, contentCol)
    finishHealth(refreshHealthSumsWith(baseSums, older, newer, subIds,
      addIds, idCol))
  }

  /** The MASS form of [[refreshHealth]] over a shared,
    * already-materialized delta (the e115 one-diff discipline): the
    * merged `(source, lang, n_docs, sum_tokens, sum_q)` state itself,
    * still mergeable — [[finishHealth]] is the read-time face. */
  def refreshHealthSumsWith(baseSums: DataFrame, older: DataFrame,
      newer: DataFrame, subIds: DataFrame, addIds: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val sub = healthSums(older.join(subIds, Seq(idCol), "left_semi"))
      .select(col("source"), col("lang"), (-col("n_docs")).as("n_docs"),
        (-col("sum_tokens")).as("sum_tokens"), (-col("sum_q")).as("sum_q"))
    val add = healthSums(newer.join(addIds, Seq(idCol), "left_semi"))
    baseSums.unionByName(sub).unionByName(add)
      .groupBy("source", "lang")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"),
        sum(col("sum_q")).as("sum_q"))
  }

  /** The dashboard face of a [[healthSums]] mass frame: drop
    * zero-mass groups (a recompute would never show them) and derive
    * the mean — the ONE division, deferred to read time so the mass
    * stays mergeable. */
  def finishHealth(sums: DataFrame): DataFrame =
    sums.where(col("n_docs") > 0)
      .select(col("source"), col("lang"), col("n_docs"), col("sum_tokens"),
        (col("sum_q").cast("double") / col("n_docs").cast("double"))
          .as("avg_quality"))

  private def statusOf(older: DataFrame, newer: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    // The hash compare is null-safe for the same reason the index
    // carries the presence flag — NULL content on both sides is
    // `unchanged`, NULL vs non-NULL is `changed`.
    hashIndex(older, idCol, contentCol)
      .join(newer.select(col(idCol), md5(col(contentCol)).as("_h_new"),
        lit(true).as("_in_new")), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("_h_old") <=> col("_h_new")), lit("changed"))
          .otherwise(lit("unchanged")))
  }
}
