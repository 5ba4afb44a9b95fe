package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash group-by), MinHash signatures + LSH banding, and exact
  * n-gram Jaccard verification.
  *
  * Scale notes (100 TB):
  * - Exact dedup groups by `md5(text)` so the shuffle moves 32-byte
  *   digests, not document bodies.
  * - MinHash signature build is explode(shingles) + map-side partial
  *   `min` aggregation — the shuffle carries one row per (doc, shingle)
  *   but combiners collapse to k mins per doc per partition.
  * - LSH banding turns the quadratic all-pairs problem into equi-joins
  *   on (band, band_hash) buckets; hot buckets (boilerplate shingles)
  *   should be frequency-capped at scale — AQE skew-join handles
  *   moderate skew, and a stop-shingle filter (document frequency cap)
  *   is the structural fix.
  *
  * All hashing is md5-based so every stage has a DuckDB-SQL oracle twin.
  *
  * Algorithms (public literature): MinHash resemblance sketching —
  * Broder, "On the resemblance and containment of documents" (1997);
  * LSH banding — Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
  * ch. 3; SimHash — Charikar, "Similarity estimation techniques from
  * rounding algorithms" (STOC 2002).
  */
object Dedup {

  /** Number of minhash components (k) and LSH bands (k/2 rows per band). */
  val NumHashes = 8
  val NumBands = 4

  /** Exact duplicate groups: documents with byte-identical text collapse
    * to one group keyed by content hash. Output: (keep_id, n_dups). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles, exploded: (id, shingle). Documents with fewer
    * than n tokens produce no shingles. Tokenization = split on single
    * space (matches the DuckDB oracle's string_split). */
  def ngrams(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val w = split(col(textCol), " ")
    docs.select(col(idCol).as("id"), w.as("w"))
      .where(size(col("w")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("w")) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(col("w"), i + k + 1)): _*)))
        .as("s"))
  }

  /** Word 3-gram shingles — the MinHash/Jaccard shingle unit. */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ngrams(docs, 3, idCol, textCol)

  /** Universal-hash permutation constants (Carter–Wegman multiply-add,
    * splitmix64-derived, A odd for bijectivity mod 2^64). Public so the
    * SQL oracle inlines the identical literals. */
  val MinhashA: Seq[Long] = Seq(
    -2152535657050944081L, -7995527694508729151L, -7541218347953203505L,
    2092789425003139053L, 7958955049054603979L, 7134611160154358619L,
    -4799528948525441023L, 7191089600892374487L)
  val MinhashB: Seq[Long] = Seq(
    2532601429470541124L, -3386062195037776105L, 1243045329627533100L,
    1866550240620900528L, 5149949291087212246L, -4926187683138981485L,
    2475505609494469522L, 2522708310006964940L)

  /** MinHash signature per document: ONE base hash per shingle (first 15
    * md5 hex chars as a 60-bit long — engine-portable), permuted into k
    * components by k wrapping multiply-adds
    * ([[graft.functions.MulAddWrapExpr]]): h_j = min over shingles of
    * `A_j * h + B_j` (mod 2^64, signed-long min). One md5 + k codegen'd
    * multiply-adds per shingle replaces k md5 invocations, and the
    * shuffle carries k longs per doc instead of k 32-char hex strings.
    * Bit-reproducible in any engine with 64-bit modular arithmetic
    * (DuckDB twin: HUGEINT mod 2^64, re-signed).
    * Output: (doc_id, h0..h{k-1}: bigint). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(shingles(docs))

  /** Signature build over an explicit (id, s) shingle frame — shared
    * with [[dedupScoreboard]], which already holds the shingles. */
  private def signaturesFromShingles(sh: DataFrame): DataFrame = {
    val base = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
    val aggs = (0 until NumHashes).map(j =>
      min(graft.functions.mulAddWrap(col("_h"), MinhashA(j), MinhashB(j))).as(s"h$j"))
    sh.select(col("id"), base.as("_h"))
      .groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("id", "doc_id")
  }

  /** Row-LOCAL minhash signature columns: identical values to
    * [[minhashSignatures]] but computed entirely within the document row
    * via higher-order array functions — no explode, no shuffle, so a
    * single-pass pipeline can skip the signature shuffle. Documents with
    * fewer than 3 tokens get NULL components (they have no shingles). */
  def minhashSignatureCols(textCol: Column): Seq[Column] = {
    val w = split(textCol, " ")
    val shingleArr = when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
      .otherwise(array())
    val hashes = transform(shingleArr, s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    (0 until NumHashes).map(j =>
      array_min(transform(hashes, h =>
        graft.functions.mulAddWrap(h, MinhashA(j), MinhashB(j)))).as(s"h$j"))
  }

  /** LSH candidate pairs: signatures are cut into [[NumBands]] bands of 2
    * components; documents sharing any band hash become a candidate pair.
    * Band buckets hotter than `maxBucket` members are dropped before the
    * self-join ([[graft.operators.Skew.capBuckets]]): a boilerplate
    * shingle that lands >cap documents in one bucket would contribute
    * O(n^2) candidate pairs and no dedup signal. Drops are observed
    * in-plan and logged. Output: (doc_a, doc_b) with doc_a < doc_b,
    * distinct. */
  def minhashCandidatePairs(docs: DataFrame,
      maxBucket: Long = Skew.DefaultBucketCap): DataFrame =
    candidatePairsFromSignatures(minhashSignatures(docs), maxBucket, "minhash_band")

  /** Capped banded buckets `(doc_id, band, bh)` for a signature frame —
    * shared by the self-join pair generator and the cross-corpus
    * [[fuzzyJoin]]. */
  private def bandBuckets(sig: DataFrame, maxBucket: Long,
      capTag: String): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}").cast("string"),
          col(s"h${2 * b + 1}").cast("string"))).as("bh"))
    }
    Skew.capBuckets(
      sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh")),
      Seq("band", "bh"), maxBucket, capTag)
  }

  /** Banding + capped bucket self-join over an explicit signature frame
    * — shared by the plain and DF-filtered pipelines. */
  private def candidatePairsFromSignatures(sig: DataFrame, maxBucket: Long,
      capTag: String): DataFrame = {
    val bands = bandBuckets(sig, maxBucket, capTag)
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** CROSS-CORPUS fuzzy join — entity matching between two document
    * frames (match scraped pages to canonical sources, link corpus
    * versions, align translations' shared boilerplate): LSH banding on
    * each side proposes candidates where band hashes collide ACROSS the
    * frames (never within one — no self-pairs, no within-corpus work),
    * then exact n-gram Jaccard verifies only those candidates, exactly
    * the [[nearDupPairs]] discipline. Both sides' buckets are
    * independently capped ([[graft.operators.Skew.capBuckets]]), so a
    * boilerplate band on either side cannot blow up the join. Output:
    * `(left_id, right_id, jaccard)` with jaccard >= threshold. */
  def fuzzyJoin(left: DataFrame, right: DataFrame, threshold: Double,
      maxBucket: Long = Skew.DefaultBucketCap): DataFrame = {
    val la = bandBuckets(minhashSignatures(left), maxBucket, "fuzzy_left")
      .select(col("doc_id").as("left_id"), col("band"), col("bh"))
    val rb = bandBuckets(minhashSignatures(right), maxBucket, "fuzzy_right")
      .select(col("doc_id").as("right_id"), col("band"), col("bh"))
    // (Candidate-routing the left shingle pass through the band
    // collisions — the [[dedupAgainstIndex]] shape — was tried here and
    // REVERTED: on this operator's declared inputs the candidate set
    // covers most of the left side, so the extra semi-join plus the
    // candidate materialization cost ~1.4x at sf0.1 and saved nothing;
    // the index-reuse form that DOES pay off at corpus scale is
    // [[dedupAgainstIndex]], which restricts the corpus side before
    // shingling against a persisted signature index.)
    val cands = la.join(rb, Seq("band", "bh"))
      .select("left_id", "right_id").distinct()
    val tl = shingles(left).distinct().select(col("id").as("left_id"), col("s"))
    val tr = shingles(right).distinct().select(col("id").as("right_id"), col("s"))
    val nl = tl.groupBy("left_id").agg(count(lit(1)).as("_szl"))
    val nr = tr.groupBy("right_id").agg(count(lit(1)).as("_szr"))
    val inter = cands.join(tl, "left_id").join(tr, Seq("right_id", "s"))
      .groupBy("left_id", "right_id").agg(count(lit(1)).as("_inter"))
    inter.join(nl, "left_id").join(nr, "right_id")
      .select(col("left_id"), col("right_id"),
        (col("_inter").cast("double") /
          (col("_szl") + col("_szr") - col("_inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Batch index-reuse dedup — the production crawl-ingest shape: dedup
    * a NEW shard against an EXISTING corpus through its persisted MinHash
    * signature index (`index` = the [[minhashSignatures]] output,
    * written once at ingest time) without recomputing a single corpus
    * signature. Banding over the index is signature-arithmetic only
    * (md5 over two longs per band — no corpus text touched), the
    * band-probe join proposes cross candidates exactly like
    * [[fuzzyJoin]], and the exact n-gram Jaccard verify re-shingles
    * ONLY the candidate corpus documents (`corpusText` is semi-join-
    * routed through the candidate ids before any shingling). Cost
    * therefore tracks the NEW batch — its signatures, its band
    * collisions, its candidates' verify — plus one pruned (id, text)
    * corpus scan; never the corpus's shingle/signature work. Both
    * sides' band buckets are independently capped
    * ([[graft.operators.Skew.capBuckets]]). Restriction law
    * (DedupSpec): equals [[fuzzyJoin]](newDocs, corpus) when `index`
    * is the corpus's signature table. Output:
    * `(new_id, corpus_id, jaccard)` with jaccard >= threshold. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      corpusText: DataFrame, threshold: Double,
      maxBucket: Long = Skew.DefaultBucketCap): DataFrame = {
    val nb = bandBuckets(minhashSignatures(newDocs), maxBucket, "ingest_new")
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    val cb = bandBuckets(index, maxBucket, "ingest_index")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bh"))
    // Materialized once (batch-sized by construction — the q33
    // discipline): the candidate list feeds BOTH the corpus hydration
    // semi-join and the verify spine, and exchange reuse alone would
    // re-run the distinct aggregation per consuming subtree.
    val cands = graft.plans.Supersteps.cut(
      nb.join(cb, Seq("band", "bh"))
        .select("new_id", "corpus_id").distinct())
    val tn = shingles(newDocs).distinct()
      .select(col("id").as("new_id"), col("s"))
    val candDocs = corpusText.join(
      cands.select(col("corpus_id")).distinct(),
      corpusText("doc_id") === col("corpus_id"), "left_semi")
    val tc = shingles(candDocs).distinct()
      .select(col("id").as("corpus_id"), col("s"))
    val nn = tn.groupBy("new_id").agg(count(lit(1)).as("_szn"))
    val nc = tc.groupBy("corpus_id").agg(count(lit(1)).as("_szc"))
    val inter = cands.join(tn, "new_id").join(tc, Seq("corpus_id", "s"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("_inter"))
    inter.join(nn, "new_id").join(nc, "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (col("_inter").cast("double") /
          (col("_szn") + col("_szc") - col("_inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard similarity over distinct shingle sets for all
    * pairs with similarity >= threshold. Quadratic in shared-shingle
    * pairs — at scale, run it only on LSH candidates (compose with
    * [[minhashCandidatePairs]]); kept standalone here so the oracle can
    * verify the exact result. Output: (doc_a, doc_b, jaccard). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsFrom(shingles(docs).distinct(), threshold)

  /** [[ngramJaccardPairs]] over an explicit DISTINCT `(id, s)` shingle
    * frame — the seam that lets a harness share one materialized
    * tokenize pass between the truth's self-join and other consumers
    * ([[dedupScoreboard]]). */
  private def ngramJaccardPairsFrom(t: DataFrame, threshold: Double): DataFrame = {
    val n = t.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = t.alias("ta")
    val b = t.alias("tb")
    val inter = a.join(b, col("ta.s") === col("tb.s") && col("ta.id") < col("tb.id"))
      .groupBy(col("ta.id").as("doc_a"), col("tb.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val na = n.select(col("id").as("_ida"), col("sz").as("sza"))
    val nb = n.select(col("id").as("_idb"), col("sz").as("szb"))
    inter.join(na, col("doc_a") === col("_ida"))
      .join(nb, col("doc_b") === col("_idb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The scale-path near-dup pipeline: LSH banding proposes candidate
    * pairs (sub-quadratic), then exact n-gram Jaccard verifies ONLY those
    * candidates — the shingle intersection is routed through the
    * candidate list, so unlike [[ngramJaccardPairs]] no all-shared-
    * shingle self-join ever materializes. Output = pairs that are both
    * LSH candidates and >= threshold (exactly SQL-checkable; with the
    * fixture's measured LSH recall of 1.0 it equals the exhaustive
    * result). */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // (Sharing ONE materialized shingle+distinct frame between the
    // candidate and verify legs — the [[dedupScoreboard]] shape — was
    // tried here and REVERTED: the r16 8x tier read e17 at ~2x its
    // recorded ratio while untouched tier queries tracked the window,
    // i.e. persisting a corpus-sized row-format shingle copy costs
    // more at scale than re-scanning columnar parquet per leg — the
    // same trade [[Similarity.semDedup]]'s hoisted-norm scaladoc
    // documents. The scoreboard keeps the shared frame because its
    // harness contract is calibration-sized; the production pipeline
    // streams.)
    val cands = minhashCandidatePairs(docs)
    val t = shingles(docs).distinct()
    val n = t.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val ta = t.select(col("id").as("doc_a"), col("s"))
    val tb = t.select(col("id").as("doc_b"), col("s"))
    val inter = cands.join(ta, "doc_a").join(tb, Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val na = n.select(col("id").as("_ida"), col("sz").as("sza"))
    val nb = n.select(col("id").as("_idb"), col("sz").as("szb"))
    inter.join(na, col("doc_a") === col("_ida"))
      .join(nb, col("doc_b") === col("_idb"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Transitive dedup clusters — the end deliverable of the dedup
    * pipeline: connected components over the LSH candidate-pair graph,
    * emitted as `(doc_id, keep_id)` where `keep_id` is the minimum doc
    * id in the component (the canonical survivor). Every input document
    * appears; docs in no candidate pair keep themselves. Near-dup
    * similarity is not transitive, so clustering the pair graph is the
    * standard resolution (dedup keeps ONE doc per chain A~B~C even when
    * A!~C directly).
    *
    * Implementation: the pair graph's components resolve behind the
    * fixpoint family's size-adaptive escape
    * ([[graft.plans.Supersteps.escape]]). Near-dup pair sets are sparse
    * by construction (banded LSH candidates), so a bounded pair set
    * resolves with one driver union-find (min-rep rule — exactly the
    * min-label fixpoint's representative) and ONE corpus join attaches
    * keep_id; docs outside any pair keep themselves via the left-join
    * coalesce. Above the cap the doubled pair edges run
    * [[graft.analytics.Iterative.minLabelLoop]] from every doc's own
    * label: one observed checkpoint action per round, pointer jumping
    * (O(log diameter) rounds), and it converges or throws — never a
    * silently capped `maxIter`. For adversarially deep components run
    * [[graft.analytics.GraphXBridge]] connected components instead
    * (Pregel halves rounds via large-star/small-star style hops). */
  def dedupClusters(docs: DataFrame, maxIter: Int = 20,
      maxBucket: Long = graft.operators.Skew.DefaultBucketCap,
      smallGraphRows: Long =
        graft.analytics.Iterative.DefaultSmallGraphRows): DataFrame = {
    val pairs = minhashCandidatePairs(docs, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    graft.plans.Supersteps.escape(Seq(pairs), smallGraphRows) {
      case Seq(rows) =>
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val comps = docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(graft.analytics.Iterative
            .minRepComponents(rows).map { case (v, k) =>
              org.apache.spark.sql.Row(v, k) }: _*),
          StructType(Seq(StructField("doc_id", LongType, nullable = false),
            StructField("_keep", LongType, nullable = false))))
        docs.select(col("doc_id"))
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_keep"), col("doc_id")).as("keep_id"))
    } { case (Seq(p), _) =>
      val labels = graft.analytics.Iterative.minLabelLoop(
        p.select(col("doc_a").as("_s"), col("doc_b").as("_d"))
          .unionByName(p.select(col("doc_b").as("_s"), col("doc_a").as("_d"))),
        docs.select(col("doc_id").as("_v"), col("doc_id").as("_lbl")),
        maxIter)
      graft.plans.Supersteps.release(p) // loop-only input, now consumed
      labels.select(col("_v").as("doc_id"), col("_lbl").as("keep_id"))
    }
  }

  /** Exact-dup survivors: the minimum-id document of each byte-identical
    * text group, with all columns preserved. Window formulation (ONE
    * shuffle on the 32-byte content hash) rather than groupBy+self-join
    * (two shuffles) — the filter a pipeline composes in-plan where
    * [[exactGroups]] is the reporting form. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Corpus-wide duplicated SPANS (substring-level dedup, the
    * granularity below whole-document near-dup): every maximal run of
    * token positions whose k-token windows each occur at >= 2 positions
    * ANYWHERE in the corpus (other documents or a repeat within the
    * same one). This is the fixed-granularity form of the
    * suffix-array ExactSubstr method (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): windows
    * at stride 1 detect any duplicated passage of >= k tokens, with
    * boundaries resolved to window granularity, and the work stays
    * LINEAR in corpus tokens — the 100-TB shape a distributed suffix
    * array cannot match. Plan: one explode to (doc, pos, md5(window))
    * [the shuffle moves 32-byte digests], one count-by-hash with
    * map-side combine, one semi-join back, and a per-document
    * gaps-and-islands window (partitioned by doc_id — fan-in bounded
    * by document length, never a global sort). Tokenization = single
    * space ([[ngrams]]' convention, matching DuckDB string_split).
    *
    * Output: (doc_id, span_start, span_end, span_tokens) — 1-based
    * inclusive token positions, all integers so the oracle hashes
    * exactly. */
  /** The md5-hashed k-token windows of a corpus: (doc_id, _pos, _h)
    * with 1-based window start positions — the shared first stage of
    * [[duplicatedSpans]] and [[decontaminateSpans]]. */
  private def kgramWindows(docs: DataFrame, k: Int,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("w")) - k),
        i => md5(concat_ws(" ",
          (0 until k).map(j => element_at(col("w"), i + j + 1)): _*))))
        .as(Seq("_p0", "_h")))
      .select(col("doc_id"), (col("_p0") + 1).as("_pos"), col("_h"))

  /** Gaps-and-islands merge of marked window positions into maximal
    * spans — the shared second stage: consecutive marked starts
    * (pos − row_number constant) collapse into one
    * (doc_id, span_start, span_end, span_tokens) row covering
    * [min, max + k − 1]. */
  private def islandSpans(marked: DataFrame, k: Int): DataFrame = {
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_pos"))
    marked
      .withColumn("_g", col("_pos") - row_number().over(wnd))
      .groupBy(col("doc_id"), col("_g"))
      // bigint outputs: the DuckDB twin's positions are BIGINT and the
      // oracle hash is width-sensitive
      .agg(min(col("_pos")).cast("long").as("span_start"),
        (max(col("_pos")) + lit(k - 1)).cast("long").as("span_end"),
        (max(col("_pos")) + lit(k) - min(col("_pos"))).cast("long").as("span_tokens"))
      .drop("_g")
  }

  def duplicatedSpans(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"duplicatedSpans needs k >= 2, got $k")
    val wins = kgramWindows(docs, k, idCol, textCol)
    val dup = wins.groupBy(col("_h")).agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
    islandSpans(wins.join(dup.select("_h"), Seq("_h"), "left_semi"), k)
  }

  /** Rewrite each document with its duplicated spans REMOVED — the
    * cleaning transform over [[duplicatedSpans]]' report (ExactSubstr
    * dedup's second half: Lee et al. cut every duplicated passage from
    * the training corpus, whole-doc dropping being too blunt when only
    * a boilerplate paragraph repeats). Spans aggregate per document
    * (collect_list on the doc_id-partitioned span frame — bounded by
    * spans-per-doc, never corpus-wide), join back on doc_id (hash
    * partitioned; Catalyst broadcasts when the span side is small),
    * and the excision itself is ROW-LOCAL codegen: an indexed
    * `filter` over the token array dropping positions covered by any
    * span interval. Documents with no spans pass through unchanged
    * (left join), including sub-k-token ones. Output: (doc_id,
    * clean_text, n_tokens_removed). */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    exciseSpans(docs, duplicatedSpans(docs, k, idCol, textCol),
      idCol, textCol)

  /** Rewrite each document with the given `(doc_id, span_start,
    * span_end)` intervals cut out — the shared excision stage of
    * [[removeDuplicatedSpans]] and [[decontaminateSpans]]: spans
    * aggregate per document (bounded by spans-per-doc), join back on
    * doc_id, and the cut is a ROW-LOCAL indexed token filter. Docs
    * with no spans pass through unchanged (left join). Output:
    * (doc_id, clean_text, n_tokens_removed). */
  private def exciseSpans(docs: DataFrame, spanFrame: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val spans = spanFrame
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("_spans"))
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_w"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // coalesce(false): a doc with NO spans has a null _spans and
        // exists() yields null — which filter() would DROP, emptying
        // every clean document
        filter(col("_w"), (_, i) => !coalesce(exists(col("_spans"),
          s => (i + 1 >= s.getField("s")) && (i + 1 <= s.getField("e"))),
          lit(false)))
          .as("_kept"),
        size(col("_w")).as("_n"))
      .select(col("doc_id"),
        concat_ws(" ", col("_kept")).as("clean_text"),
        (col("_n") - size(col("_kept"))).cast("long").as("n_tokens_removed"))
  }

  /** SPAN-LEVEL decontamination — the surgical middle ground between
    * [[decontaminate]]'s whole-document drop and keeping contaminated
    * text: every maximal run of training k-grams that also appears in
    * the benchmark split is CUT from the document, the rest survives
    * (the PaLM/Lee-et-al. discipline: dropping a whole 10k-token doc
    * for one leaked question wastes data; keeping the leaked span
    * poisons eval). `benchPred` splits one frame — a NULL predicate
    * row is TRAIN (coalesce(false), the [[graft.ext.Similarity
    * .semanticDecontaminate]] totality lesson).
    *
    * Scale shape: both windowings are the [[duplicatedSpans]] digest
    * stream; the dirty mark is a left-semi join against the DISTINCT
    * benchmark hash set (hash-keyed shuffle, AQE broadcasts a small
    * benchmark — never a collect); islands and excision are the shared
    * per-doc stages. Output: every TRAIN doc as (doc_id, clean_text,
    * n_tokens_removed) — clean docs pass through with 0 removed. */
  def decontaminateSpans(docs: DataFrame, benchPred: Column, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, s"decontaminateSpans needs k >= 2, got $k")
    val isBench = coalesce(benchPred, lit(false))
    val train = docs.where(!isBench)
    val benchH = kgramWindows(docs.where(isBench), k, idCol, textCol)
      .select("_h").distinct()
    val marked = kgramWindows(train, k, idCol, textCol)
      .join(benchH, Seq("_h"), "left_semi")
    exciseSpans(train, islandSpans(marked, k), idCol, textCol)
  }

  /** Near-dup survivors under the KEEP-FIRST policy: drop every document
    * that is the greater member of a verified near-dup pair
    * ([[nearDupPairs]]: LSH candidates, exact-Jaccard >= threshold), via
    * one left-anti join. This is the single-plan, no-action policy —
    * composable inside a larger pipeline; for chains A~B~C it can keep
    * more than one doc per transitive cluster (here: drops B and C,
    * keeps A — but a doc whose neighbors all have LARGER ids survives).
    * The transitive-cluster policy (exactly one survivor per component)
    * is [[dedupClusters]], which needs an iterative fixpoint. */
  def dropNearDuplicates(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id"): DataFrame = {
    val losers = nearDupPairs(docs, threshold)
      .select(col("doc_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination report: for each training document, the
    * number of distinct word n-grams it shares with the benchmark corpus
    * — the test-set-overlap check every serious pretraining pipeline
    * runs before training (n-gram overlap decontamination as described
    * in the GPT-3 and Pile papers; production uses n of 8-13, the short
    * synthetic fixture uses smaller n). Only contaminated documents
    * appear (n_hits >= 1).
    *
    * Scale shape: distinct-gram projection on both sides, one equi-join
    * on the gram, count per doc. The benchmark side is a benchmark
    * suite — thousands of docs, not corpus-scale — so Spark broadcasts
    * it; the training side streams map-side. Output: (doc_id, n_hits). */
  def contaminationReport(train: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    // Join BEFORE the distinct (guide §2.3/§3.2 — filter the big side
    // before it shuffles): the benchmark gram set is broadcast-small by
    // definition, so the inner join drops non-matching train grams
    // MAP-SIDE and only the (rare) contaminated grams pay the
    // distinct's exchange. Previously EVERY distinct train gram crossed
    // a corpus-wide shuffle first. join-then-distinct equals
    // distinct-then-join here because the bench side is distinct on the
    // join key, so duplicates only ever multiply map-side rows that the
    // (id, s) distinct collapses again.
    val b = ngrams(benchmark, n).select(col("s")).distinct()
    ngrams(train, n).join(broadcast(b), "s")
      .select(col("id"), col("s")).distinct()
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Training documents with ZERO benchmark n-gram overlap — the
    * decontaminated corpus ([[contaminationReport]] as a filter, one
    * left-anti join; all columns preserved). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id"): DataFrame =
    train.join(
      contaminationReport(train, benchmark, n).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Leakage-safe train/val/test assignment: split membership is decided
    * by the near-dup CLUSTER representative, not the document itself —
    * so a near-duplicate pair can never straddle train and test (the
    * eval-leakage failure mode hash-per-document splitting cannot
    * prevent: two near-identical documents hash independently). The
    * composition is [[dedupClusters]] (keep_id = min id of the
    * transitive near-dup component) followed by
    * [[Sampling.assignSplits]] keyed on keep_id; growth-stability is
    * inherited — a new corpus shard can merge clusters (moving a
    * cluster wholesale), but never sends two members of one cluster to
    * different splits. Output: (doc_id, keep_id, split). */
  def leakageSafeSplits(docs: DataFrame, splits: Seq[(String, Double)],
      maxIter: Int = 20,
      maxBucket: Long = graft.operators.Skew.DefaultBucketCap): DataFrame =
    Sampling.assignSplits(dedupClusters(docs, maxIter, maxBucket),
        col("keep_id"), splits)
      .select(col("doc_id"), col("keep_id"), col("split"))

  /** [[decontaminate]] with a Bloom-filter prefilter on the training
    * side — the 100-TB shape of n-gram decontamination.
    *
    * [[decontaminate]] shuffles every distinct training n-gram into the
    * verify join; at corpus scale that shuffle IS the job. Here the
    * benchmark side (small by definition — a benchmark suite, not a
    * corpus) is folded once into a Bloom filter using Spark's own
    * runtime-filter machinery (`BloomFilterAggregate` over
    * `xxhash64(gram)`, the exact aggregate `InjectRuntimeFilter` plants
    * for join pruning), and the filter blob rides the plan as a literal
    * so every executor drops non-candidate grams MAP-SIDE via the
    * codegen'd `BloomFilterMightContain` probe. Only the ~fpp false
    * positives plus true hits pay the exact-verify semi-join, so the
    * result is EXACTLY [[decontaminate]] (Bloom filters have no false
    * negatives; the verify join removes the false positives) — which is
    * why the oracle for this operator is the plain exact SQL.
    *
    * The one driver-side action folds the benchmark grams to a bounded
    * blob (`optimalNumOfBits(est, fpp)` bits; ~1.2 MiB at 1 M grams /
    * 1% fpp) — the same footprint class as a broadcast dimension.
    * Empty benchmark => train passes through unchanged. */
  def bloomDecontaminate(train: DataFrame, benchmark: DataFrame, n: Int,
      fpp: Double = 0.01, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.util.sketch.BloomFilter

    val bench = ngrams(benchmark, n).select(col("s")).distinct()
    val est = bench.count()
    if (est == 0L) return train
    val numBits = math.max(64L, BloomFilter.optimalNumOfBits(est, fpp))
    val bloomAgg = new BloomFilterAggregate(
      new XxHash64(Seq(expression(col("s")))),
      CatLit(est), CatLit(numBits)).toAggregateExpression()
    val bloomBytes = bench.select(column(bloomAgg)).head().getAs[Array[Byte]](0)

    val candidates = ngrams(train, n, idCol).where(column(
      BloomFilterMightContain(CatLit(bloomBytes),
        new XxHash64(Seq(expression(col("s")))))))
    val contaminated = candidates.join(bench, Seq("s"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[dedupClusters]] with the connected components delegated to
    * GraphX's Pregel implementation — identical output contract
    * `(doc_id, keep_id = min id in component)`. The label-propagation
    * loop needs one driver round-trip per graph-diameter level;
    * GraphX's pointer-jumping-style message passing converges in
    * O(log d) supersteps with no per-round driver action, which wins
    * for ADVERSARIALLY DEEP components (a long chain of near-dups —
    * rare in practice, where dedup components are short). Prefer the
    * default loop for typical corpora (no RDD round-trip); switch here
    * when cluster depth is unknown. */
  def dedupClustersGraphX(docs: DataFrame, maxBucket: Long = Skew.DefaultBucketCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = minhashCandidatePairs(docs, maxBucket)
    val edges = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .rdd.map { case (a, b) => org.apache.spark.graphx.Edge(a, b, ()) }
    val graph = org.apache.spark.graphx.Graph.fromEdges(edges, ())
    // GraphX CC labels every vertex with the min vertex id reachable —
    // exactly dedupClusters' canonical-survivor rule.
    val comps = graph.connectedComponents().vertices
      .toDF("doc_id", "keep_id")
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
  }

  /** SimHash 64-bit fingerprint per document via the typed
    * [[SimHashAggregator]]: near-duplicates land within small Hamming
    * distance. Token hash = first 15 hex chars of md5 (60 bits, stays in
    * positive Long range). Output: (doc_id, simhash). */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    toks.groupBy("doc_id")
      .agg(SimHashAggregator.asColumn(col("h")).as("simhash"))
  }

  /** Pairs of documents whose simhash fingerprints are within `maxDist`
    * Hamming distance, bucketed by 16-bit bands to avoid the full cross
    * join (same banding idea as LSH: near fingerprints share at least one
    * of the 4 bands when maxDist < 4 by pigeonhole). Buckets hotter than
    * `maxBucket` members are dropped before the self-join (see
    * [[minhashCandidatePairs]]). */
  def simhashNearPairs(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Long = Skew.DefaultBucketCap): DataFrame = {
    val sh = simhash(docs)
    val bands = Skew.capBuckets(
      sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bh"))): _*)).as("bb"))
        .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bh")),
      Seq("band", "bh"), maxBucket, "simhash_band")
    val a = bands.alias("a")
    val b = bands.alias("b")
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Unified near-dup detector scoreboard — the e72 (ANN recall)
    * discipline applied to the DEDUP family: every sub-quadratic
    * detector measured as pair-level precision/recall against the
    * exact n-gram-Jaccard ground truth at `threshold`, so choosing a
    * detector (and its banding/distance knobs) is a measurement, not a
    * guess. Detectors scored: MinHash-LSH banding candidates
    * ([[minhashCandidatePairs]]) and banded SimHash Hamming pairs at
    * `maxDist` ([[simhashNearPairs]]).
    *
    * Runs the brute-force truth BY CONTRACT (the e72 rationale: an
    * evaluation harness is calibration-sized — run it on a sample or
    * fixture, deploy the winning detector at corpus scale). Truth is
    * computed ONCE (checkpointed) and each detector adds one left-semi
    * join + three 1-row count aggregates — the 1-row crossJoins are
    * bounded by construction. Output, one row per detector:
    * (method, n_detected, n_truth, tp, prec, recall) with the ratios
    * as exact int/int doubles and empty sides scoring 0.0. */
  def dedupScoreboard(docs: DataFrame, threshold: Double = 0.5,
      maxDist: Int = 3): DataFrame = {
    // ONE tokenize+shingle+distinct pass, materialized, feeds both the
    // exact-Jaccard truth (whose self-join and size aggregate read it
    // three times) and the MinHash detector's signatures (min over a
    // multiset equals min over its distinct set, so signatures built
    // from the distinct frame are bit-identical to
    // [[minhashSignatures]]) — previously each leg re-ran the corpus
    // md5-per-shingle pipeline from the text scan. Calibration-sized
    // by the harness contract, so the materialized copy is bounded.
    val sh = shingles(docs).distinct().localCheckpoint()
    val truth = ngramJaccardPairsFrom(sh, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    def score(method: String, det: DataFrame): DataFrame = {
      val d = det.select(col("doc_a"), col("doc_b"))
      val nd = d.agg(count(lit(1)).as("n_detected"))
      val tp = d.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      nd.crossJoin(tp).crossJoin(broadcast(nTruth))
        .select(lit(method).as("method"), col("n_detected"),
          col("n_truth"), col("tp"),
          when(col("n_detected") > 0,
            col("tp").cast("double") / col("n_detected").cast("double"))
            .otherwise(lit(0.0)).as("prec"),
          when(col("n_truth") > 0,
            col("tp").cast("double") / col("n_truth").cast("double"))
            .otherwise(lit(0.0)).as("recall"))
    }
    score("minhash_lsh", candidatePairsFromSignatures(
        signaturesFromShingles(sh), Skew.DefaultBucketCap, "minhash_band"))
      .unionAll(score(s"simhash_h$maxDist", simhashNearPairs(docs, maxDist)))
  }

  /** Quality-aware canonical selection: [[dedupClusters]]' transitive
    * near-dup components with the survivor chosen by ARGMAX QUALITY
    * (ties to the smaller id) instead of min-id — the policy real
    * curation pipelines ship (keep the cleanest copy, not the
    * first-crawled one; min-id keeps whichever URL was seen first).
    * `score` is any per-doc quality column expressed over `docs`'
    * columns (e09's rule score in the e94 query; a trained scorer in
    * production).
    *
    * Scale shape: the cluster fixpoint unchanged, one doc-grain score
    * projection, and a keep_id-partitioned argmax window — partitions
    * are CLUSTER-sized (near-dup components are short in practice;
    * the [[Skew]] bucket caps already bound the pathological case
    * upstream). Output: `(doc_id, keep_id, best_id)` — `doc_id ==
    * best_id` marks the survivors. */
  def keepBestPerCluster(docs: DataFrame, score: Column,
      maxIter: Int = 20,
      maxBucket: Long = graft.operators.Skew.DefaultBucketCap): DataFrame = {
    val clusters = dedupClusters(docs, maxIter, maxBucket)
    val scored = docs.select(col("doc_id"), score.as("_q"))
    val j = clusters.join(scored, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("keep_id"))
      .orderBy(col("_q").desc, col("doc_id"))
    val best = j.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("keep_id"), col("doc_id").as("best_id"))
    j.join(best, Seq("keep_id"))
      .select(col("doc_id"), col("keep_id"), col("best_id"))
  }

  /** Decontamination-detector scoreboard — the [[dedupScoreboard]]
    * discipline for the DECONTAMINATION family: every detector's
    * doc-level contaminated set scored as precision/recall against the
    * `nTruth`-gram exact-overlap ground truth ([[contaminationReport]],
    * the e34 definition), so the n-gram size and detector family are
    * chosen by measurement, not folklore. Rows:
    *
    *   - `exact_n{n}` for each n in `ns` — exact word-n-gram overlap at
    *     looser/reference/stricter n (the knob the GPT-3/Pile appendix
    *     debates: small n over-flags boilerplate, large n misses
    *     paraphrased leakage);
    *   - `bloom_n{nTruth}` — the [[bloomDecontaminate]] scale path;
    *     scores EXACTLY 1.0/1.0 by construction (no false negatives,
    *     verify-join removes false positives) — the row that PROVES the
    *     100-TB shape loses nothing;
    *   - `fuzzy_j{θ}` — [[fuzzyJoin]] at `fuzzyThreshold` shingle
    *     Jaccard: the paraphrase-tolerant detector.
    *
    * Scale shape: each leg reuses its operator's bounded form
    * (broadcast benchmark side, Bloom blob literal, banded LSH with
    * capped buckets); the truth set is contaminated-docs-sized and
    * checkpointed once. Output:
    * `(method, n_detected, n_truth, tp, prec, recall)`. */
  def decontaminationScoreboard(docs: DataFrame, benchPred: Column,
      ns: Seq[Int] = Seq(2, 4, 8), nTruth: Int = 4,
      fuzzyThreshold: Double = 0.5): DataFrame = {
    require(ns.contains(nTruth),
      s"truth n-gram size $nTruth must be one of the swept sizes $ns")
    val isBench = coalesce(benchPred, lit(false))
    val train = docs.where(!isBench)
    val bench = docs.where(isBench)
    val truth = contaminationReport(train, bench, nTruth)
      .select(col("doc_id")).localCheckpoint()
    val nTruthC = truth.agg(count(lit(1)).as("n_truth"))
    def score(method: String, det: DataFrame): DataFrame = {
      val d = det.select(col("doc_id"))
      val nd = d.agg(count(lit(1)).as("n_detected"))
      val tp = d.join(truth, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      nd.crossJoin(tp).crossJoin(broadcast(nTruthC))
        .select(lit(method).as("method"), col("n_detected"),
          col("n_truth"), col("tp"),
          when(col("n_detected") > 0,
            col("tp").cast("double") / col("n_detected").cast("double"))
            .otherwise(lit(0.0)).as("prec"),
          when(col("n_truth") > 0,
            col("tp").cast("double") / col("n_truth").cast("double"))
            .otherwise(lit(0.0)).as("recall"))
    }
    val exact = ns.map { n =>
      // the truth checkpoint IS the n = nTruth detector's output —
      // reuse it rather than re-running the gram join
      score(s"exact_n$n",
        if (n == nTruth) truth else contaminationReport(train, bench, n))
    }
    val bloomDet = train
      .join(bloomDecontaminate(train, bench, nTruth), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val fuzzyDet = fuzzyJoin(train, bench, fuzzyThreshold)
      .select(col("left_id").as("doc_id")).distinct()
    val rows = exact :+
      score(s"bloom_n$nTruth", bloomDet) :+
      score(s"fuzzy_j${(fuzzyThreshold * 100).round}", fuzzyDet)
    rows.reduce(_ unionAll _)
  }
}
