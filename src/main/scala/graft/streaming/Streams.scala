package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Event-stream transforms written once and usable in both batch and
  * Structured Streaming mode (the transforms are plain logical-plan
  * builders; in streaming mode add a watermark first).
  *
  * The reference engine is strictly request/response OLTP with no
  * streaming surface (SURVEY.md §2.2) — this module is the extension
  * E4 layer over the `events` fixture table.
  */
object Streams {

  /** Attach an event-time watermark (streaming mode only; a no-op plan
    * decoration in batch). */
  def withWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Tumbling-window counts per event type.
    * Output: (window_start, event_type, cnt, min_value, max_value). */
  def tumblingCounts(events: DataFrame, duration: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), duration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("min_value"), col("max_value"))

  /** Sliding-window counts per event type (window `duration`, sliding
    * every `slide`). Windows align to the epoch, matching
    * `time_bucket`-based SQL oracles.
    * Output: (window_start, event_type, cnt). */
  def slidingCounts(events: DataFrame, duration: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), duration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session. Works in batch and streaming (streaming requires
    * the watermark). Output: (user_id, session_start, session_end,
    * n_events). */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Arbitrary per-key streaming state via `mapGroupsWithState`: a
    * running (events, value-sum) accumulator per user that survives
    * across triggers — the custom-state surface Structured Streaming
    * exposes beyond windowed aggregation. Update output mode; state
    * never expires (attach a timeout for production eviction). */
  def runningUserTotals(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state) =>
          val (n0, sum0) =
            if (state.exists) (state.get.n_events, state.get.value_sum)
            else (0L, 0.0)
          var n = n0
          var sum = sum0
          rows.foreach { case (_, v) => n += 1; sum += v }
          val updated = UserTotal(userId, n, sum)
          state.update(updated)
          updated
      }
  }

  final case class UserTotal(user_id: Long, n_events: Long, value_sum: Double)

  final case class Session(
    user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)
  /** State buffer for [[sessionizeWithState]] — public because the
    * encoder's generated code instantiates it reflectively. */
  final case class OpenSession(start: Long, last: Long, n: Long)

  /** Custom sessionization via `flatMapGroupsWithState` with EVENT-TIME
    * TIMEOUT — the full custom-state surface: sessions are held open in
    * state, split when a gap exceeds `gapMs`, and EVICTED (emitted +
    * state removed) when the watermark passes last-event + gap, so state
    * size tracks only the open sessions, never history. Semantics match
    * [[sessionize]] (session_end = last event + gap), INCLUDING
    * cross-trigger out-of-order arrivals above the watermark: state
    * holds every not-yet-evictable session, and an event merges into
    * any session whose span `[start, last+gap)` its own `[t, t+gap)`
    * window overlaps — extending `start` backwards for late events and
    * bridge-merging two open sessions when a late event connects them,
    * exactly as `session_window` does. A session closes only once the
    * watermark passes `last + gap`, at which point no admissible future
    * event (all have `t >= watermark`) can still touch it. In batch
    * mode Spark runs the same function with no timeouts, emitting every
    * session in one pass.
    *
    * This exists alongside the `session_window` form to cover session
    * logic the built-in window can't express (per-key gap rules, session
    * caps, enrichment on close); swap the state transition inside,
    * keep the eviction machinery. */
  def sessionizeWithState(events: DataFrame, gapMs: Long = 30L * 60 * 1000): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def close(userId: Long, s: OpenSession): Session =
      Session(userId, new Timestamp(s.start), new Timestamp(s.last + gapMs), s.n)

    // [t, t+gap) overlaps [s.start, s.last+gap) — session_window's merge rule
    def touches(s: OpenSession, t: Long): Boolean =
      t < s.last + gapMs && s.start < t + gapMs

    events.select(col("user_id").as[Long], col("ts").as[Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSession], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[List[OpenSession]]) =>
          val streaming = eventTimeTimeoutSupported(state)
          var open = state.getOption.getOrElse(Nil)
          if (!state.hasTimedOut) {
            // Sorted insertion is not required for correctness (overlap
            // merge is order-independent) but keeps counts deterministic.
            rows.map(_._2.getTime).toSeq.sorted.foreach { t =>
              val (touch, rest) = open.partition(touches(_, t))
              open = OpenSession(
                (t :: touch.map(_.start)).min,
                (t :: touch.map(_.last)).max,
                touch.map(_.n).sum + 1) :: rest
            }
          }
          // Evict sessions the watermark has sealed; batch mode seals all.
          val horizon = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (done, still) = open.partition(s => horizon - gapMs >= s.last)
          if (still.isEmpty) state.remove()
          else {
            state.update(still)
            if (streaming) {
              // wake when the watermark passes the earliest open session's
              // close point; must exceed the current watermark or Spark
              // rejects the timestamp
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(
                math.max(still.map(s => s.last + gapMs).min, wm + 1))
            }
          }
          done.sortBy(_.start).map(close(userId, _)).iterator
      }
  }

  /** Timeout registration requires a watermark; in batch mode (or an
    * unwatermarked stream) setting one throws — probe instead of
    * crashing so the same function runs in both modes. */
  private def eventTimeTimeoutSupported(state: GroupState[_]): Boolean =
    scala.util.Try(state.getCurrentWatermarkMs()).isSuccess

  /** One side of the streaming as-of join: `isLeft` tags probe rows
    * (get enriched) vs reference rows (provide the value). */
  final case class AsofInput(key: Long, ts: Long, isLeft: Boolean,
    leftId: Long, rightVal: Double, eventTime: Timestamp)
  final case class AsofState(
    rights: List[(Long, Double)], lefts: List[(Long, Long)])
  final case class AsofMatch(key: Long, left_id: Long, left_ts: Long,
    right_ts: Option[Long], right_val: Option[Double])

  /** Stream-stream AS-OF join — the streaming twin of
    * [[graft.operators.AsOfJoin.backward]]: each left (probe) row is
    * enriched with the latest right (reference) row at or before its
    * event time, per key.
    *
    * Correctness under out-of-order arrival: a left row cannot be
    * finalized until the watermark passes its timestamp (only then is
    * every earlier right row guaranteed to have arrived), so left rows
    * buffer in state and an EVENT-TIME TIMEOUT flushes them as the
    * watermark advances. State is bounded: matured lefts leave on
    * emission, and of the rights at or below the watermark only the
    * latest is kept (it is the only one a future left can still match —
    * every future left has ts above the watermark).
    *
    * Typed to the events-fixture shape (Long key/id, Double value) for
    * clarity; the state machine generalizes unchanged. Batch mode runs
    * the same function with no timeouts: everything matures at once.
    *
    * `eventTime` must be the WATERMARKED timestamp column passed
    * through unchanged (Spark requires it in the stateful operator's
    * input), and `ts` must be epoch MILLIS in streaming mode — the
    * watermark unit; batch mode accepts any monotone unit. */
  def asofJoinStream(tagged: Dataset[AsofInput]): Dataset[AsofMatch] = {
    val spark = tagged.sparkSession
    import spark.implicits._

    def matchOne(rights: List[(Long, Double)], lts: Long): Option[(Long, Double)] =
      rights.filter(_._1 <= lts).sortBy(_._1).lastOption

    def flush(key: Long, st: AsofState, upTo: Long): (AsofState, List[AsofMatch]) = {
      val (matured, pending) = st.lefts.partition(_._1 <= upTo)
      val out = matured.sortBy(_._1).map { case (lts, lid) =>
        val m = matchOne(st.rights, lts)
        AsofMatch(key, lid, lts, m.map(_._1), m.map(_._2))
      }
      // keep rights above the horizon plus the single latest at/below it
      val (old, fresh) = st.rights.partition(_._1 <= upTo)
      val kept = old.sortBy(_._1).lastOption.toList ++ fresh
      (AsofState(kept, pending), out)
    }

    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[AsofState]) =>
          val st0 = state.getOption.getOrElse(AsofState(Nil, Nil))
          val streaming = eventTimeTimeoutSupported(state)
          val st1 =
            if (state.hasTimedOut) st0
            else {
              val rs = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
              val ls = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
              rows.foreach { r =>
                if (r.isLeft) ls += ((r.ts, r.leftId)) else rs += ((r.ts, r.rightVal))
              }
              AsofState(st0.rights ++ rs, st0.lefts ++ ls)
            }
          // batch mode: no watermark, everything matures now
          val horizon = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (st2, out) = flush(key, st1, horizon)
          if (st2.lefts.isEmpty && st2.rights.isEmpty) state.remove()
          else {
            state.update(st2)
            if (streaming) {
              // wake when the watermark passes the oldest pending left
              val wm = state.getCurrentWatermarkMs()
              val next = st2.lefts.map(_._1).minOption.getOrElse(wm + 60000L)
              state.setTimeoutTimestamp(math.max(next + 1, wm + 1))
            }
          }
          out.iterator
      }
  }

  /** Streaming exact dedup: drop rows whose key columns repeat, with
    * state bounded by the watermark — the streaming leg of the dedup
    * family in [[graft.ext.Dedup]]. Uses
    * `dropDuplicatesWithinWatermark` so dedup state for a key is
    * dropped once the watermark passes it (a plain `dropDuplicates`
    * keeps every key forever — unbounded state at stream scale). In
    * batch mode this is exact global dedup. Dedup on content, not
    * event id: pass e.g. `md5(text)` columns for document streams. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      delay: String = "10 minutes"): DataFrame = {
    val watermarked = events.withWatermark("ts", delay)
    if (events.isStreaming) watermarked.dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)
  }

  /** State for one LSH band bucket: the first-arrived document (the
    * bucket representative) and the last activity time for eviction. */
  final case class BucketRep(docId: Long, repTs: Long, lastTs: Long)
  final case class DupCandidate(doc_id: Long, dup_of: Long, band: Int)

  /** STREAMING near-duplicate candidate detection — the streaming leg of
    * the MinHash-LSH dedup family ([[graft.ext.Dedup]]): each arriving
    * document's band hashes (computed ROW-LOCALLY via
    * [[graft.ext.Dedup.minhashBandCols]] — no pre-shuffle, so this is a
    * single stateful operator) probe per-bucket state; a document
    * sharing any band bucket with an EARLIER-seen document is emitted as
    * `(doc_id, dup_of = bucket representative, band)`. First arrival
    * (event-time order within a trigger, arrival order across triggers)
    * wins the bucket — the keep-first dedup-filter semantic, not the
    * all-pairs batch enumeration; a doc matching in several bands emits
    * one candidate per band (dedup downstream, e.g. in foreachBatch).
    * Bucket state is EVICTED once the watermark passes last activity +
    * `horizonMs`, so state tracks only the active horizon — the LSH
    * analogue of `dropDuplicatesWithinWatermark`. In batch mode the same
    * function flags every doc that shares a band with an earlier
    * (ts, doc_id)-ordered doc. Input needs (doc_id, text, ts); the
    * watermark is attached here from `delay`. */
  def streamingNearDupCandidates(docs: DataFrame, delay: String = "10 minutes",
      horizonMs: Long = 10L * 60 * 1000): Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val watermarked =
      if (docs.isStreaming) docs.withWatermark("ts", delay) else docs
    val banded = watermarked
      .select(col("doc_id"), col("ts"),
        posexplode(graft.ext.Dedup.minhashBandCols(col("text"))).as(Seq("band", "bh")))
      .where(col("bh").isNotNull) // < 3 tokens: no shingles, no bands
      .select(col("doc_id").as[Long], col("ts").as[Timestamp],
        col("band").as[Int], col("bh").as[String])
    banded.groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[BucketRep, DupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[BucketRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val streaming = eventTimeTimeoutSupported(state)
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            var rep = state.getOption
            val out = Seq.newBuilder[DupCandidate]
            sorted.foreach { case (id, ts, _, _) =>
              rep match {
                case None => rep = Some(BucketRep(id, ts.getTime, ts.getTime))
                case Some(r) =>
                  if (r.docId != id) out += DupCandidate(id, r.docId, band)
                  rep = Some(r.copy(lastTs = math.max(r.lastTs, ts.getTime)))
              }
            }
            rep.foreach { r =>
              state.update(r)
              if (streaming) {
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(r.lastTs + horizonMs, wm + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** One remembered vector in a cell's semantic-dedup state. */
  final case class CellMember(id: Long, vec: Array[Float], ts: Long)
  final case class CellState(members: List[CellMember])
  final case class SemDupFlag(vec_id: Long, dup_of: Long, sim: Double)

  /** STREAMING semantic dedup — the streaming leg of SemDeDup
    * ([[graft.ext.Similarity.semDedup]]): arriving embeddings are
    * assigned to a cell of a FROZEN centroid model and compared against
    * the cell's remembered members; a vector matching an EARLIER-seen
    * same-cell member at cosine >= `threshold` is emitted as
    * `(vec_id, dup_of = earliest matching member, sim)`.
    *
    * The model is frozen BY DESIGN: centroids train offline on a corpus
    * snapshot ([[graft.ext.Similarity.trainCentroids]].collect — k
    * rows), and ingest assigns against the literal centroid arrays
    * ROW-LOCALLY (the argmax is one array_max over k struct literals —
    * the e07 inlined-constants pattern, no join, no shuffle before the
    * single stateful operator). Re-training inside the stream would
    * make cell membership arrival-order-dependent — the streaming twin
    * of e47's determinism contract.
    *
    * Match semantics mirror the batch keep-first policy: a vector is
    * compared against ALL earlier arrivals in its cell (kept or
    * flagged — in batch, a dropped doc still drops later ones), with
    * `dup_of` the EARLIEST (ts, id) match. Per-cell state is bounded by
    * the watermark horizon: the whole cell evicts on event-time
    * timeout, exactly like the LSH bucket state
    * ([[streamingNearDupCandidates]]). Cosine is rounded HALF_UP at 9
    * decimals (the e20 kernel's convention) so batch and stream agree
    * bit-for-bit. Works identically in batch mode (one group pass). */
  def streamingSemanticDedup(vecs: DataFrame, centroids: Seq[(Long, Seq[Float])],
      threshold: Double, delay: String = "10 minutes",
      horizonMs: Long = 10L * 60 * 1000): Dataset[SemDupFlag] = {
    require(centroids.nonEmpty, "streamingSemanticDedup needs a trained model")
    val spark = vecs.sparkSession
    import spark.implicits._
    val watermarked =
      if (vecs.isStreaming) vecs.withWatermark("ts", delay) else vecs
    val cands = centroids.map { case (cid, cv) =>
      struct(
        round(graft.functions.cosineSimilarity(
          col("embedding"), typedLit(cv)), 9).as("sim"),
        lit(-cid).as("ncid"))
    }
    val cell = (-array_max(array(cands: _*)).getField("ncid")).as("cell")
    val assigned = watermarked
      .select(col("vec_id"), col("ts"), col("embedding"), cell)
      .select(col("vec_id").as[Long], col("ts").as[Timestamp],
        col("embedding").as[Array[Float]], col("cell").as[Long])
    assigned.groupByKey(_._4)
      .flatMapGroupsWithState[CellState, SemDupFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[CellState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val streaming = eventTimeTimeoutSupported(state)
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = Seq.newBuilder[SemDupFlag]
            def cos(a: Array[Float], b: Array[Float]): Double = {
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              while (i < a.length) {
                dot += a(i).toDouble * b(i).toDouble
                na += a(i).toDouble * a(i).toDouble
                nb += b(i).toDouble * b(i).toDouble
                i += 1
              }
              BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
                .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
            sorted.foreach { case (id, ts, vec, _) =>
              // members is newest-first, so the reverse iteration walks
              // oldest-first and find() lands on the EARLIEST match
              val hit = members.reverseIterator
                .map(m => (m, cos(vec, m.vec)))
                .find(_._2 >= threshold)
              hit.foreach { case (m, s) => out += SemDupFlag(id, m.id, s) }
              members = CellMember(id, vec, ts.getTime) :: members
            }
            state.update(CellState(members))
            if (streaming) {
              val wm = state.getCurrentWatermarkMs()
              val lastTs = members.headOption.map(_.ts).getOrElse(0L)
              state.setTimeoutTimestamp(math.max(lastTs + horizonMs, wm + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Quality filtering at INGEST — the streaming face of the e54
    * surprisal score, under the frozen-offline-model discipline
    * ([[streamingSemanticDedup]]'s contract): the unigram model is
    * trained offline ([[graft.ext.Text.unigramModel]]) and rides the
    * plan as a LITERAL map, so scoring is a stateless row-local
    * select — no state store, no watermark, no shuffle; each document
    * is scored and kept/dropped the moment it arrives, and the same
    * call produces bit-identical output in batch (re-scoring a corpus
    * under a pinned model version is the reproducibility contract).
    * Re-deriving counts in-stream would make scores arrival-order-
    * dependent.
    *
    * Tokens outside the model score as count 1 (max surprisal). Kept:
    * documents whose fixed-point mean surprisal lies in [minMeanMilli,
    * maxMeanMilli] — the CCNet middle-band rule (too probable =
    * boilerplate, too surprising = noise). Output: input columns +
    * (n_tokens, surprisal, mean_milli), all exact BIGINT. */
  def surprisalQualityFilter(docs: DataFrame, model: Map[String, Long],
      nTotal: Long, minMeanMilli: Long, maxMeanMilli: Long,
      textCol: String = "text"): DataFrame = {
    require(model.nonEmpty, "surprisalQualityFilter needs a trained model")
    require(nTotal >= 1, s"corpus total must be positive, got $nTotal")
    val vocab = typedLit(model)
    def flog2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (length(bin(c)) - 1).cast("long")
    val toks = split(col(textCol), " ")
    val surprisal = aggregate(
      transform(toks, t =>
        flog2(lit(nTotal)) - flog2(coalesce(element_at(vocab, t), lit(1L)))),
      lit(0L), (acc, x) => acc + x)
    docs.withColumn("surprisal", surprisal)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_milli", expr("surprisal * 1000 div n_tokens"))
      .where(col("mean_milli").between(minMeanMilli, maxMeanMilli))
  }

  /** Model-based quality filtering at INGEST under a frozen linear
    * classifier (the e61 averaged perceptron's streaming face, built
    * like [[surprisalQualityFilter]]): the trained weight table — at
    * most buckets+1 entries, kilobytes — rides as a LITERAL map, the
    * hashed-bigram features and the margin evaluate row-locally inside
    * the stream's projection, and docs below `minMargin` drop at the
    * edge. STATELESS: no watermark, no state store, no shuffle; batch
    * and stream emit bit-identical margins (the training arithmetic is
    * `graft.ext.Classify`'s, integer-exact). Keep rule `margin >=
    * minMargin`; the perceptron's own accept is minMargin = 1 (margin
    * > 0). `n` MUST equal the n the model was trained with
    * ([[graft.ext.Classify.perceptronTrain]]'s `n`) — a mismatched
    * deployment hashes different features and scores garbage margins
    * silently, which is why the parameter mirrors the trainer's
    * instead of hardcoding bigrams. Output: input columns + `margin`. */
  def classifierQualityFilter(docs: DataFrame, model: Map[Long, Long],
      buckets: Int = 16384, minMargin: Long = 1L, n: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(model.nonEmpty, "classifierQualityFilter needs a trained model")
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val vocab = typedLit(model)
    val toks = split(col(textCol), " ")
    // word n-grams, row-local (empty when the doc has < n tokens) —
    // the same gram strings Classify.hashedFeatures builds via
    // Dedup.ngrams
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    val bs = array_distinct(transform(grams, g =>
      pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong))))
    val margin = coalesce(element_at(vocab, lit(buckets.toLong)), lit(0L)) +
      aggregate(bs, lit(0L),
        (acc, b) => acc + coalesce(element_at(vocab, b), lit(0L)))
    docs.withColumn("margin", margin)
      .where(col("margin") >= minMargin)
  }

  /** BIGRAM-LM perplexity filtering at INGEST under a frozen model —
    * [[graft.ext.Text.bigramSurprisal]]'s streaming face, built like
    * [[surprisalQualityFilter]] but one model order up. The model
    * arrives PRE-DIVIDED ([[graft.ext.Text.bigramModel]]): `pb` maps
    * `"w1 w2"` to the λ-weighted fixed-point bigram term, `pu` maps
    * `w2` to the unigram backoff term, so the row path is literal-map
    * lookups, one power-of-two shift (`div 4` == `shiftright 2` on
    * non-negatives) and the eighth-bit integer log — no
    * arbitrary-divisor division, no shuffle, STATELESS. Unknown
    * events coalesce to 0 and the probability clamps to >= 1 exactly
    * like the batch operator; documents with < 2 tokens carry no
    * bigram evidence and DROP (they are absent from the batch
    * operator's output for the same reason). Batch == stream bit for
    * bit when the model caps don't bind (StreamsSpec law). Output:
    * input columns + (n_bigrams, surprisal8, mean_milli), filtered to
    * `mean_milli` in [minMeanMilli, maxMeanMilli]. */
  def bigramSurprisalFilter(docs: DataFrame, pb: Map[String, Long],
      pu: Map[String, Long], minMeanMilli: Long, maxMeanMilli: Long,
      textCol: String = "text"): DataFrame = {
    require(pu.nonEmpty, "bigramSurprisalFilter needs a trained model")
    val pbMap = typedLit(pb)
    val puMap = typedLit(pu)
    def log8(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (length(bin(x)) - 1).cast("long") * 8 +
        call_function("shiftright", x * 8, length(bin(x)) - 1) - 8
    val toks = split(col(textCol), " ")
    // sequence(1, 0) DESCENDS in Spark — guard short docs explicitly
    val idx = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(array().cast("array<int>"))
    val s8 = transform(idx, i => {
      val p = greatest(shiftright(
        coalesce(element_at(pbMap,
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))),
          lit(0L)) +
          coalesce(element_at(puMap, element_at(toks, i + 1)), lit(0L)), 2),
        lit(1L))
      lit(160L) - log8(p)
    })
    docs.withColumn("n_bigrams", size(toks).cast("long") - 1)
      .withColumn("surprisal8", aggregate(s8, lit(0L), (acc, x) => acc + x))
      .where(size(toks) >= 2)
      .withColumn("mean_milli", expr("surprisal8 * 1000 div n_bigrams"))
      .where(col("mean_milli").between(minMeanMilli, maxMeanMilli))
  }

  /** Deterministic mixture sampling at INGEST under a FROZEN mix
    * profile — [[graft.ext.Sampling.weightedMixFp]]'s streaming face,
    * in the frozen-offline-model discipline of the classifier and
    * surprisal filters: the keep thresholds are computed ONCE on a
    * corpus census ([[graft.ext.Sampling.mixThresholdMap]] — group
    * cardinality, e.g. DoReMi weights over last month's crawl) and
    * ride the plan as a literal map, so the row path is one md5 key
    * hash and one map lookup — stateless, shuffle-free, no watermark,
    * no state store. A row is kept iff `hash60(key) < thr(group)`;
    * rows from groups absent in the profile drop (the null comparison
    * — exactly [[graft.ext.Sampling.weightedMixFp]]'s inner join).
    * Batch == stream bit for bit on the same profile (StreamsSpec
    * law), and membership is key-determined, so replays and
    * micro-batch boundaries can never change the sample. */
  def mixFilter(docs: DataFrame, thresholds: Map[String, Long],
      groupCol: String = "source", keyCol: String = "doc_id"): DataFrame = {
    require(thresholds.nonEmpty, "mixFilter needs a frozen mix profile")
    docs.where(graft.ext.Sampling.keyHash(col(keyCol)) <
      element_at(typedLit(thresholds), col(groupCol)))
  }

  /** PC1-axis scoring at INGEST under a FROZEN corpus direction (the
    * e100 axis's streaming face, built like [[surprisalQualityFilter]]):
    * the 64-long direction rides the plan as a literal array and the
    * exact integer projection evaluates row-locally — STATELESS: no
    * watermark, no state store, no shuffle. A row is kept iff `pc1_fp`
    * lands in `[minFp, maxFp]` (calibrate the band from the batch
    * axis's score distribution) — the drift gate: an ingest batch whose
    * vectors leave the calibrated band is exactly the snapshot drift
    * the axis exists to surface. Batch == stream bit for bit because
    * BOTH sides evaluate [[graft.ext.Pca.pc1Col]] — shared column, not
    * parallel arithmetic (StreamsSpec law). The kept rows carry
    * `pc1_fp` for downstream range sharding. */
  def pcaScoreFilter(vecs: DataFrame, direction: Array[Long],
      minFp: Long, maxFp: Long, embCol: String = "embedding"): DataFrame = {
    require(direction.nonEmpty, "pcaScoreFilter needs a frozen direction")
    vecs.withColumn("pc1_fp", graft.ext.Pca.pc1Col(col(embCol), direction))
      .where(col("pc1_fp").between(minFp, maxFp))
  }

  /** Content-addressed snapshot diff at INGEST — the crawl monitor's
    * face of [[graft.ext.Snapshot.diff]], in the frozen-offline-model
    * discipline of [[mixFilter]] and the e97 index-reuse dedup: the
    * OLDER snapshot is frozen as its 16-byte-per-row hash index
    * ([[graft.ext.Snapshot.hashIndex]] — computed once, offline) and
    * each arriving micro-batch row classifies against it with ONE
    * stream-static left equi-join, stateless (no watermark, no state
    * store; `broadcast` pins the plan so the stream side never
    * shuffles — at an index too big for one executor, set
    * `broadcastIndex = false` and bucket both sides on the id).
    * Output is the re-process work-list `(id, status ∈ {added,
    * changed})` — `removed` is UNOBSERVABLE at ingest (a stream can
    * only ever witness rows that ARRIVE; retirement of gone ids stays
    * the batch diff's job) and `unchanged` rows drop exactly as the
    * batch face drops them. Batch == stream row for row on the
    * added/changed statuses because both faces consume the SAME index
    * frame and the same md5 column (StreamsSpec law). */
  def snapshotDiffFilter(docs: DataFrame, olderIndex: DataFrame,
      idCol: String = "doc_id", contentCol: String = "text",
      broadcastIndex: Boolean = true): DataFrame = {
    val idx = if (broadcastIndex) broadcast(olderIndex) else olderIndex
    docs.withColumn("_h_new", md5(col(contentCol)))
      .join(idx, Seq(idCol), "left")
      .withColumn("status",
        when(col("_in_old").isNull, lit("added"))
          .when(!(col("_h_old") <=> col("_h_new")), lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))
  }

  /** Stream-static enrichment — the most common production streaming
    * shape: a fact stream left-joined to a STATIC dimension frame on
    * `keys`. A stream-static equi-join is STATELESS in Structured
    * Streaming (no watermark needed, no state store): each micro-batch
    * joins against the static side, and `broadcast(dim)` pins the plan
    * to a broadcast hash join so the stream side never shuffles —
    * exactly the plan wanted at 100 TB/day of facts against a dimension
    * that fits an executor. Left join: facts with no dimension row pass
    * through with nulls (dropping them silently would corrupt counts
    * downstream). The same call works identically in batch. */
  def enrichWithDim(facts: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    facts.join(broadcast(dim), keys, "left")

  /** Streaming file source over a directory of JSON event files — the
    * file-watch ingestion shape (upstream drops files; Spark discovers
    * and processes new ones per trigger, tracked exactly-once in the
    * checkpoint). Streaming sources cannot infer schemas, so `schema`
    * is required; `maxFilesPerTrigger` bounds per-batch work for
    * backfill-sized directories. */
  def jsonDirStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Stream-STREAM interval join: left rows joined to right rows with
    * the same `keys` whose `rightTs` lies within `[leftTs + lo, leftTs
    * + hi)` — the streaming twin of
    * [[graft.operators.RangeJoin.bandedIntervalJoin]] (inner form).
    * Structured Streaming requires BOTH sides watermarked plus the
    * time-range predicate, which is exactly what lets it bound the join
    * state: a buffered right row is dropped once the watermark passes
    * `rightTs + |lo|`, left rows symmetrically. In batch mode the same
    * call is a plain interval join (watermarks are no-ops); for large
    * BATCH inputs prefer the banded RangeJoin form, which turns the
    * inequality into an equi-join. The interval is HALF-OPEN
    * `[leftTs + lo, leftTs + hi)` with the same `hi > lo` contract as
    * the banded twin, so batch-validated pipelines see identical
    * boundary behavior in streaming. Output: left columns + the right
    * side's non-key columns (caller ensures distinct names). */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      loMicros: Long, hiMicros: Long, delay: String = "10 minutes"): DataFrame = {
    require(hiMicros > loMicros, s"empty interval [$loMicros, $hiMicros)")
    val l = if (left.isStreaming) left.withWatermark(leftTs, delay) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, delay) else right
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) + expr(s"INTERVAL $loMicros MICROSECOND") &&
      r(rightTs) < l(leftTs) + expr(s"INTERVAL $hiMicros MICROSECOND")
    val rightExtra = right.columns.filterNot(keys.contains).toSeq
    l.join(r, cond)
      .select(left.columns.map(l(_)).toSeq ++ rightExtra.map(r(_)): _*)
  }

  /** Streaming incremental connected components: maintains a
    * `(vertex, component)` assignment across an UNBOUNDED edge stream
    * by folding each micro-batch through
    * [[graft.analytics.Iterative.mergeComponentsBatch]] — per-batch
    * work is sized by the batch's contracted graph, never the
    * accumulated one, which is what makes graph maintenance viable on
    * a stream (recomputing components per trigger is quadratic in
    * stream length). State lives as a `localCheckpoint`ed frame (the
    * superstep discipline), updated serially by the foreachBatch
    * callback — Structured Streaming runs one batch at a time, and
    * `@volatile` publishes the swap to readers. `state` may be read
    * between triggers; the batch twin
    * ([[graft.analytics.Iterative.incrementalComponents]]) is the
    * oracle-checked form (q49), and StreamsSpec proves the streaming
    * fold lands on the same fixpoint.
    *
    * Every maintainer here releases the previous state's blocks after
    * each fold: on an unbounded stream the superseded checkpoints would
    * otherwise leak in proportion to the trigger count. A reader that
    * holds a LAZY frame derived from `state` across a trigger boundary
    * must materialize it before the next batch lands. */
  final class ComponentsMaintainer(vertices: DataFrame) {
    @volatile private var st: DataFrame = vertices
      .select(col(vertices.columns.head).cast("bigint").as("_v"))
      .dropDuplicates("_v")
      .select(col("_v"), col("_v").as("_lbl")).localCheckpoint()

    /** Current assignment as `(id, component)`. */
    def state: DataFrame =
      st.select(col("_v").as("id"), col("_lbl").as("component"))

    /** foreachBatch callback: fold one `(src, dst)` micro-batch in. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val cols = batch.columns
        val prev = st
        st = graft.analytics.Iterative.mergeComponentsBatch(prev,
          batch.select(col(cols(0)).cast("bigint").as("_s"),
            col(cols(1)).cast("bigint").as("_d")))
        graft.plans.Supersteps.release(prev)
      }
  }

  /** Live dashboard maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshHealth]]'s merge arithmetic: health
    * MASS ([[graft.ext.Snapshot.healthSums]] — long counts, DECIMAL
    * quality sum, the only form a dashboard can absorb deltas in)
    * starts from a frozen base and each arriving micro-batch folds its
    * own group-grain sums in (one union + one aggregate per batch over
    * the sources×langs-sized state, localCheckpointed so lineage stays
    * flat — the ComponentsMaintainer discipline). A stream only ever
    * ADDS: retirement of removed/changed-old mass is the batch diff's
    * job (exactly [[snapshotDiffFilter]]'s contract — feed it this
    * maintainer's input and the two compose into the full refresh).
    * All merge arithmetic is exact, so after ANY micro-batch split the
    * dashboard equals the batch rollup over everything seen
    * (StreamsSpec law). Read `dashboard` any time. */
  final class HealthMaintainer(base: DataFrame) {
    @volatile private var st: DataFrame = base.localCheckpoint()

    /** Current mass `(source, lang, n_docs, sum_tokens, sum_q)`. */
    def state: DataFrame = st

    /** Current dashboard `(source, lang, n_docs, sum_tokens,
      * avg_quality)` — [[graft.ext.Snapshot.finishHealth]]. */
    def dashboard: DataFrame = graft.ext.Snapshot.finishHealth(st)

    /** foreachBatch callback: fold one document micro-batch in. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        st = prev.unionByName(graft.ext.Snapshot.healthSums(batch))
          .groupBy("source", "lang")
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_tokens")).as("sum_tokens"),
            sum(col("sum_q")).as("sum_q"))
          .localCheckpoint()
        graft.plans.Supersteps.release(prev)
      }
  }

  /** Live MinHash-index maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshSignatureIndex]]: each arriving
    * micro-batch UPSERTS its documents' signatures into the frozen
    * index (anti join the batch's ids out — a re-crawled page replaces
    * its old signature, content-addressed — then union the fresh
    * signatures; below-shingle-width docs leave the index, exactly the
    * batch operator's drop semantics). A stream can only ever witness
    * arrivals, so RETIREMENT of gone ids stays the batch diff's job
    * (the [[snapshotDiffFilter]] contract). After any split, the index
    * equals a full re-sign of base-minus-seen-ids plus everything
    * seen — StreamsSpec pins the upsert law including the
    * changed-then-rearrived case. State is index-grain, k longs per
    * row, localCheckpointed per fold (the ComponentsMaintainer
    * discipline). The consumer is [[graft.ext.Dedup.dedupAgainstIndex]]
    * — e97's probe side reads `state` directly.
    *
    * Id contract: each `doc_id` appears at most once per micro-batch
    * (the Bm25Maintainer contract made explicit — advisor, round 15).
    * Byte-identical duplicate rows happen to be harmless HERE (the
    * signature aggregate groups by doc_id, and min over a repeated
    * shingle set is idempotent), but two DIFFERENT texts for one id in
    * one batch would sign the UNION of both shingle sets — a signature
    * neither document has. */
  final class SignatureIndexMaintainer(base: DataFrame) {
    @volatile private var st: DataFrame = base.localCheckpoint()

    /** Current index `(doc_id, h0..h{k-1})`. */
    def state: DataFrame = st

    /** foreachBatch callback: upsert one document micro-batch. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        // By NAME, matching minhashSignatures' (doc_id, text) contract —
        // a mis-ordered frame must fail analysis, not silently anti-join
        // the index on text values (advisor, round 14).
        val ids = batch.select(col("doc_id"))
        st = prev.join(ids, Seq("doc_id"), "left_anti")
          .unionByName(graft.ext.Dedup.minhashSignatures(batch.toDF()))
          .localCheckpoint()
        graft.plans.Supersteps.release(prev)
      }
  }

  /** Live BM25-index maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshBm25Index]] (VERDICT r14 task 4): a
    * search service whose index must absorb a crawl CONTINUOUSLY, not
    * per-snapshot. Each arriving `(doc_id, text)` micro-batch folds in
    * with exactly the batch seam's arithmetic — the per-doc frames
    * (postings, dl) UPSERT (anti join the batch ids out — a re-crawled
    * page replaces its old rows, last writer wins — then union the
    * fresh tokenization), and the term-grain document frequencies
    * merge SIGNED: subtract the replaced docs' df contributions
    * (derived from the INDEX's own postings — the state carries
    * everything retirement needs, no corpus access), add the fresh
    * docs', drop zero-mass terms. All counts are exact longs, so after
    * ANY micro-batch split the three frames are bit-identical to
    * [[graft.ext.Retrieval.buildBm25Index]] over base-overridden-by-
    * everything-seen (StreamsSpec law, landing on the e113 oracle
    * arithmetic), and [[graft.ext.Retrieval.bm25TopKFromIndex]] serves
    * from `state` at any moment. A stream only witnesses arrivals;
    * retirement of GONE ids stays the batch diff's job (the
    * [[snapshotDiffFilter]] contract). State is index-grain,
    * localCheckpointed per fold (the ComponentsMaintainer
    * discipline).
    *
    * Atomicity: all three frames live behind ONE `@volatile` reference
    * swapped once per fold AFTER every checkpoint is live (the
    * SignatureIndexMaintainer single-reference shape), so a serving
    * thread reading `state` mid-fold always sees a CONSISTENT index —
    * never new postings with stale dfreq (advisor, round 15).
    *
    * Id contract: each `doc_id` appears at most once per micro-batch
    * (the same contract SignatureIndexMaintainer relies on — an id's
    * OLD rows retire via one anti join, so two same-id rows in one
    * batch would both survive the union and permanently inflate N/df).
    * Byte-identical duplicate rows — the same update coalesced twice
    * into one trigger — are deduplicated defensively here (full-row
    * distinct: deterministic, a no-op on contract-honoring batches);
    * two DIFFERENT texts for one id in one batch have no defined
    * winner and stay a caller error. */
  final class Bm25Maintainer(base: graft.ext.Retrieval.Bm25Index) {
    @volatile private var st: graft.ext.Retrieval.Bm25Index =
      graft.ext.Retrieval.Bm25Index(base.postings.localCheckpoint(),
        base.dl.localCheckpoint(), base.dfreq.localCheckpoint())

    /** Current index frames — serve with `bm25TopKFromIndex(state, …)`.
      * One volatile read: the three frames are always mutually
      * consistent (the same fold's output). */
    def state: graft.ext.Retrieval.Bm25Index = st

    /** foreachBatch callback: upsert one document micro-batch. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        val b = batch.toDF().dropDuplicates()
        // By NAME (the SignatureIndexMaintainer contract): a
        // mis-ordered frame must fail analysis, not corrupt the index.
        val ids = b.select(col("doc_id").as("_id"))
        val fresh = graft.ext.Retrieval.buildBm25Index(b)
        val subDf = graft.ext.Retrieval.dfreqOf(
          prev.postings.join(ids, Seq("_id"), "left_semi"))
        val post = prev.postings.join(ids, Seq("_id"), "left_anti")
          .unionByName(fresh.postings).localCheckpoint()
        val dls = prev.dl.join(ids, Seq("_id"), "left_anti")
          .unionByName(fresh.dl).localCheckpoint()
        val dfq = prev.dfreq
          .unionByName(subDf.select(col("_t"), (-col("_df")).as("_df")))
          .unionByName(fresh.dfreq)
          .groupBy("_t").agg(sum(col("_df")).as("_df"))
          .where(col("_df") > 0)
          .localCheckpoint()
        // ONE reference swap, only after all three new checkpoints are
        // live (dfq's signed merge reads the previous postings via
        // subDf; a reader mid-fold keeps the previous consistent index)
        st = graft.ext.Retrieval.Bm25Index(post, dls, dfq)
        Seq(prev.postings, prev.dl, prev.dfreq)
          .foreach(graft.plans.Supersteps.release)
      }
  }

  /** Live IVF-assignment maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshIvfAssignments]] (the e116 batch
    * seam): each arriving `(vec_id, embedding)` micro-batch UPSERTS
    * its cell assignments into the frozen serving index under the
    * FROZEN coarse quantizer (anti join the batch ids out — a
    * re-embedded vector replaces its old cell — then union the fresh
    * broadcast-k argmax assignments). Retirement of GONE ids stays the
    * batch diff's job, and the QUANTIZER retrain (the e108 axis-drift
    * trigger) is a full offline rebuild by design — a maintainer must
    * never retrain mid-stream or batch and stream cells would diverge.
    * After any split the index equals a full
    * [[graft.ext.Similarity.ivfAssignments]] pass over
    * base-overridden-by-everything-seen (StreamsSpec law). State is
    * 2 longs per row, localCheckpointed per fold. */
  final class IvfAssignmentMaintainer(base: DataFrame, centroids: DataFrame) {
    @volatile private var st: DataFrame = base.localCheckpoint()

    /** Current serving index `(vec_id, cell)`. */
    def state: DataFrame = st

    /** foreachBatch callback: upsert one vector micro-batch. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        val ids = batch.select(col("vec_id"))
        st = prev.join(ids, Seq("vec_id"), "left_anti")
          .unionByName(graft.ext.Similarity.ivfAssignments(
            batch.toDF(), centroids))
          .localCheckpoint()
        graft.plans.Supersteps.release(prev)
      }
  }

  /** Live co-occurrence-matrix maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshCooccurrence]]'s ADD side (VERDICT
    * r15 task 5): the embedding-training input a continuously
    * ingesting crawl keeps warm. Context windows never cross
    * documents, so each arriving `(doc_id, text)` micro-batch's
    * (center, context) weight mass is per-doc ADDITIVE — one union +
    * one pair-grain aggregate folds it into the frozen matrix, and
    * because the stream only ever adds positive mass, no zero-drop
    * filter is needed (zeros exist only on the batch seam's SUBTRACT
    * side). All weights are exact fixed-point longs, so after any
    * micro-batch split the state is bit-identical to
    * [[graft.ext.Text.cooccurrence]] over base-plus-everything-seen
    * (StreamsSpec law, landing on the e119 oracle arithmetic).
    *
    * Id contract: the additive family's (HealthMaintainer's) — each
    * doc_id AT MOST ONCE across the stream's lifetime; a re-crawled
    * doc must route through the batch seam, which owns the signed
    * subtract-then-add merge a replacement needs. State is
    * pair-grain, localCheckpointed per fold. */
  final class CooccurrenceMaintainer(base: DataFrame, window: Int = 3) {
    @volatile private var st: DataFrame = base.localCheckpoint()

    /** Current matrix `(center, context, weight_fp)`. */
    def state: DataFrame = st

    /** foreachBatch callback: fold one `(doc_id, text)` micro-batch in. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        st = prev
          .unionByName(graft.ext.Text.cooccurrence(batch.toDF(), window))
          .groupBy("center", "context")
          .agg(sum(col("weight_fp")).as("weight_fp"))
          .localCheckpoint()
        graft.plans.Supersteps.release(prev)
      }
  }

  /** Live bigram-LM count maintenance — the streaming face of
    * [[graft.ext.Snapshot.refreshBigramCounts]]'s ADD side: the
    * perplexity-filter model's train counts absorb each micro-batch's
    * TRAIN-SPLIT rows (`trainFilter` is id-pure, so membership is one
    * row-local filter per batch) by one union + one count-grain
    * aggregate per frame. Counts are exact longs, so the maintained
    * [[graft.ext.Text.BigramCounts]] equals
    * [[graft.ext.Text.buildBigramCounts]] over
    * base-plus-everything-seen, and
    * [[graft.ext.Text.bigramSurprisalFrom]] over it therefore
    * hash-equals a full retrain+rescore (the e120 arithmetic,
    * StreamsSpec law). Both frames live behind ONE `@volatile`
    * reference swapped after both checkpoints are live (the
    * Bm25Maintainer atomicity contract — a scorer mid-fold never sees
    * new bigrams with stale unigrams). Id contract: the additive
    * family's — each doc_id at most once across the stream. */
  final class BigramCountsMaintainer(base: graft.ext.Text.BigramCounts,
      trainFilter: org.apache.spark.sql.Column) {
    @volatile private var st: graft.ext.Text.BigramCounts =
      graft.ext.Text.BigramCounts(base.big.localCheckpoint(),
        base.uni.localCheckpoint())

    /** Current train counts — score with `bigramSurprisalFrom(state, …)`. */
    def state: graft.ext.Text.BigramCounts = st

    /** foreachBatch callback: fold one `(doc_id, text)` micro-batch in. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        val fresh = graft.ext.Text.buildBigramCounts(
          batch.toDF().where(trainFilter))
        val big = prev.big.unionByName(fresh.big)
          .groupBy("w1", "w2").agg(sum(col("c2")).as("c2"))
          .localCheckpoint()
        val uni = prev.uni.unionByName(fresh.uni)
          .groupBy("w2").agg(sum(col("c1")).as("c1"))
          .localCheckpoint()
        st = graft.ext.Text.BigramCounts(big, uni)
        Seq(prev.big, prev.uni).foreach(graft.plans.Supersteps.release)
      }
  }

  /** Live KN-trigram count maintenance — [[BigramCountsMaintainer]]'s
    * discipline one model order up: the ONE frozen artifact is the
    * train-split trigram count frame (every DISTINCT-type continuation
    * count the KN scorer uses derives from it), folded additively per
    * micro-batch; [[graft.ext.Text.knTrigramSurprisalFrom]] over the
    * maintained frame hash-equals a full retrain+rescore (the e121
    * arithmetic, StreamsSpec law). Id contract: the additive
    * family's — each doc_id at most once across the stream. */
  final class TrigramCountsMaintainer(base: DataFrame,
      trainFilter: org.apache.spark.sql.Column) {
    @volatile private var st: DataFrame = base.localCheckpoint()

    /** Current counts `(w1, w2, w3, c3)` — score with
      * `knTrigramSurprisalFrom(state, …)`. */
    def state: DataFrame = st

    /** foreachBatch callback: fold one `(doc_id, text)` micro-batch in. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val prev = st
        st = prev
          .unionByName(graft.ext.Text.buildTrigramCounts(
            batch.toDF().where(trainFilter)))
          .groupBy("w1", "w2", "w3").agg(sum(col("c3")).as("c3"))
          .localCheckpoint()
        graft.plans.Supersteps.release(prev)
      }
  }

  /** ONE ingest stream, EVERY retrain-input artifact — the streaming
    * twin of the e122 composition (the [[CrawlMaintainers]] discipline
    * applied to the LM/embedding-input family): the same `(doc_id,
    * text)` micro-batch folds into the co-occurrence matrix, the
    * bigram-LM counts, and the KN-trigram counts in one `foreachBatch`
    * pass, localCheckpointed ONCE before the three folds. Every
    * member is per-doc ADDITIVE, so the composition inherits the
    * additive family's id contract: each doc_id at most once across
    * the stream's lifetime (pre-filter through [[snapshotDiffFilter]];
    * re-crawls route through the batch seam's signed merges). Each
    * artifact keeps exactly its standalone maintainer's law —
    * StreamsSpec pins that the three states equal the standalone
    * maintainers', and that scoring from the live LM frames equals a
    * full retrain+rescore. */
  final class RetrainInputMaintainers(val cooccurrence: CooccurrenceMaintainer,
      val bigrams: BigramCountsMaintainer,
      val trigrams: TrigramCountsMaintainer) {

    /** foreachBatch callback: fold one `(doc_id, text)` micro-batch
      * into all three artifacts. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        val b = batch.toDF().localCheckpoint()
        try {
          cooccurrence.sink(b, id)
          bigrams.sink(b, id)
          trigrams.sink(b, id)
        } finally graft.plans.Supersteps.release(b)
      }
  }

  /** ONE ingest stream, EVERY doc-grain live artifact — the streaming
    * twin of the e115 one-diff composition: a production crawl lands
    * once, and the SAME micro-batch folds into the health dashboard,
    * the MinHash signature index, and the BM25 inverted index in one
    * `foreachBatch` pass. The batch is localCheckpointed ONCE before
    * the three folds (the multi-action `foreachBatch` discipline —
    * without it each maintainer's actions would re-read the source),
    * then released. Each artifact keeps exactly its own maintainer's
    * law, so the composition needs no law of its own beyond "the three
    * states equal the three standalone maintainers'" — StreamsSpec
    * pins precisely that. The embedding-grain
    * [[IvfAssignmentMaintainer]] rides the separate vector stream (a
    * crawl emits docs and embeddings on different schedules).
    *
    * Id contract (advisor, round 15): the three artifacts have
    * DIVERGENT re-arrival semantics — signatures and BM25 UPSERT (a
    * re-crawled doc_id replaces its old rows) while health mass is
    * purely ADDITIVE (retirement is the batch diff's job) — so a
    * doc_id re-arriving on THIS composed stream would replace in two
    * indexes but double-count in the health mass. The composed ingest
    * must therefore carry each doc_id AT MOST ONCE across the stream's
    * lifetime: in production, pre-filter the crawl through
    * [[snapshotDiffFilter]] against a frozen hash index (its `added`
    * class is at-most-once by construction) and route `changed` docs
    * through the batch refresh seam
    * ([[graft.ext.Snapshot.refreshHealthSumsWith]]), which owns the
    * subtract-then-add arithmetic a replacement needs. */
  final class CrawlMaintainers(val health: HealthMaintainer,
      val signatures: SignatureIndexMaintainer,
      val bm25: Bm25Maintainer) {

    /** foreachBatch callback: fold one `(doc_id, source, lang, text)`
      * micro-batch into all three artifacts. */
    def sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        val b = batch.toDF().localCheckpoint()
        try {
          health.sink(b, id)
          signatures.sink(b, id)
          bm25.sink(b, id)
        } finally graft.plans.Supersteps.release(b)
      }
  }

  /** STREAMING decontamination — drop arriving documents sharing any
    * n-gram with the static benchmark set, at ingest. Contamination is
    * PER-DOCUMENT against a static frame, so the exact batch operator
    * ([[graft.ext.Dedup.decontaminate]]) applies verbatim to each
    * micro-batch under `foreachBatch` — no cross-batch state, no
    * approximation (the production shortcut here is a broadcast Bloom
    * filter over benchmark grams, which trades false-positive drops
    * for memory; the exact join needs no such trade at benchmark-set
    * sizes, which are small by construction). The idempotent
    * batch_id-dir sink makes the pipeline effectively exactly-once
    * ([[startForeachBatchParquet]]'s contract); StreamsSpec proves any
    * batch split yields exactly the batch operator's output. */
  def startDecontaminate(docs: DataFrame, benchmark: DataFrame, n: Int,
      path: String, checkpointDir: String): StreamingQuery =
    startForeachBatch(docs, checkpointDir) { (batch, batchId) =>
      graft.ext.Dedup.decontaminate(batch, benchmark, n)
        .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    }

  /** `foreachBatch` sink helper: write each micro-batch to
    * `<path>/batch_id=<id>` with overwrite — a replayed batch (after
    * failure/restart) overwrites its own directory instead of appending
    * duplicates, making the sink idempotent and the pipeline
    * effectively exactly-once end-to-end. */
  def startForeachBatchParquet(df: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    startForeachBatch(df, checkpointDir) { (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    }

  /** Start `sink` over each append-mode micro-batch of the streaming
    * `df` — every maintainer's `sink` above plugs in here
    * (`startForeachBatch(docs, ckpt)(maintainer.sink)`); read the
    * maintainer's state any time. */
  def startForeachBatch(df: DataFrame, checkpointDir: String)(
      sink: (Dataset[org.apache.spark.sql.Row], Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
}
