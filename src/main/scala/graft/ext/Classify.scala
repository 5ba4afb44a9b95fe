package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based corpus filtering — the linear-classifier leg of a
  * training-data pipeline (the fastText-style quality/domain classifier
  * of the GPT-3/LLaMA data recipes: label a seed set, train a cheap
  * linear model over hashed n-gram features, score the whole corpus,
  * keep what passes).
  *
  * The trainer is an AVERAGED BATCH PERCEPTRON in exact integer
  * arithmetic: with binary hashed n-gram features x ∈ {0,1}^(B+1)
  * (B buckets + an always-on bias bucket B) and labels y ∈ {-1, +1},
  * each round scores every document under the current weights
  * (margin = Σ w_b·x_b), then adds Σ y_d·x_d over the misclassified
  * set (y·margin <= 0). The published model is the SUM of the
  * round-end weight vectors (Freund & Schapire's averaged perceptron,
  * unnormalized — same sign, same decisions): full-batch perceptron
  * iterates oscillate on non-separable data, the average is stable.
  * No learning rate, no float — the model is bit-identical under any
  * partitioning, and the DuckDB oracle replays the ENTIRE training run
  * as chained CTEs (the [[Sampling.dsirScores]] portability discipline
  * applied to a loop, like `Similarity.trainCentroids`).
  *
  * Scale shape (100 TB): features are one distinct-shuffle of
  * `(doc, bucket)` pairs, computed ONCE and checkpointed. Each round is
  * (1) a broadcast join of the <= B+1-row weight table onto the feature
  * stream + a map-side-combined per-doc sum, and (2) one bucket-keyed
  * aggregation of the misclassified stream — nothing ever shuffles more
  * than `(doc, bucket)` pairs, and the model never leaves kilobyte
  * scale (the averaged model is a lazy union of the checkpointed
  * per-round frames, folded in one final aggregation — no extra action
  * per round). Scoring a corpus under a frozen model is the same
  * broadcast join + sum — embarrassingly parallel.
  */
object Classify {

  /** Hashed binary n-gram features: the DISTINCT md5-derived buckets of
    * each document's whitespace word n-grams, plus an always-on bias
    * bucket `buckets`. Hashed-bucket range is [0, buckets), so the bias
    * bucket never collides. Output: `(_id, _b)`. */
  def hashedFeatures(docs: DataFrame, buckets: Int = 16384, n: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    val g = Dedup.ngrams(docs, n, idCol, textCol)
    val b = pmod(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))
    g.select(col("id").as("_id"), b.as("_b")).distinct()
      .unionByName(docs.select(col(idCol).as("_id"),
        lit(buckets.toLong).as("_b")))
  }

  /** Trains the averaged batch perceptron for `rounds` rounds from zero
    * weights. `label` must evaluate to +1 / -1. Returns the model
    * `(_b, _w)` — at most `buckets + 1` rows, broadcastable; `_w` is
    * the ROUND-SUMMED weight (set `averaged = false` for the plain
    * last-iterate perceptron).
    *
    * Round 1 degenerates deliberately: at w = 0 every margin is 0 and
    * y·0 <= 0, so the first update sums y over ALL documents — the
    * classic perceptron cold start, which the oracle replays too. */
  def perceptronTrain(docs: DataFrame, label: Column, rounds: Int = 12,
      buckets: Int = 16384, n: Int = 2, averaged: Boolean = true,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val feats = hashedFeatures(docs, buckets, n, idCol, textCol).localCheckpoint()
    val labels = docs.select(col(idCol).as("_id"), label.cast("long").as("_y"))
      .localCheckpoint()
    val spark = docs.sparkSession
    val w0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_w",
          org.apache.spark.sql.types.LongType))))
    // every round's weights (the empty seed adds nothing to the sum)
    val perRound = Seq.newBuilder[DataFrame]
    // weight frames are <= buckets+1 rows; the superstep cut stops the
    // per-round lineage from re-deriving every earlier round (ONE
    // action per round — the e29 discipline); the averaged model reads
    // every round's weights, so none is released then
    val w = graft.plans.Supersteps.rounds(w0, rounds,
        graft.plans.Supersteps.Bounded, keepStates = averaged) { (w, _) =>
      perRound += w
      val mis = scoreFeatures(feats, w)
        .join(labels, "_id")
        .where(col("_y") * col("_margin") <= 0)
        .select(col("_id"), col("_y"))
      val upd = feats.join(mis, "_id")
        .groupBy("_b").agg(sum(col("_y")).as("_dw"))
      w.join(upd, Seq("_b"), "full")
        .select(col("_b"),
          (coalesce(col("_w"), lit(0L)) + coalesce(col("_dw"), lit(0L)))
            .as("_w"))
    }
    if (!averaged) w
    else (perRound += w).result().reduce(_.unionByName(_))
      .groupBy("_b").agg(sum(col("_w")).as("_w"))
  }

  /** Margins of every document under a frozen weight table:
    * `(_id, _margin)`. Missing buckets contribute 0. */
  private def scoreFeatures(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), Seq("_b"), "left")
      .groupBy("_id")
      .agg(sum(coalesce(col("_w"), lit(0L))).as("_margin"))

  /** Threshold-sweep evaluation of a trained model — the
    * precision/recall table a pipeline reads before picking the keep
    * threshold (the e43 recall-harness role for the classifier):
    * for each margin threshold t, counts over the labeled corpus of
    * true/false positives/negatives under `pred = margin >= t`.
    * One scoring pass; the sweep is a broadcast of the threshold list
    * onto the margins (|thresholds| × |docs| counted map-side).
    * Output: `(threshold, tp, fp, tn, fn)`. */
  def evaluate(docs: DataFrame, weights: DataFrame, label: Column,
      thresholds: Seq[Long], buckets: Int = 16384, n: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(thresholds.nonEmpty, "evaluate needs at least one threshold")
    val margins = scoreFeatures(hashedFeatures(docs, buckets, n, idCol, textCol),
        weights)
      .join(docs.select(col(idCol).as("_id"), label.cast("long").as("_y")), "_id")
    val ts = docs.sparkSession.createDataFrame(
      thresholds.map(Tuple1(_))).toDF("threshold")
    margins.crossJoin(broadcast(ts))
      .groupBy("threshold")
      .agg(
        sum(when(col("_margin") >= col("threshold") && col("_y") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("_margin") >= col("threshold") && col("_y") =!= 1L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("_margin") < col("threshold") && col("_y") =!= 1L, 1L)
          .otherwise(0L)).as("tn"),
        sum(when(col("_margin") < col("threshold") && col("_y") === 1L, 1L)
          .otherwise(0L)).as("fn"))
  }

  /** Scores a corpus under a trained model: `(idCol, margin, pred)` with
    * pred = +1 iff margin > 0 (the perceptron's decision rule; margin 0
    * scores -1, matching the training misclassification test). Feature
    * parameters must match the training call. */
  def score(docs: DataFrame, weights: DataFrame, buckets: Int = 16384,
      n: Int = 2, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoreFeatures(hashedFeatures(docs, buckets, n, idCol, textCol), weights)
      .select(col("_id").as(idCol), col("_margin").as("margin"),
        when(col("_margin") > 0, 1L).otherwise(-1L).as("pred"))
}
