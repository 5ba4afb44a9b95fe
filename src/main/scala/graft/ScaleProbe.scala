package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scaling probe. Replicates fixture tables k times with
  * shifted keys (so join/group cardinality grows with data, not just row
  * count) and times the core operator shapes at k = 1, 2, 4, 8. A
  * near-linear curve is the evidence that the plans (broadcast sides,
  * partial aggregation, banding) hold as data grows; a super-linear jump
  * flags an operator that would not survive 1000x.
  *
  * `sbt "runMain graft.ScaleProbe [sfDir]"` — prints one JSON line per
  * (op, k).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def rep(df: DataFrame, keyCols: Seq[String], k: Int, shift: Long): DataFrame =
      (0 until k).map { i =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * shift)))
      }.reduce(_.unionByName(_))

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val events = graft.queries.Extensions.events(spark, sfDir)
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    // person count at 1x — the knows replica needs CONTIGUOUS ids
    // (p = i*n0 + key), so the generator's %-count arithmetic stays
    // valid at every k (dev tool: one count action is fine here)
    val n0 = customer.count()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up
    noop(li.groupBy("l_returnflag").count())

    for (k <- Seq(1, 2, 4, 8)) {
      val liK = rep(li, Seq("l_orderkey"), k, 100000000L)
      val ordK = rep(orders, Seq("o_orderkey", "o_custkey"), k, 100000000L)
      val docsK = rep(docs, Seq("doc_id"), k, 100000000L)

      val tJoin = time(noop(
        liK.join(ordK, liK("l_orderkey") === ordK("o_orderkey"))
          .groupBy("o_custkey").agg(count(lit(1)), sum("l_quantity"))))
      val tAgg = time(noop(
        liK.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")), count(lit(1)))))
      val tMinhash = time(noop(graft.ext.Dedup.minhashSignatures(docsK)))

      // user-key replication: as-of/range joins grow in keys AND rows,
      // the realistic way an event stream scales out
      val evK = rep(events, Seq("user_id", "event_id"), k, 100000000L)
      val purch = evK.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
      val clicks = evK.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max("value").as("v"))
      val tAsof = time(noop(graft.operators.AsOfJoin.backward(
        purch, clicks, Seq("user_id"), "pts", "ts", Seq("v"))))
      val clicks2 = evK.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val tRange = time(noop(graft.operators.RangeJoin.bandedIntervalJoin(
        purch, clicks2, Seq("user_id"), "pts", "cts",
        -30L * 60 * 1000000, 0L)))

      // IVF ANN over a k-times corpus: assignment is broadcast +
      // partial-agg argmax, probing touches ~nprobe/cells of the corpus —
      // the curve should stay linear while brute force goes quadratic
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val embK = rep(emb, Seq("vec_id"), k, 100000000L)
      val tIvf = time(noop(graft.ext.Similarity.ivfTopK(
        embK, (0 until 8).map(_ * 63L), (0L until 20L), 10)))

      // Blocked all-pairs near-dup kernel: the WORK is quadratic by
      // contract (n^2/2 pairs — expect ~k^2 time), but maxBlockRows
      // pins driver memory to ONE 2048-vector block per pass at every
      // k, where the pre-round-3 whole-corpus collect would have grown
      // the driver footprint k-fold. k blocks at k x corpus.
      val tNearDup = time(noop(graft.ext.Similarity.embeddingNearDupPairsFast(
        embK, 0.5, maxBlockRows = 2048)))

      // The e31 corpus-construction pipeline over a k-times corpus.
      // Replica TEXT must differ per WORD, not per document: a mere
      // suffix would (a) let the exact-dedup window collapse nothing
      // while (b) making all k replicas of a doc NEAR-dups of each
      // other — near-dup pair work would grow k^2 BY CONSTRUCTION and
      // the curve would measure the synthetic duplication, not the
      // operator. Suffixing every token keeps zero shared shingles
      // across replicas: the corpus grows with distinct content and
      // constant near-dup density, like a real crawl.
      val docsKDistinct = (0 until k).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text",
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit(s"_r$i")))))
      }.reduce(_.unionByName(_))
      // every stage is a filter/window/banded-join, so the chain should
      // track the minhash curve (its heaviest stage), not blow up on
      // the anti-join or the stratified cap.
      val pipeK = {
        val base = graft.ext.Sampling.hashSample(docsKDistinct, col("doc_id"), 0.5)
        val near = graft.ext.Dedup.dropNearDuplicates(
          graft.ext.Dedup.dropExactDuplicates(base), threshold = 0.5)
        val stats = near.select(
          Seq(col("doc_id"), col("text"),
            graft.ext.Text.qualityScoreCol.as("q")) ++ graft.ext.Text.langScoreCols: _*)
        val scored = stats.select(col("doc_id"), col("q"),
          graft.ext.Text.langPredCol.as("lang"))
        graft.ext.Sampling.stratifiedSample(
          scored.where(col("q") >= 0.53), Seq("lang"), col("doc_id"), 20 * k)
      }
      val tPipeline = time(noop(pipeK))

      // Sequence packing (window-shaped): split oversize docs to the
      // budget, then the sharded running-total pack assignment. Shards
      // bound each window partition, so the curve should be linear —
      // the per-shard window grows k-fold but stays a single pass.
      val tPack = time(noop {
        val toks = docsK.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        graft.ext.Packing.contiguousPack(
          graft.ext.Packing.splitOversize(toks, col("n_tokens"), 32L),
          col("doc_id"), col("piece_tokens"), 32L, 8,
          tieBreak = Seq(col("piece_idx")))
      })

      // Corpus-health rollup (pure partial-agg): tiny group count
      // (source x lang), decimal-accumulated mean — the map-side combine
      // should make this track the scan, i.e. linear.
      val tHealth = time(noop(
        docsK.select(col("source"), col("lang"),
            size(split(col("text"), " ")).as("n_tokens"),
            graft.ext.Text.qualityScoreCol.as("q"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("sum_tokens"),
            (sum(col("q").cast("decimal(18,6)")).cast("double") /
              count(lit(1)).cast("double")).as("avg_quality"))))

      // Decontamination at a k-times training corpus against a FIXED
      // benchmark split: the benchmark gram set stays broadcast-sized,
      // so the check is one map-side semi-join — linear in the corpus.
      val tDecon = time(noop(graft.ext.Dedup.contaminationReport(
        docsK.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), 4)))

      // SNB knows-graph 2-hop friends-of-friends at k-times persons:
      // replica ids i*n0 + key are contiguous in [0, k*n0), so the
      // generator's supernode population and degree mix grow WITH the
      // graph (the bench-replica key shift would instead dangle most
      // edges — Bench.scaleQueries note). The probed shape is q25's:
      // generate, expand undirected twice from supernode 0, count
      // distinct common friends.
      val tSnbFof = time(noop {
        val pK = customer
          .select(explode(sequence(lit(0L), lit((k - 1).toLong))).as("i"),
            col("c_custkey").cast("long").as("key"))
          .select((col("i") * n0 + col("key")).as("p"))
        val knows = pK
          .withColumn("d",
            when(col("p") % 97 === 0, lit(40L)).otherwise((col("p") * 13 + 7) % 5 + 1))
          .withColumn("kk", explode(sequence(lit(1L), col("d"))))
          .select(col("p").as("_src"),
            ((col("p") * 53 + col("kk") * 911) % lit(k * n0)).as("_dst"))
          .where(col("_dst") =!= col("_src")).distinct()
        val uk = knows.unionByName(
          knows.select(col("_dst").as("_src"), col("_src").as("_dst")))
        val direct = uk.where(col("_src") === 0)
          .select(col("_dst").as("f")).distinct()
        uk.join(direct, uk("_src") === direct("f"))
          .groupBy(col("_dst")).agg(count_distinct(col("f")).as("n_common"))
      })

      // SNB thread unroll (q33's shape) at k-times posts + reply trees
      // over a FIXED person set: orders replicate with shifted
      // o_orderkey but UNSHIFTED o_custkey (every replica post still
      // belongs to a real person), lineitem with shifted l_orderkey
      // (each replica order gets its own comment tree). Friends' post
      // count and tree count grow k-fold; the superstep unroll should
      // stay near-linear (each depth is one join against the
      // materialized reply frame).
      val tThread = time(noop {
        val ordThread = rep(orders, Seq("o_orderkey"), k, 100000000L)
        val g = graft.sources.GraphLoader.snbFromTables(
          spark, customer, ordThread, liK, materializeComments = true)
        graft.dsl.G(g).V("Person", 0L).both("KNOWS").dedup()
          .in("HAS_CREATOR", "Post").as("p")
          .repeatEmit(7, materialize = true)(_.in("REPLY_OF", "Comment"))
          .toDF
          .groupBy(col("_as_p").getField("id").as("post_id"))
          .agg(count(lit(1)).as("n_replies"),
            max(col(graft.dsl.Step.DepthCol)).as("max_depth"))
      })

      println(s"""{"probe":"scale","k":$k,"rows_lineitem":${liK.count()},"join_agg_s":$tJoin,"group_agg_s":$tAgg,"minhash_s":$tMinhash,"asof_s":$tAsof,"range_s":$tRange,"ivf_s":$tIvf,"neardup_blocked_s":$tNearDup,"pipeline_s":$tPipeline,"decontaminate_s":$tDecon,"packing_s":$tPack,"corpus_health_s":$tHealth,"snb_fof_s":$tSnbFof,"snb_thread_s":$tThread}""")
    }
    spark.stop()
  }
}
