package graft.ext

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, explode, lit, size, split}

import graft.SparkSpec

class TextSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat, and the dog slept."),
    (2L, "der hund und die katze das ist gut"),
    (3L, "xyzzy plugh")).toDF("doc_id", "text")

  test("tokenStats counts tokens, stopwords, punctuation") {
    val m = Text.tokenStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(m(1L) == ((10, 5, 2)))   // 10 tokens; the,on,the,and,the; one comma + one period
    assert(m(3L) == ((2, 0, 0)))
  }

  test("repetitionStats: repeated bigrams raise the ratio; short docs get 0") {
    val d = Seq(
      (1L, "a b a b a b"),   // bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
      (2L, "all words here unique"),
      (3L, "solo")).toDF("doc_id", "text")
    val m = Text.repetitionStats(d, n = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((5, 2, 1.0 - 2.0 / 5.0)))
    assert(m(2L) == ((3, 3, 0.0)))
    assert(m(3L) == ((0, 0, 0.0)))
  }

  test("gopherRules: hand-exact stats, each rule gates independently") {
    val good = (Seq("the", "a") ++ Seq.fill(58)("word")).mkString(" ")
    val short = "the a cat" // fails word count (and mean word length 7/3)
    val hashy = (Seq("the", "and") ++ Seq.fill(50)("###")).mkString(" ")
    val dotty = (Seq("the", "a") ++ Seq.fill(58)("run...")).mkString(" ")
    val d = Seq((1L, good), (2L, short), (3L, hashy), (4L, dotty))
      .toDF("doc_id", "text")
    val m = Text.gopherRules(d).collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getDouble(2), r.getInt(3), r.getDouble(4),
        r.getDouble(5), r.getInt(6)))).toMap

    // good: 60 words, sum(len) = 3+1+58*4 = 236, 2 stop hits, clean
    assert(m(1L) == ((60, 236.0 / 60.0, 2, 0.0, 1.0, 1)))
    // short: stats fine but 3 words < 50 and mean 7/3 < 3 -> rejected
    assert(m(2L) == ((3, 7.0 / 3.0, 2, 0.0, 1.0, 0)))
    // hashy: 52 words, 150 '#' chars -> symbol_ratio 150/52 > 0.1 and
    // alpha_frac 2/52 < 0.8; mean word length sits EXACTLY on the 3.0
    // boundary (inclusive) — rejected by the symbol/alpha rules alone
    assert(m(3L) == ((52, 3.0, 2, 150.0 / 52.0, 2.0 / 52.0, 0)))
    // dotty: one '...' per word -> 58 ellipses, ratio 58/60 > 0.1; every
    // word still has an alphabetic char so ONLY the symbol rule fires
    assert(m(4L) == ((60, 352.0 / 60.0, 2, 58.0 / 60.0, 1.0, 0)))
  }

  test("normalizeForDedup canonicalizes case, punctuation, whitespace") {
    val d = Seq(
      (1L, "  The CAT sat,  on   the mat! ?"),
      (2L, "the cat sat on the mat")).toDF("doc_id", "text")
    val out = d.select($"doc_id",
      Text.normalizeForDedup($"text").as("n")).as[(Long, String)].collect().toMap
    // case folded, [.,!?;:] stripped, whitespace runs collapsed, ends
    // trimmed: the two variants become byte-identical
    assert(out(1L) == "the cat sat on the mat")
    assert(out(1L) == out(2L))
  }

  test("redactPii counts and rewrites emails and phone numbers") {
    val d = Seq(
      (1L, "mail bob.smith+x@sub.example.org or call 415-555-0123 now"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val rows = Text.redactPii(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(1L)._1 == 1 && rows(1L)._2 == 1)
    assert(rows(1L)._3 == "mail <EMAIL> or call <PHONE> now")
    assert(rows(2L) == ((0, 0, "no pii here")))
  }

  test("qualityScore is in [0,1] and prose scores above noise") {
    val q = Text.qualityScore(docs).as[(Long, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(3L))
  }

  test("langId picks marker-dominant language, und for no hits") {
    val l = Text.langId(docs).as[(Long, String)].collect().toMap
    assert(l(1L) == "en")
    assert(l(2L) == "de")
    assert(l(3L) == "und")
  }

  test("fingerprints: md5 of text and prefix") {
    val f = Text.fingerprints(docs).collect()
    assert(f.forall(_.getString(1).length == 32))
    // doc 3 text < 64 chars: prefix fp == full fp
    val r3 = f.find(_.getLong(0) == 3L).get
    assert(r3.getString(1) == r3.getString(2))
  }

  test("chunkTokens: stride==size reconstructs, overlap covers every window") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    // no-overlap chunks concatenate back to the exact original text
    val rebuilt = Text.chunkTokens(corpus, size = 16, stride = 16)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        s => s.getField("chunk_text")), " ").as("rebuilt"))
    assert(corpus.join(rebuilt, "doc_id")
      .where(col("rebuilt") =!= col("text")).count() == 0)
    // overlapping chunks: count and per-chunk sizes follow the contract
    val c = Text.chunkTokens(corpus, size = 8, stride = 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"),
        min(col("chunk_tokens")).as("min_ct"), max(col("chunk_tokens")).as("max_ct"))
      .join(corpus.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_toks")), "doc_id")
    assert(c.where(col("n_chunks") =!= floor((col("n_toks") - 1) / 4) + 1).count() == 0)
    assert(c.where(col("max_ct") > 8).count() == 0)
    // a chunk's text is exactly the token slice it claims
    val one = Text.chunkTokens(corpus, size = 8, stride = 4)
      .where(col("doc_id") === corpus.select(min(col("doc_id"))).head().getLong(0)
        && col("chunk_idx") === 1)
      .select(col("chunk_text")).head().getString(0)
    val toks = corpus.orderBy("doc_id").select(col("text")).head().getString(0).split(" ")
    assert(one == toks.slice(4, 12).mkString(" "))
  }

  test("surprisalScores: rare tokens score high, common low, integers exact") {
    import spark.implicits._
    // corpus of 16 tokens: "a" x12, "rare" x1, "mid" x3
    val corpus = Seq(
      (1L, "a a a a a a rare"),
      (2L, "a a a a a a mid mid mid")).toDF("doc_id", "text")
    val out = Text.surprisalScores(corpus)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // N = 16 -> flog2 = 4; cnt(a)=12 -> 3, cnt(rare)=1 -> 0, cnt(mid)=3 -> 1
    // doc 1: 6 a's (s=1) + rare (s=4) = 10; doc 2: 6 a's + 3 mids (s=3) = 15
    assert(out(1L) == ((1L, 7L, 10L, 10L * 1000 / 7)))
    assert(out(2L) == ((2L, 9L, 15L, 15L * 1000 / 9)))
  }

  test("phraseScores finds the repeated collocation, hand-exact") {
    // "new york" appears 5 times adjacently; filler words never pair
    val corpus = Seq(
      (1L, "new york new york new york x y z"),
      (2L, "new york new york q r s t u v")).toDF("doc_id", "text")
    val scores = Text.phraseScores(corpus, delta = 3L, minScoreFp = 1L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // c(new)=5, c(york)=5, c(new york)=5, N=19 tokens
    val expect = (5L - 3L) * 19L * Text.PhraseScale / (5L * 5L)
    assert(scores("new york") == (("new york", 5L, expect)))
    // "york new" occurs 3 times -> c_ab == delta -> filtered out
    assert(!scores.contains("york new"))
  }

  test("skipgramPairs: symmetric positives, negative mass conservation, determinism") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 5 === 1)
    val pairs = Text.skipgramPairs(corpus, window = 2, negatives = 3)
      .as[(String, String, Long, Long)].collect()
    val pos = pairs.filter(_._3 == 1L)
    val neg = pairs.filter(_._3 == -1L)
    assert(pos.nonEmpty && neg.nonEmpty)
    // the window is symmetric: (a, b) and (b, a) carry equal positive mass
    val pm = pos.map(p => (p._1, p._2) -> p._4).toMap
    assert(pos.forall(p => pm((p._2, p._1)) == p._4))
    // every positive instance draws exactly `negatives` negatives
    assert(neg.map(_._4).sum == 3L * pos.map(_._4).sum)
    // negatives come from the corpus vocabulary
    val vocab = corpus.select(explode(split(col("text"), " "))).as[String]
      .collect().toSet
    assert(neg.forall(n => vocab(n._2)))
    // reruns under a different partitioning agree exactly
    val again = Text.skipgramPairs(corpus.repartition(7), window = 2,
      negatives = 3).as[(String, String, Long, Long)].collect()
    assert(pairs.toSet == again.toSet)
  }

  test("freqWeighted negatives follow the unigram mass, banded == interval law") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 5 === 1)
    def negCounts(weighted: Boolean): Map[String, Long] =
      Text.skipgramPairs(corpus, window = 2, negatives = 3,
          freqWeighted = weighted)
        .where(col("label") === -1L)
        .groupBy("other").agg(org.apache.spark.sql.functions.sum("cnt").as("n"))
        .as[(String, Long)].collect().toMap
    val wtd = negCounts(true)
    val uni = negCounts(false)
    // same total negative mass either way
    assert(wtd.values.sum == uni.values.sum && wtd.nonEmpty)
    // the weighted draw tracks corpus frequency: the most frequent
    // token receives a larger share than under the uniform draw
    val freq = corpus.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().as[(String, Long)].collect().toMap
    val top = freq.maxBy(_._2)._1
    assert(wtd.getOrElse(top, 0L) > uni.getOrElse(top, 0L),
      s"'$top' weighted ${wtd.get(top)} <= uniform ${uni.get(top)}")
    // determinism under repartitioning
    val again = Text.skipgramPairs(corpus.repartition(9), window = 2,
        negatives = 3, freqWeighted = true)
      .as[(String, String, Long, Long)].collect().toSet
    val first = Text.skipgramPairs(corpus, window = 2, negatives = 3,
        freqWeighted = true)
      .as[(String, String, Long, Long)].collect().toSet
    assert(first == again)
  }

  test("cooccurrence: hand-computed window-2 weights, symmetric mass") {
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    val co = Text.cooccurrence(corpus, window = 2)
      .as[(String, String, Long)].collect()
      .map { case (c, x, w) => (c, x) -> w }.toMap
    val S = Text.PhraseScale
    assert(co == Map(
      ("a", "b") -> S, ("a", "c") -> S / 2,
      ("b", "a") -> S, ("b", "c") -> S,
      ("c", "b") -> S, ("c", "a") -> S / 2))
    // ordered-pair matrix is symmetric by construction
    val big = Text.cooccurrence(spark.read.parquet(s"$sf0001/documents.parquet"))
      .as[(String, String, Long)].collect()
    val m = big.map { case (c, x, w) => (c, x) -> w }.toMap
    assert(big.forall { case (c, x, w) => m((x, c)) == w })
  }

  test("domainShift: single source scores exactly 0; two-source hand-exact") {
    // one group: p_g == p for every token -> every term 0
    val mono = Seq((0L, "x y z x", "s0"), (1L, "y z", "s0"))
      .toDF("doc_id", "text", "source")
    val zero = Text.domainShift(mono).select("kl_s8").as[Long].collect()
    assert(zero.toSeq == Seq(0L))
    // A = "a a b", B = "b b b": pool a:2 b:4, N=6.
    // p_A(a) = 699050 (log8 154), p_A(b) = 349525 (log8 146),
    // p(a) = 349525, p(b) = 699050, p_B(b) = 2^20 (log8 160).
    // KL_A = 699050*8 - 349525*8 = 2796200; KL_B = 1048576*6 = 6291456.
    val duo = Seq((0L, "a a b", "A"), (1L, "b b b", "B"))
      .toDF("doc_id", "text", "source")
    val out = Text.domainShift(duo)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("A", 3L, 2L, 2796200L), ("B", 3L, 1L, 6291456L)))
    // partitioning independence on the fixture
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = Text.domainShift(docs).collect().map(_.toSeq).toSet
    val b = Text.domainShift(docs.repartition(13)).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("perplexityBuckets: per-lang terciles, balanced and monotone") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pred = col("doc_id") % 5 =!= 3
    val out = Text.perplexityBuckets(docs, trainFilter = pred)
      .as[(Long, String, Long, Long)].collect()
    val scoredN = Text.bigramSurprisal(docs, trainFilter = pred).count()
    assert(out.length == scoredN)
    assert(out.forall(r => r._4 >= 1 && r._4 <= 3))
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$lang unbalanced: $sizes")
      val byB = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      byB.keys.toSeq.sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(byB(a).max <= byB(b).min,
            s"$lang buckets $a/$b not perplexity-ordered")
        case _ =>
      }
    }
  }

  test("bigramSurprisal: hand-exact on a two-doc corpus") {
    // doc0 "a b a b": bigrams (a,b)(b,a)(a,b); doc1 "a b": (a,b).
    // Train = both docs. c2(a,b)=3, c2(b,a)=1; cl(a)=3, cl(b)=1;
    // uni: a->3, b->3; N=6. For (a,b): pb = 3*((3S)//3) = 3S,
    // pu = (3S)//6 = S/2, p = (3S + S/2)//4 = 917504,
    // s8 = 160 - (8*19 + (917504*8 >> 19) - 8) = 160 - 158 = 2.
    // For (b,a): pb = 3*((1*S)//1) = 3S, same pu -> same s8 = 2.
    val corpus = Seq((0L, "a b a b"), (1L, "a b")).toDF("doc_id", "text")
    val out = Text.bigramSurprisal(corpus, trainFilter = lit(true))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 3L, 6L, 2000L), (1L, 1L, 2L, 2000L)))
  }

  test("bigramSurprisal: unseen events score the 160 floor, short docs absent") {
    // doc 9 is held out and shares no vocabulary with training: both the
    // bigram and unigram terms are 0, p clamps to 1, s8 = 160 exactly.
    // doc 5 has one token -> no bigram events -> no output row.
    val corpus = Seq((0L, "x y x y z"), (5L, "solo"),
      (9L, "q r q")).toDF("doc_id", "text")
    val out = Text.bigramSurprisal(corpus, trainFilter = col("doc_id") === 0)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(!out.exists(_._1 == 5L), "single-token doc must be absent")
    val held = out.find(_._1 == 9L).get
    assert(held._2 == 2L && held._3 == 320L && held._4 == 160000L,
      s"unknown floor: $held")
  }

  test("bigramSurprisal: fixture smoke, bounds, partitioning independence") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val trainSplit = col("doc_id") % 5 =!= 3
    val out = Text.bigramSurprisal(docs, trainFilter = trainSplit).collect()
    val nLong = docs.where(size(split(col("text"), " ")) >= 2).count()
    assert(out.length == nLong)
    out.foreach { r =>
      val (n, s, m) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && s >= 0 && s <= 160 * n, s"s8 out of range: $r")
      assert(m == s * 1000 / n)
    }
    val again = Text.bigramSurprisal(docs.repartition(13),
      trainFilter = trainSplit).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("knTrigramSurprisal: continuation counts — the Francisco test") {
    // 'francisco' and 'york' are equally FREQUENT in training, but
    // francisco only ever follows 'san' (one continuation context)
    // while york follows ten distinct words. Scoring both in a fully
    // unseen context backs off to the continuation unigram, which must
    // prefer york — the exact asymmetry raw-frequency interpolation
    // (e75's Jelinek-Mercer) cannot express.
    val train = (0L until 10L).map(i => (i, "visit san francisco today")) ++
      (10L until 20L).map(i => (i, s"visit w$i york"))
    val tests = Seq((100L, "qq zz francisco"), (101L, "qq zz york"))
    val corpus = (train ++ tests).toDF("doc_id", "text")
    val out = Text.knTrigramSurprisal(corpus, trainFilter = col("doc_id") < 100L)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(out(100L) > out(101L),
      s"KN must score low-continuation 'francisco' as MORE surprising: $out")
  }

  test("knTrigramSurprisal: unknown floor, short docs absent, back-off levels") {
    val corpus = Seq(
      (0L, "a b c a b c a b c"), // train: c3(a,b,c)=3, c3(b,c,a)=2, c3(c,a,b)=2
      (5L, "one two"),           // 2 tokens -> no trigram events
      (9L, "q r s t")).toDF("doc_id", "text") // fully unseen -> 160 floor
    val out = Text.knTrigramSurprisal(corpus, trainFilter = col("doc_id") === 0L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(!out.exists(_._1 == 5L), "sub-trigram doc must be absent")
    val held = out.find(_._1 == 9L).get
    assert(held._2 == 2L && held._3 == 320L && held._4 == 160000L,
      s"unknown floor: $held")
    // the train doc itself scores far below the floor (seen trigrams)
    val seen = out.find(_._1 == 0L).get
    assert(seen._4 < 80000L, s"seen trigrams must be cheap: $seen")
  }

  test("knTrigramSurprisal: fixture smoke, bounds, partitioning independence") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val trainSplit = col("doc_id") % 5 =!= 3
    val out = Text.knTrigramSurprisal(docs, trainFilter = trainSplit).collect()
    val nLong = docs.where(size(split(col("text"), " ")) >= 3).count()
    assert(out.length == nLong)
    out.foreach { r =>
      val (n, s, m) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && s >= 0 && s <= 160 * n, s"s8 out of range: $r")
      assert(m == s * 1000 / n)
    }
    val again = Text.knTrigramSurprisal(docs.repartition(13),
      trainFilter = trainSplit).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("charEntropy: extremes, hand values, partitioning independence") {
    val cdocs = Seq(
      (1L, "aaaaaaaa"),                 // single char: entropy 0
      (2L, "abababab"),                 // two equal chars: exactly 1 bit
      (3L, "abcdefgh"),                 // 8 distinct: exactly 3 bits
      (4L, "")                          // empty: absent
    ).toDF("doc_id", "text")
    val out = Text.charEntropy(cdocs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out.contains(4L))
    assert(out(1L) == ((8L, 0L)))
    // log8 is exact on powers of two, so these are exactly 8 and 24
    assert(out(2L) == ((8L, 8L)))
    assert(out(3L) == ((8L, 24L)))
    // gibberish-vs-prose ordering: uniform mash above english-ish text
    val pair = Seq(
      (10L, "the cat sat on the mat and the dog sat too"),
      (11L, "qxzjvkwpyfghbdnmrtlscqxzjvkwpyfghbdnmrtlsc"))
      .toDF("doc_id", "text")
    val p = Text.charEntropy(pair).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(p(11L) > p(10L))
    // bit-stable under partitioning
    val again = Text.charEntropy(cdocs.repartition(5))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == out)
  }

  test("charEntropy kernel == naive reference, incl. the code-point spill map") {
    def log8(x: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
      8L * e + ((x * 8) >> e) - 8
    }
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) return 0L
      val n = cps.length.toLong
      cps.groupBy(identity).values
        .map(g => g.length.toLong * (log8(n) - log8(g.length.toLong)))
        .sum / n
    }
    val rnd = new scala.util.Random(42)
    val alphabets = Seq(
      "ab", "abcdefghijklmnopqrstuvwxyz0123456789 .,!?",
      // > 128 distinct non-ASCII code points forces the spill map AND
      // its resize path
      (0x400 to 0x560).map(_.toChar).mkString,
      "日本語テキストの例です中文文本示例한국어텍스트")
    val cases = for (a <- alphabets; len <- Seq(1, 7, 130, 900)) yield
      (0 until len).map(_ => a(rnd.nextInt(a.length))).mkString
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Text.charEntropy(df)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      val n = t.codePoints().count()
      assert(got(i.toLong) == ((n, ref(t))), s"case $i: '${t.take(30)}...'")
    }
  }

  test("gopher rule gate runs stateless at ingest: stream == batch, full stats") {
    // The rule gate needs NO frozen model — it is row-local projection
    // arithmetic, so the batch operator runs unchanged over a stream
    // (no watermark, no state store, no shuffle). This law pins that
    // property: the same Text.gopherRules call over a MemoryStream
    // emits bit-identical stats and the identical keep set under any
    // trigger split.
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = Text.gopherRules(train)
      .select("doc_id", "mean_word_len", "stop_hits", "keep")
      .as[(Long, Double, Int, Int)].collect().toSet
    val keptBatch = batch.filter(_._4 == 1)
    assert(keptBatch.nonEmpty && keptBatch.size < batch.size) // real split
    val mem = MemoryStream[(Long, String)]
    val q = Text.gopherRules(mem.toDF().toDF("doc_id", "text"))
      .select("doc_id", "mean_word_len", "stop_hits", "keep")
      .writeStream.format("memory").queryName("gopher_gate").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("gopher_gate")
        .as[(Long, Double, Int, Int)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("char-entropy scorer runs stateless at ingest: stream == batch") {
    // charEntropy is ONE row-local projection (the gopher class): the
    // batch operator runs unchanged over a stream — no state, no shuffle.
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = Text.charEntropy(train)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val mem = MemoryStream[(Long, String)]
    val q = Text.charEntropy(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("char_entropy").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      assert(spark.table("char_entropy")
        .as[(Long, Long, Long)].collect().toSet == batch)
    } finally q.stop()
  }
}
