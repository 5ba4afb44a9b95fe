package graft.ext

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PcaSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic corpus with a planted dominant axis:
    * x = a·axis + small isotropic noise, unit-normalized like the
    * fixture embeddings. */
  private def planted(n: Int, dims: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new Random(seed)
    val axis = Array.tabulate(dims)(d => math.sin(d * 0.7) + 0.3)
    val an = math.sqrt(axis.map(x => x * x).sum)
    (0 until n).map { i =>
      val a = rnd.nextGaussian() * 3.0
      val raw = Array.tabulate(dims)(d => a * axis(d) / an + rnd.nextGaussian() * 0.1)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / nrm).toFloat))
    }
  }

  private def df(rows: Seq[(Long, Array[Float])]) =
    rows.toDF("vec_id", "embedding")

  /** Double-precision reference PC1 via many power-iteration rounds on
    * the double covariance of the SAME quantized integers. */
  private def referencePc1(rows: Seq[(Long, Array[Float])], dims: Int): Array[Double] = {
    val q = rows.map(_._2.map(x => math.floor(x.toDouble * Pca.QScale)))
    val n = q.length.toDouble
    val s = Array.tabulate(dims)(d => q.map(_(d)).sum)
    val c = Array.tabulate(dims, dims) { (i, j) =>
      n * q.map(v => v(i) * v(j)).sum - s(i) * s(j)
    }
    var v = Array.fill(dims)(1.0)
    (0 until 200).foreach { _ =>
      val u = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val m = u.map(math.abs).max.max(1e-300)
      v = u.map(_ / m)
    }
    v
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("pc1Direction converges to the double-precision dominant eigenvector") {
    val rows = planted(300, 16, seed = 7)
    val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
    assert(n == 300L)
    val v = Pca.pc1Direction(n, s, g).map(_.toDouble)
    val ref = referencePc1(rows, 16)
    assert(math.abs(cosine(v, ref)) >= 0.999)
  }

  test("sign canon: the largest-|.| component is positive") {
    val rows = planted(200, 16, seed = 11)
    val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
    val v = Pca.pc1Direction(n, s, g)
    val mAbs = v.map(math.abs).max
    assert(v(v.indexWhere(math.abs(_) == mAbs)) > 0L)
  }

  test("gramPass is exact and partitioning-independent") {
    val rows = planted(120, 8, seed = 3)
    val (n1, s1, g1) = Pca.gramPass(df(rows), dims = 8)
    val (n2, s2, g2) = Pca.gramPass(df(rows).repartition(13), dims = 8)
    assert(n1 == n2 && s1.toSeq == s2.toSeq)
    assert(g1.map(_.toSeq).toSeq == g2.map(_.toSeq).toSeq)
    // hand-check one entry against a driver-side fold
    val q = rows.map(_._2.map(x => BigInt(math.floor(x.toDouble * Pca.QScale).toLong)))
    assert(s1(3) == q.map(_(3)).sum)
    assert(g1(2)(5) == q.map(v => v(2) * v(5)).sum)
    assert(g1(5)(2) == g1(2)(5))
  }

  test("pc1Scores: projection variance dominates every single axis") {
    val rows = planted(300, 16, seed = 19)
    val scores = Pca.pc1Scores(df(rows), dims = 16)
      .orderBy("vec_id").as[(Long, Long)].collect()
    assert(scores.length == 300)
    // normalized variance of the pc1 projection vs per-axis variance
    val v = {
      val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
      Pca.pc1Direction(n, s, g).map(_.toDouble)
    }
    val vn = math.sqrt(v.map(x => x * x).sum)
    val proj = scores.map(_._2.toDouble / vn)
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val pv = variance(proj.toSeq)
    val q = rows.map(_._2.map(x => math.floor(x.toDouble * Pca.QScale)))
    (0 until 16).foreach { d =>
      assert(pv >= variance(q.map(_(d)).toSeq) - 1e-9)
    }
  }

  test("degenerate corpus (identical vectors): zero covariance, finite scores") {
    val one = Array.fill(8)(0.25f)
    val rows = (0L until 10L).map(i => (i, one))
    val out = Pca.pc1Scores(df(rows), dims = 8)
      .select("pc1_fp").as[Long].collect().toSet
    assert(out.size == 1) // every vector projects identically; no crash
  }

  test("removePc1: exact integer orthogonality and mass preservation") {
    val rows = planted(200, 16, seed = 31)
    val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
    val v = Pca.pc1Direction(n, s, g)
    val w = Pca.removePc1(df(rows), v)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(w.size == 200 && w.values.forall(_.length == 16))
    // the algebraic law: w . v == 0 EXACTLY (integer arithmetic)
    w.values.foreach { wv =>
      val dot = wv.zip(v).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
      assert(dot == BigInt(0), s"whitened vector not orthogonal: $dot")
    }
    // hand replay in exact integers (doubles lose the 2^58 products)
    val q = rows.map(_._2.map(x => BigInt(math.floor(x.toDouble * Pca.QScale).toLong)))
    val vv = v.map(x => BigInt(x) * BigInt(x)).sum
    rows.indices.take(5).foreach { i =>
      val qi = q(rows(i)._1.toInt)
      val qvDot = qi.zip(v).map { case (a, b) => a * BigInt(b) }.sum
      val expect = qi.zip(v).map { case (a, b) => (a * vv - qvDot * b).toLong }
      assert(w(rows(i)._1).toSeq == expect.toSeq)
    }
  }

  /** Two-axis corpus: strong axis1, weaker orthogonal axis2, tiny
    * noise — λ₁ > λ₂ ≫ rest with clear gaps so PC2 is well-defined. */
  private def planted2(n: Int, dims: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new Random(seed)
    val a1 = Array.tabulate(dims)(d => math.sin(d * 0.7) + 0.3)
    val a2raw = Array.tabulate(dims)(d => math.cos(d * 1.3) - 0.1)
    // orthogonalize axis2 against axis1
    val dot = a1.zip(a2raw).map { case (x, y) => x * y }.sum
    val n1 = a1.map(x => x * x).sum
    val a2 = a2raw.zip(a1).map { case (y, x) => y - dot / n1 * x }
    def unit(a: Array[Double]) = {
      val nn = math.sqrt(a.map(x => x * x).sum); a.map(_ / nn)
    }
    val (u1, u2) = (unit(a1), unit(a2))
    (0 until n).map { i =>
      val (c1, c2) = (rnd.nextGaussian() * 3.0, rnd.nextGaussian() * 1.2)
      val raw = Array.tabulate(dims)(d =>
        c1 * u1(d) + c2 * u2(d) + rnd.nextGaussian() * 0.02)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / nrm).toFloat))
    }
  }

  test("pcaMap: k exact coordinates per vector, deterministic") {
    val rows = planted2(150, 16, seed = 43)
    val a = Pca.pcaMap(df(rows), dims = 16).orderBy("vec_id").collect().toSeq
    val b = Pca.pcaMap(df(rows).repartition(7), dims = 16)
      .orderBy("vec_id").collect().toSeq
    assert(a == b && a.length == 150)
    val c = Pca.pcaMap(df(rows), k = 3, dims = 16).orderBy("vec_id").collect().toSeq
    assert(c.length == 150 && c.head.length == 4) // vec_id + 3 axes
  }

  /** Three planted orthogonal axes with separated strengths (3.0 >
    * 1.2 > 0.5 ≫ noise 0.02) so the first THREE components are all
    * well-defined. */
  private def planted3(n: Int, dims: Int, seed: Int)
      : (Seq[(Long, Array[Float])], Seq[Array[Double]]) = {
    val rnd = new Random(seed)
    def unit(a: Array[Double]) = {
      val nn = math.sqrt(a.map(x => x * x).sum); a.map(_ / nn)
    }
    // Gram-Schmidt three deterministic raw axes
    val raw = Seq(
      Array.tabulate(dims)(d => math.sin(d * 0.7) + 0.3),
      Array.tabulate(dims)(d => math.cos(d * 1.3) - 0.1),
      Array.tabulate(dims)(d => math.sin(d * 2.1 + 1.0) + 0.2))
    val axes = raw.foldLeft(Seq.empty[Array[Double]]) { (acc, a) =>
      val proj = acc.foldLeft(a.clone()) { (v, u) =>
        val d = v.zip(u).map { case (x, y) => x * y }.sum
        v.zip(u).map { case (x, y) => x - d * y }
      }
      acc :+ unit(proj)
    }
    val strengths = Seq(3.0, 1.2, 0.5)
    val rows = (0 until n).map { i =>
      val cs = strengths.map(_ * rnd.nextGaussian())
      val v = Array.tabulate(dims) { d =>
        axes.zip(cs).map { case (u, c) => c * u(d) }.sum + rnd.nextGaussian() * 0.02
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / nrm).toFloat))
    }
    (rows, axes)
  }

  test("pcaDirections(3): each axis finds its planted direction; all pairs near-orthogonal") {
    val (rows, axes) = planted3(400, 16, seed = 61)
    val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
    val dirs = Pca.pcaDirections(n, s, g, 3)
    assert(dirs.length == 3)
    dirs.zip(axes).zipWithIndex.foreach { case ((v, u), i) =>
      val c = math.abs(cosine(v.map(_.toDouble), u))
      assert(c >= 0.99, s"axis ${i + 1} misaligned: |cos|=$c")
    }
    for (i <- 0 until 3; j <- (i + 1) until 3) {
      val c = cosine(dirs(i).map(_.toDouble), dirs(j).map(_.toDouble))
      assert(math.abs(c) < 0.02, s"axes ${i + 1},${j + 1} not orthogonal: $c")
    }
    // the k=1 head IS pc1Direction (pure prefix property)
    assert(Pca.pcaDirections(n, s, g, 1).head.toSeq ==
      Pca.pc1Direction(n, s, g).toSeq)
  }

  test("whiten is removePc1 in wide form: same integers, cast once to double") {
    val rows = planted(120, 16, seed = 67)
    val (n, s, g) = Pca.gramPass(df(rows), dims = 16)
    val v = Pca.pc1Direction(n, s, g)
    val wide = Pca.whiten(df(rows), v)
      .as[(Long, Array[Double])].collect().toMap
    val long = Pca.removePc1(df(rows), v)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3.toDouble)).toMap
    assert(wide.size == 120)
    wide.foreach { case (id, w) => assert(w.toSeq == long(id).toSeq) }
  }

  test("whitening collapses common-direction inflation: measured (the e109 rationale)") {
    // On a corpus with a genuinely dominant direction (the MiniLM
    // regime the whiten scaladoc cites — NOT the near-isotropic
    // fixture), raw pairwise cosines are inflated by the shared
    // component and whitened ones collapse toward isotropy. Measured
    // here, e104-style, with the drop-set consequence the e109 query
    // exists for.
    val rows = planted(200, 16, seed = 53)
    val raw = df(rows)
    val (n, s, g) = Pca.gramPass(raw, dims = 16)
    val v1 = Pca.pc1Direction(n, s, g)
    val whitened = Pca.whiten(raw, v1)
    def meanAbsCos(vecs: Seq[Array[Double]]): Double = {
      val us = vecs.map { v =>
        val nn = math.sqrt(v.map(x => x * x).sum).max(1e-300); v.map(_ / nn)
      }
      val cs = for (i <- us.indices; j <- (i + 1) until us.size)
        yield math.abs(us(i).zip(us(j)).map { case (a, b) => a * b }.sum)
      cs.sum / cs.size
    }
    val rawCos = meanAbsCos(rows.map(_._2.map(_.toDouble)))
    val whitCos = meanAbsCos(whitened.orderBy("vec_id")
      .as[(Long, Array[Double])].collect().map(_._2).toSeq)
    assert(rawCos > 0.5, s"planted corpus should read inflated, got $rawCos")
    assert(whitCos < 0.25, s"whitened corpus should read isotropic, got $whitCos")
    // The consequence semDeDup sees at ONE shared threshold: raw space
    // drops near-everything (the common direction aliases unrelated
    // docs), whitened space keeps what only LOOKED duplicated.
    val dropRaw = Similarity.semDedup(raw, k = 4, iters = 1,
      threshold = 0.6, roundDecimals = 6).count()
    val dropWhit = Similarity.semDedup(whitened, k = 4, iters = 1,
      threshold = 0.6, roundDecimals = 6).count()
    // measured on this corpus: raw drops 181 of 200 (the common
    // direction aliases 90% of the corpus), whitened drops 70 (the
    // residual-space tail) — a 2.6x gap; gate at 2x
    assert(dropRaw > 2 * math.max(dropWhit, 1L),
      s"expected raw-space over-dropping: raw=$dropRaw whitened=$dropWhit")
  }

  test("axisDrift: exact replay from pc1Scores, full partition of the corpus") {
    val rows = planted2(240, 16, seed = 47)
    val emb = df(rows)
    val groups = (0L until 240L).map(i => (i, s"src${i % 3}"))
      .toDF("vec_id", "source")
    val out = Pca.axisDrift(emb, groups, half = col("vec_id") % 2, dims = 16)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(_._3).sum == 240L)
    assert(out.length == 6) // 3 sources x 2 halves
    // replay: group the pc1 projection by (source, half) on the driver
    val scores = Pca.pc1Scores(emb, dims = 16)
      .as[(Long, Long)].collect().toMap
    val expect = (0L until 240L).groupBy(i => (s"src${i % 3}", i % 2))
      .map { case ((src, h), ids) =>
        val sm = ids.map(i => BigInt(scores(i))).sum
        (src, h, ids.size.toLong, ((sm * 1000) / ids.size).toLong)
      }.toSeq.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expect)
  }

  test("mergeGram: maintained state equals a full pass, axis and all") {
    val rows = planted(240, 16, seed = 71)
    val all = df(rows)
    val older = all.where(col("vec_id") % 5 =!= 1)
    val newer = all.where(col("vec_id") % 4 =!= 2)
    val base = Pca.gramPass(older, dims = 16)
    val sub = Pca.gramPass(
      older.where(col("vec_id") % 4 === 2), dims = 16)
    val add = Pca.gramPass(
      newer.where(col("vec_id") % 5 === 1), dims = 16)
    val (n, s, g) = Pca.mergeGram(base, sub, add)
    val (nf, sf, gf) = Pca.gramPass(newer, dims = 16)
    assert(n == nf && s.toSeq == sf.toSeq)
    assert(g.map(_.toSeq).toSeq == gf.map(_.toSeq).toSeq)
    // the axis re-derived from the merged state is the rebuild's axis
    assert(Pca.pc1Direction(n, s, g).toSeq ==
      Pca.pc1Direction(nf, sf, gf).toSeq)
  }

  test("determinism: two invocations hash-identical") {
    val rows = planted(150, 16, seed = 23)
    val a = Pca.pc1Scores(df(rows), dims = 16).orderBy("vec_id").collect().toSeq
    val b = Pca.pc1Scores(df(rows).repartition(9), dims = 16).orderBy("vec_id").collect().toSeq
    assert(a == b)
  }
}
