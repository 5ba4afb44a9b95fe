package graft.ext

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(30)
    Multimodal.mediaFromDocuments(docs)
  }

  test("media table plumbing: binary payloads with typed metadata") {
    val rows = media.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.bytes.nonEmpty))
    assert(rows.map(_.kind).toSet == Set("image", "audio", "video"))
  }

  test("extractFeatures is deterministic and preserves ids") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.map(_.media_id).toSet == media.collect().map(_.media_id).toSet)
    assert(f1.forall(f => f.width >= 64 && f.height >= 64 && f.byte_len > 0))
  }

  test("resize rewrites payloads proportionally to the pixel-count change") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    val media = Multimodal.mediaFromDocuments(docs)
    val before = media.collect().map(r => r.media_id -> r.bytes.length).toMap
    val resized = Multimodal.resize(media, 32, 32).collect()
    assert(resized.length == before.size)
    // 32x32 is smaller than every fake-decoded dimension (>= 64x64), so
    // every payload must shrink but stay non-empty
    assert(resized.forall(r => r.bytes.length <= before(r.media_id) && r.bytes.nonEmpty))
  }

  test("mediaEmbeddings feed the similarity stack end-to-end") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val emb = Multimodal.mediaEmbeddings(Multimodal.mediaFromDocuments(docs))
    assert(emb.columns.toSeq == Seq("vec_id", "embedding"))
    val first = emb.orderBy("vec_id").head()
    assert(first.getSeq[Float](1).length == 64)
    // deterministic: a second extraction produces identical vectors
    val again = Multimodal.mediaEmbeddings(Multimodal.mediaFromDocuments(docs))
      .orderBy("vec_id").head()
    assert(first.getSeq[Float](1) == again.getSeq[Float](1))
    // ANN over media embeddings: valid top-k with no self matches
    val topk = Similarity.bruteForceTopK(emb, Seq(0L, 3L), 5)
    val rows = topk.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall { case (q, n) => q != n })
    assert(rows.groupBy(_._1).values.forall(_.length == 5))
  }
}
