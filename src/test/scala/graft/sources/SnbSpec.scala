package graft.sources

import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.EdgeSpec

/** Invariants of the generated SNB fixture ([[GraphLoader.snb]]) and a
  * cross-engine consistency law: the GraphX Pregel BFS (q26's path) and
  * the DSL's driver-superstep `untilFixpoint` are independent iterative
  * engines and must visit exactly the same vertex set. */
class SnbSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sg = GraphLoader.snb(spark, sf0001)
  private lazy val pg = GraphLoader.snb(spark, sf0001, materializeComments = true)

  test("knows generator: no self loops, deduped, supernode skew, since formula") {
    val knows = sg.edgeFrames(EdgeSpec("KNOWS", "Person", "Person"))
    val rows = knows.select(col("_src"), col("_dst"), col("since"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (s, d, _) => s != d }, "self loop leaked")
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length, "duplicate (src, dst)")
    assert(rows.forall { case (s, d, p) => p == (7 * s + 3 * d) % 1000 }, "since formula drift")
    val outDeg = rows.groupBy(_._1).view.mapValues(_.length)
    // supernodes (p % 97 == 0) emit 40 edges minus dropped self/dups;
    // everyone else tops out at 5
    assert(outDeg.values.max >= 35, s"no supernode: max degree ${outDeg.values.max}")
    assert(outDeg.filter { case (p, _) => p % 97 != 0 }.values.max <= 5)
  }

  test("comment reply trees: unique parent, acyclic, rooted at the order's post") {
    val toPost = sg.edgeFrames(EdgeSpec("REPLY_OF", "Comment", "Post"))
      .select(col("_src"), col("_dst")).as[(Long, Long)].collect()
    val toComment = sg.edgeFrames(EdgeSpec("REPLY_OF", "Comment", "Comment"))
      .select(col("_src"), col("_dst")).as[(Long, Long)].collect()
    val comments = sg.vertexFrames("Comment")
      .select(col("_vid")).as[Long].collect().toSet
    assert(comments.nonEmpty && toPost.nonEmpty && toComment.nonEmpty)
    // every comment has exactly ONE parent (tree, not DAG)
    val allSrc = toPost.map(_._1) ++ toComment.map(_._1)
    assert(allSrc.length == allSrc.distinct.length, "comment with two parents")
    assert(allSrc.toSet == comments, "comment without a parent (dangling root)")
    // edges never dangle: parents exist
    assert(toComment.map(_._2).forall(comments.contains), "reply to missing comment")
    // acyclic by construction: parent rank < child rank; verify the
    // tree resolves — walking parents from every comment terminates at
    // a post within 8 steps (max 7 ranks per order)
    val parentOf = toComment.toMap
    val roots = toPost.map(_._1).toSet
    comments.foreach { c =>
      var cur = c
      var steps = 0
      while (!roots.contains(cur) && steps < 8) {
        cur = parentOf(cur); steps += 1
      }
      assert(roots.contains(cur), s"comment $c does not reach a post in 8 hops")
    }
    // comments stay within their own order's thread: cid = 8*ok + ln,
    // and the rank-1 root replies to post ok
    assert(toPost.forall { case (cid, post) => cid / 8 == post },
      "rank-1 comment replies to a different order's post")
    assert(toComment.forall { case (c, p) => c / 8 == p / 8 },
      "reply crosses order boundary")
  }

  test("Pregel BFS (q26) == DSL untilFixpoint visited set on the knows graph") {
    val viaPregel = graft.queries.Inventory.q26_snb_path(spark, sf0001)
      .select(col("person_id")).as[Long].collect().toSet
    val viaDsl = graft.dsl.G(sg).V("Person", 1L)
      .untilFixpoint(maxIter = 4)(_.both("KNOWS"))
      .toDF.select(col(graft.model.GraphColumns.Id)).as[Long].collect().toSet
    assert(viaPregel == viaDsl,
      s"engines disagree: pregel-only=${(viaPregel -- viaDsl).take(5)}, dsl-only=${(viaDsl -- viaPregel).take(5)}")
    assert(viaPregel.contains(1L) && viaPregel.size > 1)
  }

  test("point-read mode: all 8 frames equal the lazy graph's and read only materialized rows") {
    val frames =
      sg.vertexFrames.keys.toSeq.map(l => (l, sg.vertexFrames(l), pg.vertexFrames(l))) ++
      sg.edgeFrames.keys.toSeq.map(e => (e.toString, sg.edgeFrames(e), pg.edgeFrames(e)))
    assert(frames.size == 8 && pg.vertexFrames.size == 3 && pg.edgeFrames.size == 5)
    frames.foreach { case (name, lazyDf, pointDf) =>
      assert(pointDf.columns.toSeq == lazyDf.columns.toSeq, name)
      assert(pointDf.count() == lazyDf.count(), name)
      assert(pointDf.exceptAll(lazyDf).isEmpty, s"$name: rows the lazy graph lacks")
      assert(lazyDf.exceptAll(pointDf).isEmpty, s"$name: rows the point-read graph lacks")
    }
    val unmaterialized = frames.collect {
      case (name, _, pointDf) if !GraftSqlShims.readsMaterialized(pointDf) => name
    }
    assert(unmaterialized.isEmpty, s"frames not materialized: ${unmaterialized.mkString(", ")}")
  }

  test("point hops on the point-read graph neither generate KNOWS nor shuffle it") {
    val hops = Seq(
      graft.dsl.G(pg).V("Person", 0L).bothE("KNOWS").toDF,
      graft.dsl.G(pg).V("Person", 0L).both("KNOWS").both("KNOWS").dedup().toDF)
    hops.foreach { df =>
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      val shown = p.linesIterator.take(60).mkString("\n")
      // AQE wraps only plans with an exchange; a first hop that is a key
      // filter on KNOWS (bothE here) has none and is final as planned
      assert(p.contains("AdaptiveSparkPlan isFinalPlan=true") || !p.contains("Exchange"),
        s"AQE did not finalize:\n$shown")
      assert(!p.contains("Generate"), s"KNOWS explode in a point hop:\n$shown")
      assert(!p.contains("Window"), s"Window in a point hop:\n$shown")
      // KNOWS's (src, dst) `distinct` is the only hash exchange over both keys
      assert(!"Exchange hashpartitioning\\(_src#\\d+L?, _dst#\\d+L?".r.findFirstIn(p).isDefined,
        s"KNOWS distinct shuffle in a point hop:\n$shown")
    }
  }
}
