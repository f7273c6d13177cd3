package graft

import graft.ops.LinkGraph
import org.apache.spark.sql.functions._

class LinkGraphSpec extends SparkSuite {
  import spark.implicits._

  private def refPageRank(edges: Seq[(Long, Long)], iters: Int, d: Double)
      : Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> math.rint(1.0 / n * 1e9) / 1e9).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).view.mapValues(_.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map { v =>
        v -> math.rint(((1 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n)) * 1e9) / 1e9
      }.toMap
    }
    r
  }

  test("pageRank matches the local reference on hub/chain/dangling shapes") {
    // hub (everyone -> 0), a chain, a dangling sink, parallel-edge dup
    val edges: Seq[(Long, Long)] = Seq(
      (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L),
      (0L, 5L), (5L, 6L), (6L, 7L),          // chain; 7 dangles
      (1L, 2L), (1L, 2L),                    // parallel edge counts once
      (8L, 9L))                              // separate pair; 9 dangles
    for (iters <- Seq(1, 3, 5)) {
      val got = LinkGraph.pageRank(edges.toDF("s", "t"), "s", "t", iterations = iters)
        .as[(Long, Double)].collect().toMap
      val want = refPageRank(edges, iters, 0.85)
      assert(got.keySet == want.keySet, s"iters=$iters nodes")
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) < 1e-9, s"iters=$iters node=$k got=$v want=${want(k)}")
      }
      // mass conservation: ranks sum to ~1
      assert(math.abs(got.values.sum - 1.0) < 1e-6, s"iters=$iters mass")
    }
    // the hub must outrank every spoke
    val r3 = LinkGraph.pageRank(edges.toDF("s", "t"), "s", "t").as[(Long, Double)].collect().toMap
    assert(r3(0L) > r3(1L) && r3(0L) > r3(8L))
  }

  test("pageRank: empty edges and null endpoints") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "t")
    assert(LinkGraph.pageRank(empty, "s", "t").count() == 0)
    val withNulls = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("s", "t")
    val got = LinkGraph.pageRank(withNulls, "s", "t").as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L)) // null-endpoint edges dropped entirely
  }

  test("pmiCollocations: hand-computed PMI, minCount gate, tie order") {
    // "big data" x4, "data lake" x1; unigrams big=4, data=5, lake=1 + filler
    val docs = Seq(
      "big data big data xx", "big data big data yy", "data lake zz").toDF("text")
    val got = LinkGraph.pmiCollocations(docs, "text", minCount = 2, topK = 10)
      .as[(String, Long, Double)].collect()
    val totalUni = 15.0  // 5 tokens x 3 docs... (4+1)big/data etc: count all
    // recompute from scratch to avoid arithmetic slips
    val toks = Seq("big data big data xx", "big data big data yy", "data lake zz")
      .map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val bis = toks.flatMap(t => t.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size).toMap
    val tu = toks.map(_.size).sum.toDouble
    val tb = toks.map(_.size - 1).sum.toDouble
    val expect = bis.filter(_._2 >= 2).map { case (b, c) =>
      val Array(a, w) = b.split(" ")
      (b, c.toLong,
        math.rint(math.log((c / tb) / ((uni(a) / tu) * (uni(w) / tu))) * 1e6) / 1e6)
    }.toSeq.sortBy(t => (-t._3, t._1))
    assert(got.toSeq == expect, s"got=${got.toList} want=$expect")
    assert(got.exists(_._1 == "big data"))
  }
}
