package graft

import graft.functions.TextFunctions
import graft.ops.LmQuality
import org.apache.spark.sql.functions._

/** Corpus-trained quality signals (unigram-LM NLL, DSIR importance
  * weights) and URL canonicalization. */
class LmQualitySpec extends SparkSuite {
  import spark.implicits._

  test("unigramNllScore: hand-computed NLL on a three-doc corpus") {
    // corpus: "a a b" / "a b" / "c" → counts a=3, b=2, c=1, total=6
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "c"), (4L, "  "))
      .toDF("doc_id", "text")
    val got = LmQuality.unigramNllScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def nll(cnts: Seq[Int]): Double =
      math.log(6.0) - cnts.map(c => math.log(c.toDouble)).sum / cnts.size
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - nll(Seq(3, 3, 2))) < 1e-12)
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - nll(Seq(3, 2))) < 1e-12)
    assert(got(3L)._1 == 1L && math.abs(got(3L)._2 - nll(Seq(1))) < 1e-12)
    // whitespace-only doc: zero tokens, score 0, still exactly one row
    assert(got(4L) == ((0L, 0.0)))
    assert(got.size == 4)
  }

  test("unigramNllScore ranks rare-token gibberish above common prose") {
    val common = (1 to 40).map(i => (i.toLong, "the quick brown fox jumps"))
    val rare = Seq((99L, "zxqv wvut qqpl mznx kjhg"))
    val scored = LmQuality.unigramNllScore((common ++ rare).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Long, Double)].collect()
    val rareScore = scored.find(_._1 == 99L).get._3
    val commonScore = scored.find(_._1 == 1L).get._3
    assert(rareScore > commonScore, "rare tokens must score higher NLL")
  }

  test("importanceWeights: docs resembling the target score higher") {
    val target = (1 to 30).map(i => (1000L + i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val raw = ((1 to 10).map(i => (i.toLong, "alpha beta gamma delta epsilon")) ++
      (11 to 20).map(i => (i.toLong, "unrelated junk tokens qqq www eee")))
      .toDF("doc_id", "text")
    val w = LmQuality.importanceWeights(raw, target, "doc_id", "text", buckets = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w.size == 20)
    assert(w(1L) > w(11L), "target-like docs must get higher log-weight")
    // identical docs get the same weight up to double-summation order (the
    // per-doc Σ over buckets is a float sum whose reduce order Spark does
    // not fix — same reason the oracle gate rounds to 4dp)
    assert((2 to 10).forall(i => math.abs(w(i.toLong) - w(1L)) < 1e-9))
  }

  test("importanceWeights: empty doc gets one row with zero weight") {
    val raw = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    val tgt = Seq((9L, "alpha beta")).toDF("doc_id", "text")
    val w = LmQuality.importanceWeights(raw, tgt, "doc_id", "text", buckets = 16)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(w(2L) == ((0L, 0.0)) && w.size == 2)
  }

  test("canonicalizeUrl: case, www, default ports, slashes, params, fragments") {
    val cases = Seq(
      // scheme+host lowercase, www and :80 dropped, trailing slash gone,
      // tracking params removed, survivors sorted, fragment dropped
      ("HTTP://WWW.Ex.COM:80/A/b/?b=2&utm_source=f&a=1&fbclid=z#frag",
        "http://ex.com/A/b?a=1&b=2"),
      // https default port dropped; ref= filtered to empty query (no '?')
      ("https://Ex.com:443/p?ref=x", "https://ex.com/p"),
      // non-default port survives; path case preserved
      ("https://ex.com:8443/Path", "https://ex.com:8443/Path"),
      // :443 on http is NOT a default port — it survives
      ("http://ex.com:443/p", "http://ex.com:443/p"),
      // root URL: empty path stays empty; bare host only
      ("https://www.ex.com/", "https://ex.com"),
      // param without '=' sorts with the rest; empty params dropped
      ("http://ex.com/p?z&&a=1", "http://ex.com/p?a=1&z"))
    val df = cases.map(_._1).toDF("url")
      .select(TextFunctions.canonicalizeUrl(col("url")).as("c"))
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("canonicalizeUrl: relative input yields NULL; urlHost strips www") {
    val got = Seq("not a url", "/relative/path", "ftp://Host.EX/f/")
      .toDF("url").select(TextFunctions.canonicalizeUrl(col("url")).as("c"))
      .as[Option[String]].collect()
    assert(got(0).isEmpty && got(1).isEmpty)
    assert(got(2).contains("ftp://host.ex/f")) // unknown scheme: no port rule
    val host = Seq("https://WWW.Ex.COM:8443/x").toDF("u")
      .select(TextFunctions.urlHost(col("u"))).as[String].head()
    assert(host == "ex.com:8443")
  }
}
