package graft

import graft.functions.TextFunctions
import graft.ops.{Dedup, Retrieval}
import org.apache.spark.sql.functions._

/** BM25 retrieval, the relational Bloom filter, and the readability
  * taggers — closed-form fixtures plus plan-shape assertions. */
class RetrievalSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------------------ BM25

  private def luceneIdf(n: Double, df: Double): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  private def bm25Term(idf: Double, tf: Double, dl: Double, avgdl: Double,
                       k1: Double = 1.2, b: Double = 0.75): Double =
    idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))

  test("bm25Scores: hand-computed on a three-doc corpus") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d")).toDF("doc_id", "text")
    val got = Retrieval.bm25Scores(docs, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Double)].collect().toMap
    // N=3, dl=(3,2,1), avgdl=2; df(a)=1, df(b)=2
    val ia = luceneIdf(3, 1); val ib = luceneIdf(3, 2)
    val exp1 = bm25Term(ia, 2, 3, 2) + bm25Term(ib, 1, 3, 2)
    val exp2 = bm25Term(ib, 1, 2, 2)
    assert(math.abs(got(1L) - exp1) < 1e-12)
    assert(math.abs(got(2L) - exp2) < 1e-12)
    assert(got(3L) == 0.0, "no matching term must score exactly 0")
    assert(got.size == 3, "one row per input document")
  }

  test("bm25Scores: duplicate query terms collapse; df counts documents not occurrences") {
    val docs = Seq((1L, "x x x"), (2L, "x")).toDF("doc_id", "text")
    val once = Retrieval.bm25Scores(docs, "doc_id", "text", Seq("x"))
      .as[(Long, Double)].collect().toMap
    val dup = Retrieval.bm25Scores(docs, "doc_id", "text", Seq("x", "x"))
      .as[(Long, Double)].collect().toMap
    assert(once == dup, "repeated query terms must not double-score")
    // df(x) = 2 docs (not 4 occurrences): idf must use 2
    val exp = bm25Term(luceneIdf(2, 2), 3, 3, 2)
    assert(math.abs(once(1L) - exp) < 1e-12)
  }

  test("bm25TopK: deterministic order, id tiebreak, TakeOrdered plan") {
    val docs = Seq((5L, "q q"), (2L, "q"), (9L, "q"), (1L, "z")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("q"), k = 3)
    val ids = top.as[(Long, Double)].collect().map(_._1).toSeq
    // doc 5 has tf=2 (highest); 2 and 9 tie on identical tf/dl → id order
    assert(ids == Seq(5L, 2L, 9L))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
  }

  test("bm25TopKPerQuery: per-query results equal the single-query path; all-miss query vanishes") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d"), (4L, "a c c")).toDF("doc_id", "text")
    val qs = Seq((10L, "a b"), (11L, "c"), (12L, "zz")).toDF("qid", "qtext")
    val got = Retrieval.bm25TopKPerQuery(docs, "doc_id", "text", qs, "qid", "qtext", k = 2)
      .as[(Long, Long, Double)].collect().toSet
    def single(terms: Seq[String], k: Int) =
      Retrieval.bm25Scores(docs, "doc_id", "text", terms)
        .filter(col("bm25") > 0)
        .select(col("doc_id"), round(col("bm25"), 4).as("s"))
        .as[(Long, Double)].collect().sortBy(r => (-r._2, r._1)).take(k)
    val exp = single(Seq("a", "b"), 2).map(r => (10L, r._1, r._2)).toSet ++
      single(Seq("c"), 2).map(r => (11L, r._1, r._2)).toSet
    assert(got == exp, s"got $got expected $exp")
    assert(!got.exists(_._1 == 12L), "an all-miss query must produce no rows")
  }

  test("bm25TopKPerQuery: query table rides as broadcasts (no corpus-side wide join)") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val qs = Seq((10L, "a")).toDF("qid", "qtext")
    val plan = Retrieval.bm25TopKPerQuery(docs, "doc_id", "text", qs, "qid", "qtext", k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"query side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no wide join may appear:\n$plan")
  }

  // ----------------------------------------------------------------- Bloom

  test("bloom: exact duplicates of sketched content always flag (no false negatives)") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "totally novel content"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val sketch = Dedup.bloomSketch(corpus, "text", bits = 1 << 16, hashes = 3)
    val got = Dedup.bloomNovel(batch, sketch, "doc_id", "text",
      bits = 1 << 16, hashes = 3).as[(Long, Boolean)].collect().toMap
    assert(got(10L), "exact dup of sketched text must be possibly_seen")
    assert(!got(11L), "novel text must not collide at 2^16 bits with a 6-bucket sketch")
    assert(!got(12L), "NULL text has no buckets and is never 'seen'")
    assert(got.size == 3, "one row per batch document, NULL text included")
  }

  test("bloom: sketch is bounded by bits and by content, not corpus size") {
    // 50 copies of the same text → identical buckets → sketch ≤ hashes rows
    val corpus = (1 to 50).map(i => (i.toLong, "same text")).toDF("doc_id", "text")
    val n = Dedup.bloomSketch(corpus, "text", bits = 4096, hashes = 3).count()
    assert(n >= 1 && n <= 3, s"sketch must hold distinct buckets only; got $n")
  }

  test("bloom: probe joins the sketch as a broadcast") {
    val corpus = Seq((1L, "a")).toDF("doc_id", "text")
    val sketch = Dedup.bloomSketch(corpus, "text", bits = 4096, hashes = 3)
    val plan = Dedup.bloomNovel(corpus, sketch, "doc_id", "text", bits = 4096, hashes = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"sketch side must broadcast:\n$plan")
  }

  // ------------------------------------------------------------ readability

  test("tfidfTopTerms: hand-computed idf, rounded-rank ties to the smaller term") {
    import graft.ops.Retrieval
    // N=3; "apple" in 1 doc (idf ln3), "pear" in 2 (ln 1.5), "kiwi" in 3 (0)
    val docs = Seq(
      (1L, "apple apple pear kiwi"),
      (2L, "pear kiwi kiwi"),
      (3L, "kiwi banana banana")).toDF("doc_id", "text")
    val got = Retrieval.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(4)), (r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got((1L, 1)) == (("apple", 2L, r6(2 * math.log(3.0)))))
    assert(got((1L, 2)) == (("pear", 1L, r6(math.log(1.5)))))
    assert(got((2L, 1)) == (("pear", 1L, r6(math.log(1.5)))))
    // doc 3: banana tf=2 idf=ln3 wins; kiwi idf=0 -> tfidf 0 still ranked
    assert(got((3L, 1))._1 == "banana" && got((3L, 2)) == (("kiwi", 1L, 0.0)))
    // tie in rounded tfidf -> lexicographic term order
    val tie = Retrieval.tfidfTopTerms(
      Seq((1L, "zz aa"), (2L, "qq rr")).toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L).orderBy("rank")
      .collect().map(_.getString(1)).toSeq
    assert(tie == Seq("aa", "zz"))
  }

  test("readability: hand-computed Flesch / FK on a two-sentence doc") {
    val df = Seq((1L, "The cat sat. It ran!")).toDF("doc_id", "text")
    val out = df.select(TextFunctions.tokens(col("text")).as("t"),
        TextFunctions.sentenceCount(col("text")).as("s"))
      .select(size(col("t")).as("w"), col("s"),
        TextFunctions.syllableCount(col("t")).as("sy"))
      .select(col("w"), col("s"), col("sy"),
        TextFunctions.fleschReadingEase(col("w"), col("s"), col("sy")).as("fl"),
        TextFunctions.fkGradeLevel(col("w"), col("s"), col("sy")).as("fk"))
      .as[(Int, Int, Int, Double, Double)].head()
    assert(out._1 == 5 && out._2 == 2 && out._3 == 5)
    assert(math.abs(out._4 - (206.835 - 1.015 * 2.5 - 84.6 * 1.0)) < 1e-9)
    assert(math.abs(out._5 - (0.39 * 2.5 + 11.8 * 1.0 - 15.59)) < 1e-9)
  }

  test("readability: vowel-free words floor at one syllable; fragments at one sentence") {
    val df = Seq((1L, "tsk tsk")).toDF("doc_id", "text")
    val out = df.select(TextFunctions.tokens(col("text")).as("t"), col("text"))
      .select(TextFunctions.syllableCount(col("t")).as("sy"),
        TextFunctions.sentenceCount(col("text")).as("s"))
      .as[(Int, Int)].head()
    assert(out == ((2, 1)))
  }

  test("readability: empty text scores 0 under the words guard") {
    val df = Seq((1L, "   ")).toDF("doc_id", "text")
    val out = df.select(TextFunctions.tokens(col("text")).as("t"), col("text"))
      .select(size(col("t")).as("w"), TextFunctions.sentenceCount(col("text")).as("s"),
        TextFunctions.syllableCount(col("t")).as("sy"))
      .select(TextFunctions.fleschReadingEase(col("w"), col("s"), col("sy")).as("fl"),
        TextFunctions.fkGradeLevel(col("w"), col("s"), col("sy")).as("fk"))
      .as[(Double, Double)].head()
    assert(out == ((0.0, 0.0)))
  }
}
