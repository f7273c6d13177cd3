package graft

import graft.ops.{CorpusStats, Dedup}
import org.apache.spark.sql.functions._

/** Corpus reporting (rollup report, exact quantiles) and the streaming
  * use of the relational Bloom sketch across micro-batches. */
class CorpusStatsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b c", "en", "s1"),
    (2L, "a b c", "en", "s1"), // exact dup of 1
    (3L, "d e", "en", "s2"),
    (4L, "f", "de", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("corpusReport: rollup margins, counts and duplicate overhang") {
    val rows = CorpusStats.corpusReport(docs, "text", "lang", "source")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // leaf levels
    assert(rows(("en", "s1")) == ((2L, 6L, 10L, 1L)), "dup overhang: 2 docs, 1 distinct")
    assert(rows(("en", "s2")) == ((1L, 2L, 3L, 1L)))
    assert(rows(("de", "s1")) == ((1L, 1L, 1L, 1L)))
    // lang margins + grand total
    assert(rows(("en", "(all)")) == ((3L, 8L, 13L, 2L)))
    assert(rows(("de", "(all)")) == ((1L, 1L, 1L, 1L)))
    assert(rows(("(all)", "(all)")) == ((4L, 9L, 14L, 3L)))
    assert(rows.size == 3 + 2 + 1, "leafs + lang margins + grand total")
  }

  test("corpusReport computes all rollup levels in one shuffle (Expand, single Exchange before agg)") {
    val plan = CorpusStats.corpusReport(docs, "text", "lang", "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"rollup must expand grouping sets, not run per-level jobs:\n$plan")
  }

  test("ngramNovelty: unique doc scores 1, identical twins score 0, short docs zero out") {
    val d = Seq(
      (1L, "totally unique content right here"),   // 4 distinct bigrams, all novel
      (2L, "copy of the same page"),
      (3L, "copy of the same page"),               // twin: every bigram owned by 2 docs
      (4L, "word"),                                // < n tokens -> zeros
      (5L, "totally unique trailer"))              // shares "totally unique" with doc 1
      .toDF("doc_id", "text")
    val got = CorpusStats.ngramNovelty(d, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 3L, 0.75)), s"doc1: ${got(1L)}") // 'totally unique' shared with doc5
    assert(got(2L) == ((4L, 0L, 0.0)) && got(3L) == got(2L))
    assert(got(4L) == ((0L, 0L, 0.0)))
    assert(got(5L) == ((2L, 1L, 0.5)))
    assert(got.size == 5, "every input doc surfaces")
  }

  test("lengthQuantiles: exact linear-interpolation percentiles") {
    val d = (1 to 5).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val r = CorpusStats.lengthQuantiles(d, "text", "source")
      .as[(String, Long, Double, Double, Double, Double)].head()
    // lengths 1..5: p25 = 1 + 0.25*4 = 2, p50 = 3, p75 = 4, p90 = 4.6
    assert(r == (("s", 5L, 2.0, 3.0, 4.0, 4.6)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged with exact counts") {
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "goes away")).toDF("doc_id", "text")
    val nu = Seq((1L, "same"), (2L, "has changed"), (4L, "brand new")).toDF("doc_id", "text")
    val got = CorpusStats.snapshotDiff(old, nu, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(got == Map("unchanged" -> 1L, "changed" -> 1L, "removed" -> 1L, "added" -> 1L))
  }

  test("lshRecallReport: planted high-jaccard dups give recall 1; empty truth reports 1 by convention") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = (0 until 40).map { i =>
      val text = if (i % 2 == 0) base else s"totally unrelated content number $i with words $i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val r = CorpusStats.lshRecallReport(corpus, "doc_id", "text",
        sampleFraction = 1.0, salt = "s", k = 2, numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Long, Double)].head()
    assert(r._1 == 40 && r._2 == 190, "20 identical docs -> C(20,2) truth pairs")
    assert(r._3 == 190 && r._4 == 1.0, "exact dups always collide -> full recall")
    val none = CorpusStats.lshRecallReport(
        Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text"),
        "doc_id", "text", sampleFraction = 1.0, salt = "s", threshold = 0.9)
      .as[(Long, Long, Long, Double)].head()
    assert(none._2 == 0L && none._4 == 1.0)
  }

  test("cosineLshRecallReport at the knnBanding default: measured recall meets the 0.9 claim") {
    // planted near-duplicate pairs at cosine ~0.95: 150 random unit bases,
    // each with a small-noise twin. The knnBanding(0.9, 0.9) default (20-bit
    // keys x 50 tables) PREDICTS >=0.9 recall analytically — this report is
    // the measurement of that claim on a deterministic sample.
    val rng = new scala.util.Random(7)
    def normalize(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def unit(): Array[Float] = normalize(Array.fill(16)(rng.nextGaussian()))
    val rows = (0 until 150).flatMap { i =>
      val b = unit()
      val twin = normalize(b.map(x => x + 0.08 * rng.nextGaussian()))
      Seq((2L * i, b.toSeq), (2L * i + 1, twin.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val rep = CorpusStats.cosineLshRecallReport(df, "vec_id", "embedding",
      sampleFraction = 1.0, salt = "t", threshold = 0.9, recall = 0.9, dim = 16)
      .collect()(0)
    assert(rep.getInt(1) == 1000 && rep.getInt(2) == 50,
      s"knnBanding(0.9,0.9) default is 50 tables x 20 planes: $rep")
    val (truth, found) = (rep.getLong(3), rep.getLong(4))
    assert(truth >= 100, s"planted twins must appear in truth: $rep")
    assert(found <= truth, "banded candidates are cosine-verified, so found <= truth")
    assert(rep.getDouble(6) >= 0.9, "analytic prediction meets the target by construction")
    assert(rep.getDouble(5) >= 0.85,
      s"measured recall ${rep.getDouble(5)} must back the >=0.9 prediction " +
        "(planted pairs sit ABOVE the tuning threshold, so per-pair recall exceeds it)")
  }

  test("bloom sketch accumulates across streaming micro-batches (incremental crawl dedup)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // the cross-snapshot pattern: fold each micro-batch's bucket set into
    // the running sketch (distinct union — still bounded by `bits`), flag
    // each batch against the sketch as it stood BEFORE the batch
    var sketch = spark.emptyDataFrame.select(lit(0).as("bucket")).limit(0)
    val flagged = collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val q = stream.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val b = batch.cache()
      flagged ++= Dedup.bloomNovel(b, sketch, "doc_id", "text", bits = 1 << 16, hashes = 3)
        .as[(Long, Boolean)](org.apache.spark.sql.Encoders.product[(Long, Boolean)])
        .collect()
      sketch = sketch.union(Dedup.bloomSketch(b, "text", bits = 1 << 16, hashes = 3))
        .distinct().localCheckpoint()
      b.unpersist(); ()
    }.start()
    input.addData((1L, "first crawl page"), (2L, "second crawl page"))
    q.processAllAvailable()
    input.addData((3L, "first crawl page"), (4L, "brand new page"))
    q.processAllAvailable(); q.stop()
    val m = flagged.toMap
    assert(!m(1L) && !m(2L), "batch 1 probes an empty sketch")
    assert(m(3L), "batch-1 content arriving in batch 2 must flag possibly_seen")
    assert(!m(4L), "novel batch-2 content must pass")
  }

  test("heavyHitters: exact parity with full groupBy across k and partitioning") {
    // zipf-ish skew + adversarial partition layouts: exactness must hold
    // regardless of how occurrences split across partitions
    val rng = new scala.util.Random(5)
    val terms = (0 until 5000).map { _ =>
      val r = rng.nextInt(100)
      if (r < 30) "t0" else if (r < 45) "t1" else if (r < 55) "t2"
      else s"rare${rng.nextInt(800)}"
    }
    for (parts <- Seq(1, 3, 32); k <- Seq(2, 5, 20, 100)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(terms.map(org.apache.spark.sql.Row(_)), parts),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))
      val got = graft.ops.CorpusStats.heavyHitters(df, "term", k)
        .as[(String, Long)].collect().toSet
      val total = terms.size
      val want = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter { case (_, c) => c * k > total }
        .map { case (t, c) => (t, c) }.toSet
      assert(got == want, s"parts=$parts k=$k")
    }
  }

  test("heavyHitters: nulls ignored, empty input, threshold boundary is strict") {
    val df = Seq(Some("a"), Some("a"), Some("b"), None, Some("b"), Some("c")).toDF("term")
    // total (non-null) = 5; k=2 -> cnt*2 > 5 -> cnt >= 3: none qualify
    assert(graft.ops.CorpusStats.heavyHitters(df, "term", 2).count() == 0)
    // k=3 -> cnt*3 > 5 -> cnt >= 2: a and b
    val got = graft.ops.CorpusStats.heavyHitters(df, "term", 3)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L), ("b", 2L)))
    val empty = Seq.empty[String].toDF("term")
    assert(graft.ops.CorpusStats.heavyHitters(empty, "term", 5).count() == 0)
  }

  test("mgSketch/mgMerge: frequent-items guarantee under batch and folded merges") {
    val rng = new scala.util.Random(9)
    def draw(n: Int): Seq[String] = (0 until n).map { _ =>
      val r = rng.nextInt(100)
      if (r < 25) "hot0" else if (r < 40) "hot1" else if (r < 50) "hot2"
      else s"cold${rng.nextInt(600)}"
    }
    val chunks = Seq(draw(2000), draw(1500), draw(2500))
    val all = chunks.flatten
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    for (k <- Seq(10, 50)) {
      // single-pass batch sketch over everything
      val batch = graft.ops.CorpusStats.mgSketch(all.toDF("term"), "term", k)
        .as[(String, Long)].collect().toMap
      // folded: sketch each chunk, merge progressively
      val folded = chunks.map(c => graft.ops.CorpusStats.mgSketch(c.toDF("term"), "term", k))
        .reduce((a, b) => graft.ops.CorpusStats.mgMerge(a, b, k))
        .as[(String, Long)].collect().toMap
      for ((name, sk) <- Seq("batch" -> batch, "folded" -> folded)) {
        assert(sk.size <= k - 1, s"$name k=$k size")
        // guarantee: every term with count > N/k present, est in [true-N/k, true]
        truth.filter { case (_, c) => c * k > n }.foreach { case (t, c) =>
          assert(sk.contains(t), s"$name k=$k missing hitter $t (count $c, N/k ${n / k})")
        }
        sk.foreach { case (t, est) =>
          val c = truth.getOrElse(t, 0L)
          assert(est <= c && est >= c - n / k - 1, s"$name k=$k est $t: $est vs true $c")
        }
      }
    }
  }

  test("mgSketch folds across micro-batches like the bloom sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val k = 8
    var sketch = spark.emptyDataFrame.select(lit("").as("term"), lit(0L).as("est")).limit(0)
    val q = input.toDF().toDF("term").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sketch = graft.ops.CorpusStats.mgMerge(
          sketch, graft.ops.CorpusStats.mgSketch(batch, "term", k), k).localCheckpoint()
        ()
    }.start()
    input.addData(Seq.fill(30)("alpha") ++ Seq.tabulate(10)(i => s"x$i"): _*)
    q.processAllAvailable()
    input.addData(Seq.fill(25)("alpha") ++ Seq.fill(20)("beta") ++ Seq.tabulate(10)(i => s"y$i"): _*)
    q.processAllAvailable(); q.stop()
    val m = sketch.as[(String, Long)].collect().toMap
    // alpha: 55 of 95 total; beta: 20 — both far above N/k ~ 12
    assert(m.contains("alpha") && m.contains("beta"), m.toString)
    assert(m("alpha") > m("beta"))
    assert(m.size <= k - 1)
  }
}
