package graft

import graft.ops.Sampling
import org.apache.spark.sql.functions._

/** Deterministic sampling + sequence packing for training pipelines. */
class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, s"tok${i % 7} " * (1 + i % 20))).toDF("doc_id", "text")

  test("deterministicSample: reproducible, partitioning-independent, ~fraction") {
    val df = corpus(2000)
    val a = Sampling.deterministicSample(df, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministicSample(df.repartition(13), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b) // stable under repartition (rand() would not be)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05)
    // a different salt draws an independent sample
    val c = Sampling.deterministicSample(df, "doc_id", 0.3, salt = "other")
      .select("doc_id").as[Long].collect().toSet
    assert(a != c)
    // nested fractions: the 10% sample is NOT necessarily a subset of the
    // 30% one per spec (threshold on same hash => actually it IS a subset)
    val d = Sampling.deterministicSample(df, "doc_id", 0.1).select("doc_id").as[Long].collect().toSet
    assert(d.subsetOf(a)) // same hash, lower threshold
  }

  test("weightedTopK: deterministic Gumbel top-k, weight-proportional, retry-stable") {
    val df = (0 until 500).map(i =>
      (i.toLong, if (i < 50) 10.0 else -10.0)).toDF("doc_id", "log_weight")
    val a = Sampling.weightedTopK(df, "doc_id", "log_weight", k = 50)
      .select("doc_id").as[Long].collect().toSet
    // a 20-nat log-weight gap dwarfs any Gumbel draw (range ~±7 at n=500):
    // the heavy 50 must be exactly the selected 50
    assert(a == (0L until 50L).toSet)
    // stable under repartition (a rand()-based perturbation would not be)
    val b = Sampling.weightedTopK(df.repartition(17), "doc_id", "log_weight", k = 50)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // equal weights: selection is a pure function of the salted hash —
    // different salt, different sample
    val eq = (0 until 500).map(i => (i.toLong, 0.0)).toDF("doc_id", "log_weight")
    val s1 = Sampling.weightedTopK(eq, "doc_id", "log_weight", 100, salt = "a")
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.weightedTopK(eq, "doc_id", "log_weight", 100, salt = "b")
      .select("doc_id").as[Long].collect().toSet
    assert(s1.size == 100 && s2.size == 100 && s1 != s2)
  }

  test("stratifiedSample: per-group fractions and default") {
    val df = corpus(3000).withColumn("grp", (col("doc_id") % 3).cast("string"))
    val kept = Sampling.stratifiedSample(df, "doc_id", "grp",
      weights = Map("0" -> 0.6, "1" -> 0.1), defaultFraction = 0.0)
    val byGrp = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(math.abs(byGrp.getOrElse("0", 0L) / 1000.0 - 0.6) < 0.08)
    assert(math.abs(byGrp.getOrElse("1", 0L) / 1000.0 - 0.1) < 0.06)
    assert(!byGrp.contains("2")) // default 0 drops the unlisted group
  }

  test("packSequences: deterministic bins, budget respected at pack starts") {
    val df = corpus(500)
    val packed = Sampling.packSequences(df, "doc_id", "text", budgetTokens = 64, shards = 4)
    val rows = packed.select("doc_id", "n_tokens", "shard", "pack")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 500)
    // within each shard, docs in id order: pack is nondecreasing and equals
    // exclusive-prefix div budget
    rows.groupBy(_._3).foreach { case (_, docs) =>
      var pre = 0L
      docs.sortBy(_._1).foreach { case (_, nt, _, pack) =>
        assert(pack == pre / 64, s"pack mismatch at pre=$pre")
        pre += nt
      }
    }
    // shards partition by doc_id % 4
    rows.foreach { case (id, _, sh, _) => assert(sh == id % 4) }
    // stable under repartition
    val again = Sampling.packSequences(df.repartition(11), "doc_id", "text", 64, 4)
      .select("doc_id", "pack").as[(Long, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._4).toMap == again)
  }

  test("assemblePacks: chunks concatenate members in id order, counts add up") {
    val df = Seq(
      (1L, "one two"), (5L, "three"), (9L, "four five six"),
      (2L, "seven"), (6L, "eight nine")).toDF("doc_id", "text")
    val packed = Sampling.packSequences(df, "doc_id", "text", budgetTokens = 1000, shards = 2)
    val chunks = Sampling.assemblePacks(packed, "doc_id", "text", sep = " | ")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // shard 1 = ids 1,5,9 in order; shard 0 = ids 2,6
    assert(chunks((1L, 0L)) == ((3L, 6L, "one two | three | four five six")))
    assert(chunks((0L, 0L)) == ((2L, 3L, "seven | eight nine")))
    // pack token totals equal the sum of member token counts
    val total = chunks.values.map(_._2).sum
    assert(total == 9L) // 2+1+3 (shard 1) + 1+2 (shard 0)
  }

  test("redact and normalize are idempotent (fixed points under re-application)") {
    import graft.functions.TextFunctions
    val df = corpus(200).withColumn("raw",
      concat(lit("u"), col("doc_id"), lit("@ex.org visit https://a.b/c  MIXED  Case ")))
    val once = df.select(col("doc_id"), TextFunctions.redactPii(col("raw")).as("r1"),
      TextFunctions.normalizeText(col("raw")).as("n1"))
    val twice = once.select(col("doc_id"),
      (TextFunctions.redactPii(col("r1")) === col("r1")).as("rfix"),
      (TextFunctions.normalizeText(col("n1")) === col("n1")).as("nfix"))
    assert(twice.filter(!col("rfix") || !col("nfix")).count() == 0)
  }

  test("tokenBudgetMix: sharded prefix-sum equals one global window per domain") {
    val df = corpus(1200).withColumn("dom", concat(lit("d"), col("doc_id") % 3))
    val out = Sampling.tokenBudgetMix(df, "doc_id", "text", "dom",
      budgets = Map("d0" -> 700L), defaultBudget = 400L).cache()
    // reference: single global window (the oracle shape)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dom"))
      .orderBy(Sampling.hashHex(col("doc_id"), "mix"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = df
      .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("ref_cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("ref_cum"))
    val diff = out.join(ref, "doc_id")
      .filter(col("cum_before") =!= col("ref_cum")).count()
    assert(diff == 0)
    // keep set: every kept doc STARTS inside the budget; every dropped one
    // starts at or past it; stable under repartition
    assert(out.filter(col("dom") === "d0" && col("keep") && col("cum_before") >= 700).count() == 0)
    assert(out.filter(col("dom") === "d0" && !col("keep") && col("cum_before") < 700).count() == 0)
    assert(out.filter(col("dom") =!= "d0" && (col("keep") =!= (col("cum_before") < 400))).count() == 0)
    val again = Sampling.tokenBudgetMix(df.repartition(17), "doc_id", "text", "dom",
      budgets = Map("d0" -> 700L), defaultBudget = 400L)
      .select("doc_id", "cum_before", "keep")
    assert(out.select("doc_id", "cum_before", "keep").exceptAll(again).isEmpty)
    out.unpersist()
  }

  test("chunkDocuments: coverage, overlap, tails, empties; map-side plan") {
    import graft.ops.Sampling
    val rows = Seq(
      1L -> "a b c d e f g h i j",  // 10 tokens
      2L -> "x y z",                // shorter than one chunk
      3L -> "",                     // empty -> no chunks
      4L -> "   ",                  // whitespace-only -> no chunks
      5L -> (1 to 7).map(i => s"t$i").mkString(" "))
    val df = rows.toDF("doc_id", "text")
    val got = Sampling.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, overlapTokens = 1)
      .as[(Long, Int, String, Long)].collect().toSet
    // stride 3: doc 1 starts 0,3,6,9; doc 5 (7 toks) starts 0,3,6
    assert(got == Set(
      (1L, 0, "a b c d", 4L), (1L, 1, "d e f g", 4L),
      (1L, 2, "g h i j", 4L), (1L, 3, "j", 1L),
      (2L, 0, "x y z", 3L),
      (5L, 0, "t1 t2 t3 t4", 4L), (5L, 1, "t4 t5 t6 t7", 4L), (5L, 2, "t7", 1L)),
      got.toSeq.sortBy(t => (t._1, t._2)).toString)
    // zero overlap partitions tokens exactly
    val noOv = Sampling.chunkDocuments(df.filter(col("doc_id") === 1L), "doc_id", "text", 3)
      .as[(Long, Int, String, Long)].collect().sortBy(_._2)
    assert(noOv.map(_._3).mkString(" ") == "a b c d e f g h i j")
    assert(noOv.map(_._4).sum == 10L)
    // reconstruction law: every token position is covered by some chunk
    val chunks = Sampling.chunkDocuments(df, "doc_id", "text", 4, 2)
      .groupBy("doc_id").agg(sum("n_tokens").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2 (3 toks, stride 2) emits "x y z" then the contained tail "z"
    assert(chunks(1L) >= 10L && chunks(2L) == 4L && !chunks.contains(3L) && !chunks.contains(4L))
    // pure map-side: no Exchange in the plan
    val plan = Sampling.chunkDocuments(df, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkDocuments must not shuffle:\n$plan")
    assertThrows[IllegalArgumentException](Sampling.chunkDocuments(df, "doc_id", "text", 4, 4))
    assertThrows[IllegalArgumentException](Sampling.chunkDocuments(df, "doc_id", "text", 0))
  }
}
