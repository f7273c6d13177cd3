package graft

import graft.functions.GeoFunctions._
import graft.join.SpatialJoin
import graft.ops.{Dedup, Sampling}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retry determinism, measured instead of argued: the md5-keyed sampler,
  * the banded minhash pair generator and the spatial join all claim
  * byte-stable output under task retries (the mechanism speculation and
  * preemption rely on at cluster scale). Each test injects a FIRST-ATTEMPT
  * failure into every third input partition (the retried attempt reruns the
  * same partition data with attemptNumber > 0 and succeeds) and requires
  * output identical to the clean run. The shared session runs
  * `local[4, 4]` so injected failures are retried, not fatal.
  *
  * A static counter tallies injected throws (accumulator updates from
  * FAILED attempts are discarded by Spark, so an accumulator cannot see
  * them; local mode shares the JVM, so a static works) — each test asserts
  * it actually fired, so a future config change that silently disables
  * retries (or repartitions the fixture below 3 partitions) fails loudly
  * instead of vacuously passing.
  */
class DeterminismSpec extends SparkSuite {
  import spark.implicits._

  /** Pass-through on the id column that throws on the first attempt of every
    * third partition. Deterministic-by-value (it IS the identity), so marking
    * it deterministic is sound; the throw depends only on attempt metadata. */
  private def chaosified(df: DataFrame, idCol: String): DataFrame = {
    val chaos = udf((x: Long) => {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 3 == 0) {
        DeterminismSpec.injected.incrementAndGet()
        throw new RuntimeException("DeterminismSpec injected first-attempt failure")
      }
      x
    })
    df.repartition(6).withColumn(idCol, chaos(col(idCol)))
  }

  private def countingInjections[T](body: => T): (T, Long) = {
    val before = DeterminismSpec.injected.get()
    val out = body
    (out, DeterminismSpec.injected.get() - before)
  }

  private def corpus(n: Int) =
    (0 until n).map { i =>
      // planted near-dup pairs (i, i+n/2) for i < 50 so minhash emits pairs
      val base = if (i >= n / 2 && i < n / 2 + 50) i - n / 2 else i
      (i.toLong, s"tok${base % 7} w${base % 13} z${base % 5} " * (3 + base % 9))
    }.toDF("doc_id", "text")

  test("stratifiedSample is byte-identical under injected task retries") {
    val df = corpus(3000).withColumn("grp", (col("doc_id") % 3).cast("string"))
    val weights = Map("0" -> 0.5, "1" -> 0.2)
    val clean = Sampling.stratifiedSample(df, "doc_id", "grp", weights, 0.1)
      .select("doc_id", "grp").as[(Long, String)].collect().sorted.toSeq
    val (retried, nInjected) = countingInjections {
      Sampling.stratifiedSample(chaosified(df, "doc_id"), "doc_id", "grp", weights, 0.1)
        .select("doc_id", "grp").as[(Long, String)].collect().sorted.toSeq
    }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }

  test("minhash band pairs are byte-identical under injected task retries") {
    val df = corpus(2000)
    def run(d: DataFrame) = Dedup.minhashPairs(d, "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val clean = run(df)
    assert(clean.nonEmpty, "fixture must produce pairs for the gate to bite")
    val (retried, nInjected) = countingInjections { run(chaosified(df, "doc_id")) }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }

  test("broadcast sjoin is byte-identical under injected task retries") {
    val pts = (0 until 500).map(i => (i.toLong, (i % 50).toDouble, (i * 7 % 50).toDouble))
      .toDF("id", "x", "y").withColumn("geometry", st_point(col("x"), col("y")))
    val cells = (0 until 25).map { k =>
      (k.toLong, (k % 5) * 10.0, (k / 5) * 10.0)
    }.toDF("cell", "x0", "y0")
      .withColumn("geometry", st_makebox(col("x0"), col("y0"), col("x0") + 10.0, col("y0") + 10.0))
    def run(p: DataFrame) = SpatialJoin.sjoin(p.select("id", "geometry"),
        cells.select("cell", "geometry"), predicate = "intersects", how = "inner")
      .select("id", "cell").as[(Long, Long)].collect().sorted.toSeq
    val clean = run(pts)
    assert(clean.nonEmpty)
    val (retried, nInjected) = countingInjections { run(chaosified(pts, "id")) }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }

  test("bm25 scores are byte-identical under injected task retries") {
    val df = corpus(2000)
    def run(d: DataFrame) = graft.ops.Retrieval.bm25Scores(d, "doc_id", "text",
        Seq("tok0", "w7", "z3"))
      .select(col("doc_id"), round(col("bm25"), 9).as("s"))
      .as[(Long, Double)].collect().sorted.toSeq
    val clean = run(df)
    assert(clean.exists(_._2 > 0), "fixture must match query terms")
    val (retried, nInjected) = countingInjections { run(chaosified(df, "doc_id")) }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }

  test("incremental minhash probe is byte-identical under injected task retries") {
    val df = corpus(1200)
    def run(d: DataFrame) = {
      val oldSigs = Dedup.minhashSignatureTable(d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", k = 2)
      val newSigs = Dedup.minhashSignatureTable(d.filter(col("doc_id") % 3 === 0), "doc_id", "text", k = 2)
      Dedup.minhashPairsIncremental(newSigs, oldSigs, "doc_id", threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 9).as("e"))
        .as[(Long, Long, Double)].collect().sorted.toSeq
    }
    val clean = run(df)
    assert(clean.nonEmpty, "fixture must produce pairs for the gate to bite")
    val (retried, nInjected) = countingInjections { run(chaosified(df, "doc_id")) }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }

  test("bloom sketch + probe flags are byte-identical under injected task retries") {
    val df = corpus(2000)
    def run(d: DataFrame) = {
      val sk = Dedup.bloomSketch(d.filter(col("doc_id") % 3 =!= 0), "text",
        bits = 1 << 14, hashes = 3)
      Dedup.bloomNovel(d, sk, "doc_id", "text", bits = 1 << 14, hashes = 3)
        .as[(Long, Boolean)].collect().sorted.toSeq
    }
    val clean = run(df)
    assert(clean.exists(_._2) && clean.exists(!_._2), "both outcomes must occur")
    val (retried, nInjected) = countingInjections { run(chaosified(df, "doc_id")) }
    assert(nInjected > 0, "no failure was injected — retry path not exercised")
    assert(retried == clean)
  }
}

object DeterminismSpec {
  /** JVM-wide injection tally; see class doc for why not an accumulator. */
  val injected = new java.util.concurrent.atomic.AtomicLong(0)
}
