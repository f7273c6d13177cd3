package graft

import graft.io.Bucketed
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: both sides stored with matching bucket specs
  * join WITHOUT any Exchange — the repeated corpus⋈side-table shape at
  * 100 TB never re-shuffles the corpus. */
class BucketedJoinSpec extends SparkSuite {
  import spark.implicits._

  test("matching bucket specs join with zero Exchange; results exact") {
    val dir = java.nio.file.Files.createTempDirectory("bucketed").toString
    val docs = (0L until 1000L).map(i => (i, s"doc body $i", (i % 7).toString))
      .toDF("doc_id", "text", "lang")
    val scores = (0L until 1000L by 2L).map(i => (i, i * 0.5)).toDF("doc_id", "score")
    Bucketed.write(docs, "b_docs", s"$dir/docs", "doc_id", buckets = 8)
    Bucketed.write(scores, "b_scores", s"$dir/scores", "doc_id", buckets = 8)

    // merge hint: at test scale Spark would broadcast these tiny tables;
    // at 100 TB both sides exceed any broadcast threshold and SortMergeJoin
    // is what the planner picks — the hint pins that realistic strategy
    val joined = Bucketed.read(spark, "b_docs").hint("merge")
      .join(Bucketed.read(spark, "b_scores").hint("merge"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("score"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"),
      s"matching bucket specs must join without any shuffle:\n$plan")

    val got = joined.as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.length == 500 && got.forall { case (id, lang, sc) =>
      id % 2 == 0 && lang == (id % 7).toString && sc == id * 0.5
    })
    // bucket pruning: an equality filter on the bucket key reads 1/8 of files
    val pruned = Bucketed.read(spark, "b_docs").filter(col("doc_id") === 42L)
    assert(pruned.count() == 1)
    spark.sql("DROP TABLE IF EXISTS b_docs"); spark.sql("DROP TABLE IF EXISTS b_scores")
  }

  test("reserved words are quoted; catalog-invalid names fail early with a clear error") {
    val dir = java.nio.file.Files.createTempDirectory("bucketedq").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // a reserved word as a table name: quoting carries it through
    // DROP/CTAS/read (unquoted it's a parse error)
    Bucketed.write(df, "table", s"$dir/h1", "k", buckets = 2)
    assert(Bucketed.read(spark, "table").count() == 2)
    // overwriting exercises the DROP TABLE path with the same quoted name
    Bucketed.write(df.filter(col("k") === 1L), "table", s"$dir/h2", "k", buckets = 2)
    assert(Bucketed.read(spark, "table").count() == 1)
    spark.sql("DROP TABLE IF EXISTS `table`")
    // a hyphen is invalid in Spark's session catalog even when quoted —
    // the writer must say so up front, not fail deep inside CTAS
    val e = intercept[IllegalArgumentException] {
      Bucketed.write(df, "crawl-2026", s"$dir/h3", "k", buckets = 2)
    }
    assert(e.getMessage.contains("crawl-2026") && e.getMessage.contains("underscores"))
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    val dir = java.nio.file.Files.createTempDirectory("bucketed2").toString
    val a = (0L until 100L).map(i => (i, i * 2)).toDF("k", "va")
    val b = (0L until 100L).map(i => (i, i * 3)).toDF("k", "vb")
    Bucketed.write(a, "b_ma", s"$dir/a", "k", buckets = 4)
    Bucketed.write(b, "b_mb", s"$dir/b", "k", buckets = 6)
    val j = Bucketed.read(spark, "b_ma").join(Bucketed.read(spark, "b_mb"), Seq("k"))
    assert(j.count() == 100) // correctness holds regardless of layout
    spark.sql("DROP TABLE IF EXISTS b_ma"); spark.sql("DROP TABLE IF EXISTS b_mb")
  }
}
