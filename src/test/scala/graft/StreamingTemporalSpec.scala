package graft

import graft.ops.TemporalJoin
import graft.streaming.StreamingTemporal
import org.apache.spark.sql.functions._

class StreamingTemporalSpec extends SparkSuite {
  import spark.implicits._

  private val Static = Seq(
    (10L, "a", 90L, 1.0), (11L, "a", 200L, 2.0), (12L, "a", 210L, 3.0),
    (13L, "b", 150L, 4.0), (14L, "d", 5L, 5.0))
  private def staticDf = Static.toDF("rid", "k", "rt", "v")
  private val Left = Seq(
    (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 50L), (4L, "b", 100L),
    (5L, "b", 300L), (6L, "c", 10L), (7L, "a", 200L))

  test("asofLookup batch parity with TemporalJoin.asofJoin across modes") {
    val l = Left.toDF("lid", "k", "lt")
    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(60L)); how <- Seq("left", "inner")) {
      val got = StreamingTemporal.asofLookup(l, staticDf, "lt", "rt",
          by = Seq("k"), direction = dir, tolerance = tol, how = how)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      val want = TemporalJoin.asofJoin(l, staticDf, "lt", "rt",
          by = Seq("k"), direction = dir, tolerance = tol, how = how)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      assert(got == want, s"dir=$dir tol=$tol how=$how")
    }
  }

  test("asofLookup keyless and guards") {
    val l = Left.toDF("lid", "k", "lt")
    val got = StreamingTemporal.asofLookup(l, staticDf.drop("k"), "lt", "rt")
      .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
    val want = TemporalJoin.asofJoin(l, staticDf.drop("k"), "lt", "rt")
      .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
    assert(got == want)
    intercept[IllegalArgumentException] {
      StreamingTemporal.asofLookup(l, staticDf, "lt", "rt", by = Seq("k"), maxStaticRows = 2)
    }
    intercept[IllegalArgumentException] { // collision: l already has r_v
      StreamingTemporal.asofLookup(l.withColumn("r_v", lit(1)), staticDf, "lt", "rt", by = Seq("k"))
    }
  }

  test("asofLookup enriches a MemoryStream per micro-batch in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val stream = input.toDF().toDF("lid", "k", "lt")
    val out = StreamingTemporal.asofLookup(stream, staticDf, "lt", "rt",
      by = Seq("k"), how = "left")
    val q = out.writeStream.format("memory").queryName("st_asof")
      .outputMode("append").start()
    input.addData((1L, "a", 100L), (4L, "b", 100L))
    q.processAllAvailable()
    input.addData((2L, "a", 205L), (6L, "c", 10L))
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT lid, r_rid, r_v FROM st_asof")
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(got == Set(
      (1L, Some(10L), Some(1.0)),  // a@100 -> rt 90
      (4L, None, None),            // b@100: earliest b is 150
      (2L, Some(11L), Some(2.0)),  // a@205 -> rt 200
      (6L, None, None)))           // key c absent
  }

  test("asofLookup null keys match null keys with payload (asofJoin parity)") {
    // the review scenario: null-key stream rows must both MATCH null-key
    // static rows AND re-attach the payload (null-safe join); and
    // ("a", null) must never collide with (null, "a") in the encoded key
    val st = Seq((10L, Option("a"), 90L, 1.0), (11L, Option.empty[String], 80L, 2.0))
      .toDF("rid", "k", "rt", "v")
    val l = Seq((1L, Option("a"), 100L), (2L, Option.empty[String], 100L))
      .toDF("lid", "k", "lt")
    for (how <- Seq("left", "inner")) {
      val got = StreamingTemporal.asofLookup(l, st, "lt", "rt", by = Seq("k"), how = how)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      val want = TemporalJoin.asofJoin(l, st, "lt", "rt", by = Seq("k"), how = how)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      assert(got == want && got.contains((2L, Some(11L), Some(2.0))), s"how=$how: $got")
    }
    // two-key crosses: ("a", null) vs (null, "a") stay distinct
    val st2 = Seq((20L, Option("a"), Option.empty[String], 50L, 9.0))
      .toDF("rid", "k1", "k2", "rt", "v")
    val l2 = Seq((5L, Option.empty[String], Option("a"), 60L)).toDF("lid", "k1", "k2", "lt")
    val none = StreamingTemporal.asofLookup(l2, st2, "lt", "rt", by = Seq("k1", "k2"))
      .select(col("r_rid")).as[Option[Long]].head()
    assert(none.isEmpty, "crossed null/value keys must not match")
    // fractional ts columns fail loudly instead of truncating
    intercept[IllegalArgumentException] {
      StreamingTemporal.asofLookup(
        Seq((1L, 1.5)).toDF("lid", "lt"), Seq((2L, 1.0)).toDF("rid", "rt"), "lt", "rt")
    }
  }

  test("rangeJoin streams: point stream vs static intervals in append mode") {
    // the binned range join is stream-ready by construction when the
    // interval side is static: the point's bin is a map-side projection
    // and the bin match is a stream-static equi join (binWidth passed
    // explicitly — the stats aggregate would be illegal on a stream)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val iv = Seq((100L, 90L, 120L), (101L, 0L, 49L), (104L, 150L, 400L))
      .toDF("ivid", "s", "e")
    val input = MemoryStream[(Long, Long)]
    val out = TemporalJoin.rangeJoin(input.toDF().toDF("pid", "t"), "t",
      iv, "s", "e", binWidth = Some(50L))
    val q = out.writeStream.format("memory").queryName("st_range")
      .outputMode("append").start()
    input.addData((1L, 100L), (2L, 45L))
    q.processAllAvailable()
    input.addData((3L, 200L), (4L, 500L))
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT pid, iv_ivid FROM st_range")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 101L), (3L, 104L)))
  }

  test("asofLookup duplicate (key, ts) static rows do not duplicate stream rows") {
    val dup = (Static :+ ((99L, "a", 200L, 9.9))).toDF("rid", "k", "rt", "v")
    val l = Seq((7L, "a", 200L)).toDF("lid", "k", "lt")
    val rows = StreamingTemporal.asofLookup(l, dup, "lt", "rt", by = Seq("k")).collect()
    assert(rows.length == 1)
  }

  test("asofLookup key encoding is injective: null vs empty, swapped null tuples (asofJoin parity)") {
    // round-17 advice scenario: concat_ws skipped nulls, so (null) collided
    // with ("") and ('a', null) with (null, 'a') in the broadcast index —
    // inner kept rows it should drop, left nulled a genuine earlier match
    val st1 = Seq((1L, Option.empty[String], 80L, 1.0), (2L, Some(""), 90L, 2.0))
      .toDF("rid", "k", "rt", "v")
    val l1 = Seq((10L, Option.empty[String], 100L), (11L, Some(""), 100L))
      .toDF("lid", "k", "lt")
    for (how <- Seq("left", "inner")) {
      val got = StreamingTemporal.asofLookup(l1, st1, "lt", "rt", by = Seq("k"), how = how)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      val want = TemporalJoin.asofJoin(l1, st1, "lt", "rt", by = Seq("k"), how = how)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(got == want, s"null-vs-empty, how=$how: got $got want $want")
      assert(got == Set((10L, Some(1L)), (11L, Some(2L))), s"how=$how: $got")
    }
    // two-key tuples where the same strings appear in swapped positions,
    // with nulls and values whose concatenation is ambiguous ("ab","c" vs "a","bc")
    val st2 = Seq(
      (1L, Some("a"), Option.empty[String], 50L, 1.0),
      (2L, Option.empty[String], Some("a"), 60L, 2.0),
      (3L, Some("ab"), Some("c"), 70L, 3.0),
      (4L, Some("a"), Some("bc"), 75L, 4.0)).toDF("rid", "k1", "k2", "rt", "v")
    val l2 = Seq(
      (10L, Some("a"), Option.empty[String], 100L),
      (11L, Option.empty[String], Some("a"), 100L),
      (12L, Some("ab"), Some("c"), 100L),
      (13L, Some("a"), Some("bc"), 100L)).toDF("lid", "k1", "k2", "lt")
    for (how <- Seq("left", "inner")) {
      val got = StreamingTemporal.asofLookup(l2, st2, "lt", "rt", by = Seq("k1", "k2"), how = how)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      val want = TemporalJoin.asofJoin(l2, st2, "lt", "rt", by = Seq("k1", "k2"), how = how)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(got == want, s"swapped-tuple, how=$how: got $got want $want")
      assert(got == Set((10L, Some(1L)), (11L, Some(2L)), (12L, Some(3L)), (13L, Some(4L))))
    }
  }
}
