package graft

import graft.ops.TemporalJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

class TemporalJoinSpec extends SparkSuite {
  import spark.implicits._

  // ---- brute-force references ------------------------------------------
  private def bruteAsof(ls: Seq[(Long, String, Long)], rs: Seq[(Long, String, Long, Double)],
                        byKey: Boolean, dir: String, tol: Option[Long])
      : Set[(Long, Option[Long])] =
    ls.map { case (lid, lk, lt) =>
      def side(backward: Boolean): Option[(Long, Long, Double)] = {
        val cand = rs.filter { case (_, rk, rt, _) =>
          (!byKey || rk == lk) && (if (backward) rt <= lt else rt >= lt)
        }.map(r => (r._1, r._3, r._4))
        if (cand.isEmpty) None
        else Some(if (backward) cand.maxBy(_._2) else cand.minBy(_._2))
      }
      val best = dir match {
        case "backward" => side(true)
        case "forward"  => side(false)
        case "nearest"  => (side(true), side(false)) match {
          case (Some(b), Some(f)) => // tie -> backward (pandas convention)
            if (lt - b._2 <= f._2 - lt) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      val ok = best.exists(b => tol.forall(t => math.abs(lt - b._2) <= t))
      (lid, if (ok) best.map(_._1) else None)
    }.toSet

  private val L: Seq[(Long, String, Long)] = Seq(
    (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 50L), (4L, "b", 100L),
    (5L, "b", 300L), (6L, "c", 10L), (7L, "a", 200L))
  private val R: Seq[(Long, String, Long, Double)] = Seq(
    (10L, "a", 90L, 1.0), (11L, "a", 200L, 2.0), (12L, "a", 210L, 3.0),
    (13L, "b", 150L, 4.0), (14L, "d", 5L, 5.0))

  private def ldf: DataFrame = L.toDF("lid", "k", "lt")
  private def rdf: DataFrame = R.toDF("rid", "k", "rt", "v")

  test("asofJoin keyed: brute parity, both directions, tolerance, ties, inner/left") {
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(60L), Some(0L))) {
      val got = TemporalJoin.asofJoin(ldf, rdf, "lt", "rt", by = Seq("k"),
          direction = dir, tolerance = tol, how = "left")
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      val want = bruteAsof(L, R, byKey = true, dir, tol)
      assert(got == want, s"dir=$dir tol=$tol")
      val inner = TemporalJoin.asofJoin(ldf, rdf, "lt", "rt", by = Seq("k"),
          direction = dir, tolerance = tol, how = "inner")
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(inner == want.filter(_._2.isDefined), s"inner dir=$dir tol=$tol")
    }
  }

  test("asofJoin keyed: matched payload columns and null-extension") {
    val out = TemporalJoin.asofJoin(ldf, rdf, "lt", "rt", by = Seq("k"))
      .select(col("lid"), col("r_rid"), col("r_v"), col("r_rt"))
      .as[(Long, Option[Long], Option[Double], Option[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out(2L) == ((Some(11L), Some(2.0), Some(200L)))) // 205 -> rt 200
    assert(out(7L) == ((Some(11L), Some(2.0), Some(200L)))) // tie at 200 matches
    assert(out(6L) == ((None, None, None)))                 // key c: no rights
  }

  test("asofJoinKeyless: brute parity across bucket counts (carry across empty buckets)") {
    for (nb <- Seq(1, 2, 4, 7, 64); dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(40L))) {
      val got = TemporalJoin.asofJoinKeyless(ldf, rdf, "lt", "rt",
          direction = dir, tolerance = tol, numBuckets = nb)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      val want = bruteAsof(L, R, byKey = false, dir, tol)
      assert(got == want, s"nb=$nb dir=$dir tol=$tol")
    }
  }

  test("asofJoinKeyless: randomized parity at nano-scale timestamps") {
    val rng = new scala.util.Random(7)
    val base = 1704067200000000000L // 2024 epoch nanos: beyond 2^53
    val ls = (0 until 300).map(i => (i.toLong, "x", base + rng.nextLong(86400L * 1000000000L)))
    val rs = (0 until 120).map(i => (1000L + i, "x", base + rng.nextLong(86400L * 1000000000L), i.toDouble))
    for (dir <- Seq("backward", "nearest")) {
      val got = TemporalJoin.asofJoin(ls.toDF("lid", "k", "lt"), rs.toDF("rid", "k", "rt", "v"),
          "lt", "rt", by = Nil, direction = dir, tolerance = Some(3600L * 1000000000L))
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(got == bruteAsof(ls, rs, byKey = false, dir, Some(3600L * 1000000000L)), dir)
    }
  }

  test("asofJoin keyed: collision-heavy randomized parity (tiny ts domain, 3 keys)") {
    // ts drawn from 0..40 so equal-ts ties between left and right (and
    // among left rows) are abundant; right (key, ts) kept unique (the
    // documented no-defined-winner contract excludes duplicates there)
    val rng = new scala.util.Random(13)
    val keys = Seq("a", "b", "c")
    val rs: Seq[(Long, String, Long, Double)] = rng.shuffle(
      (for (k <- keys; t <- 0L to 40L) yield (k, t)).toSeq)
      .take(35).zipWithIndex
      .map { case ((k, t), i) => (1000L + i, k, t, i.toDouble) }
    val ls: Seq[(Long, String, Long)] = (0 until 200).map { i =>
      (i.toLong, keys(rng.nextInt(3)), rng.nextLong(41))
    }
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(5L))) {
      val got = TemporalJoin.asofJoin(ls.toDF("lid", "k", "lt"),
          rs.toDF("rid", "k", "rt", "v"), "lt", "rt", by = Seq("k"),
          direction = dir, tolerance = tol)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(got == bruteAsof(ls, rs, byKey = true, dir, tol), s"dir=$dir tol=$tol")
    }
  }

  test("asofJoinSkewed equals asofJoin across directions, tolerances, bucket counts") {
    // identity of results is the whole contract: the skewed spelling only
    // changes the parallelism (per-(key, bucket) tasks instead of one task
    // per key). Collision-heavy data + the crafted fixture both pinned.
    val rng = new scala.util.Random(29)
    val keys = Seq("a", "b", "c")
    val rs: Seq[(Long, String, Long, Double)] = rng.shuffle(
      (for (k <- keys; t <- 0L to 40L) yield (k, t)).toSeq)
      .take(35).zipWithIndex
      .map { case ((k, t), i) => (1000L + i, k, t, i.toDouble) }
    val ls: Seq[(Long, String, Long)] = (0 until 200).map { i =>
      (i.toLong, keys(rng.nextInt(3)), rng.nextLong(41))
    }
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(5L));
         nb <- Seq(1, 3, 16)) {
      val plain = TemporalJoin.asofJoin(ls.toDF("lid", "k", "lt"),
          rs.toDF("rid", "k", "rt", "v"), "lt", "rt", by = Seq("k"),
          direction = dir, tolerance = tol)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      val skewed = TemporalJoin.asofJoinSkewed(ls.toDF("lid", "k", "lt"),
          rs.toDF("rid", "k", "rt", "v"), "lt", "rt", by = Seq("k"),
          direction = dir, tolerance = tol, numBuckets = nb)
        .select(col("lid"), col("r_rid"), col("r_v"))
        .as[(Long, Option[Long], Option[Double])].collect().toSet
      assert(skewed == plain, s"dir=$dir tol=$tol nb=$nb")
    }
    // crafted fixture incl. inner
    for (dir <- Seq("backward", "nearest"); how <- Seq("left", "inner")) {
      val plain = TemporalJoin.asofJoin(ldf, rdf, "lt", "rt", by = Seq("k"),
          direction = dir, how = how)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      val skewed = TemporalJoin.asofJoinSkewed(ldf, rdf, "lt", "rt", by = Seq("k"),
          direction = dir, how = how, numBuckets = 4)
        .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
      assert(skewed == plain, s"crafted dir=$dir how=$how")
    }
  }

  test("asofJoin: empty right side and all-null ts") {
    val er = Seq.empty[(Long, String, Long, Double)].toDF("rid", "k", "rt", "v")
    val out = TemporalJoin.asofJoin(ldf, er, "lt", "rt", by = Seq("k"))
      .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
    assert(out == L.map(l => (l._1, None: Option[Long])).toSet)
    val keyless = TemporalJoin.asofJoinKeyless(ldf, er, "lt", "rt")
      .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
    assert(keyless == L.map(l => (l._1, None: Option[Long])).toSet)
  }

  test("asofJoin plans contain no nested-loop or cartesian join") {
    def badNodes(p: SparkPlan): Seq[String] =
      p.collect {
        case n if n.nodeName.contains("BroadcastNestedLoopJoin") => n.nodeName
        case n if n.nodeName.contains("CartesianProduct") => n.nodeName
      }
    val keyed = TemporalJoin.asofJoin(ldf, rdf, "lt", "rt", by = Seq("k"))
    assert(badNodes(keyed.queryExecution.executedPlan).isEmpty)
    // keyed path: no join operator at all — pure union + window
    assert(!keyed.queryExecution.executedPlan.toString.contains("Join"))
    val keyless = TemporalJoin.asofJoinKeyless(ldf, rdf, "lt", "rt", numBuckets = 8)
    assert(badNodes(keyless.queryExecution.executedPlan).isEmpty)
    val rj = TemporalJoin.rangeJoin(ldf, "lt", iv, "s", "e", binWidth = Some(50L))
    assert(badNodes(rj.queryExecution.executedPlan).isEmpty)
    val ov = TemporalJoin.intervalOverlapJoin(iv, "s", "e", iv2, "s", "e", binWidth = Some(50L))
    assert(badNodes(ov.queryExecution.executedPlan).isEmpty)
  }

  // ---- range / interval ------------------------------------------------
  private val IV: Seq[(Long, Long, Long)] = Seq(
    (100L, 90L, 120L), (101L, 0L, 49L), (102L, 50L, 50L), (103L, 200L, 150L), // inverted
    (104L, 150L, 400L))
  private val IV2: Seq[(Long, Long, Long)] = Seq(
    (201L, 115L, 160L), (202L, 49L, 90L), (203L, 500L, 600L), (204L, 10L, 20L))
  private def iv: DataFrame = IV.toDF("ivid", "s", "e")
  private def iv2: DataFrame = IV2.toDF("ivid", "s", "e")

  test("rangeJoin: brute parity incl. boundaries, point-width and inverted intervals") {
    val pts = L.map(l => (l._1, l._3))
    for (wdt <- Seq(None, Some(1L), Some(7L), Some(1000L))) {
      val got = TemporalJoin.rangeJoin(ldf, "lt", iv, "s", "e", binWidth = wdt)
        .select(col("lid"), col("iv_ivid")).as[(Long, Long)].collect().toList
      val want = for { (p, t) <- pts; (id, s, e) <- IV if s <= e && t >= s && t <= e } yield (p, id)
      assert(got.sorted == want.sorted, s"w=$wdt") // list compare: each pair exactly once
    }
  }

  test("intervalOverlapJoin: brute parity incl. touching, nested, disjoint") {
    for (wdt <- Seq(None, Some(1L), Some(13L), Some(500L))) {
      val got = TemporalJoin.intervalOverlapJoin(iv, "s", "e", iv2, "s", "e", binWidth = wdt)
        .select(col("ivid"), col("b_ivid")).as[(Long, Long)].collect().toList
      val want = for {
        (a, as_, ae) <- IV if as_ <= ae
        (b, bs, be) <- IV2 if bs <= be && as_ <= be && bs <= ae
      } yield (a, b)
      assert(got.sorted == want.sorted, s"w=$wdt")
    }
  }

  test("rangeJoin/intervalOverlapJoin keyed variants ride the same equi join") {
    // per-key point-in-interval: only same-key pairs qualify
    val pts = Seq((1L, "u", 100L), (2L, "v", 100L), (3L, "v", 45L)).toDF("pid", "k", "t")
    val ivk = Seq((10L, "u", 90L, 120L), (11L, "v", 0L, 49L)).toDF("ivid", "k", "s", "e")
    val got = TemporalJoin.rangeJoin(pts, "t", ivk, "s", "e",
        binWidth = Some(50L), keys = Seq("k" -> "k"))
      .select(col("pid"), col("iv_ivid")).as[(Long, Long)].collect().toSet
    // 2L@100 (key v) misses iv 11 (ends 49); 1L@100 (key u) misses iv 11
    // despite the bin match because the key differs
    assert(got == Set((1L, 10L), (3L, 11L)))
    val ov = TemporalJoin.intervalOverlapJoin(ivk, "s", "e",
        ivk.select(col("ivid").as("jvid"), col("k"), col("s"), col("e")), "s", "e",
        binWidth = Some(50L), keys = Seq("k" -> "k"))
      .select(col("ivid"), col("b_jvid")).as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && ov == Set((10L, 10L), (11L, 11L))) // only same-key self overlaps
  }

  test("reserved-column and collision guards") {
    intercept[IllegalArgumentException] {
      TemporalJoin.asofJoin(ldf.withColumn("__ord", lit(1)), rdf, "lt", "rt", by = Seq("k"))
    }
    intercept[IllegalArgumentException] { // left already has r_v
      TemporalJoin.asofJoin(ldf.withColumn("r_v", lit(1)), rdf, "lt", "rt", by = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      TemporalJoin.rangeJoin(ldf.withColumn("iv_ivid", lit(1)), "lt", iv, "s", "e")
    }
    // ANY "__"-prefixed user column is refused, not just the 8 internal
    // names: the join cores strip the whole namespace from the output, so
    // a silent pass-through here would silently drop the column (r17 advice)
    intercept[IllegalArgumentException] {
      TemporalJoin.asofJoin(ldf, rdf.withColumn("__score", lit(1.0)), "lt", "rt", by = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      TemporalJoin.intervalOverlapJoin(ldf.withColumn("__w", lit(1)), "lt", "lt", iv, "s", "e")
    }
  }

  test("asofJoin: null by-keys group together (documented window semantics)") {
    val l = Seq((1L, Option("a"), 100L), (2L, Option.empty[String], 100L)).toDF("lid", "k", "lt")
    val r = Seq((10L, Option("a"), 90L), (11L, Option.empty[String], 80L)).toDF("rid", "k", "rt")
    val got = TemporalJoin.asofJoin(l, r, "lt", "rt", by = Seq("k"))
      .select(col("lid"), col("r_rid")).as[(Long, Option[Long])].collect().toSet
    // null-key left row 2 matches null-key right row 11 (window semantics,
    // NOT SQL equi-join semantics — pinned as the documented contract)
    assert(got == Set((1L, Some(10L)), (2L, Some(11L))))
  }

  test("withNanos: long pass-through, timestamp upscale, fractional raises") {
    val longs = Seq((1L, 1704067207179575000L)).toDF("id", "ts")
    assert(TemporalJoin.withNanos(longs, "ts", "t").select(col("t"))
      .as[Long].head() == 1704067207179575000L)
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
      .toDF("id", "ts")
    val tNanos = TemporalJoin.withNanos(ts, "ts", "t").select(col("t")).as[Long].head()
    assert(tNanos % 1000L == 0L && tNanos / 1000000000L ==
      java.sql.Timestamp.valueOf("2024-01-01 00:00:01").getTime / 1000L)
    intercept[IllegalArgumentException] {
      TemporalJoin.withNanos(Seq((1L, 1.5)).toDF("id", "ts"), "ts", "t")
    }
  }

  test("asofJoin on TimestampType columns normalizes to epoch micros") {
    val lts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("lid", "lt")
    val rts = Seq((9L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 1.5))
      .toDF("rid", "rt", "v")
    val out = TemporalJoin.asofJoin(lts, rts, "lt", "rt", by = Nil)
      .select(col("lid"), col("r_rid"), col("r_v"))
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(out == Set((1L, Some(9L), Some(1.5)), (2L, None, None)))
  }
}
