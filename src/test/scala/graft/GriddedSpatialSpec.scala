package graft

import graft.geom.{GeomOps, Wkb}
import graft.join.{Gridded, SpatialJoin}
import org.apache.spark.sql.functions._

/** Pre-gridded bucket-co-located spatial storage: write-once cell layout,
  * zero-Exchange repeated joins, loud spec mismatches. */
class GriddedSpatialSpec extends SparkSuite {
  import spark.implicits._

  private def fixtures() = {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rng = new scala.util.Random(41)
    val ptRows = (0 until 300).map(i =>
      (i, GeomOps.point(rng.nextDouble() * 100, rng.nextDouble() * 100)))
    // NULL + EMPTY rows: dropped at write, dropped by inner sjoin — parity
    val pts = (ptRows.map { case (i, g) => (i, Wkb.write(g)) } ++
      Seq((900, null.asInstanceOf[Array[Byte]]), (901, Wkb.write(gf.createPolygon()))))
      .toDF("pid", "geometry")
    val boxRows = (0 until 20).map { i =>
      val x = rng.nextDouble() * 90; val y = rng.nextDouble() * 90
      (i, GeomOps.makeBox(x, y, x + 10, y + 10))
    }
    val boxes = boxRows.map { case (i, g) => (i, Wkb.write(g)) }.toDF("bid", "geometry")
    (pts, ptRows, boxes, boxRows)
  }

  test("gridded sjoin: zero Exchange, results equal the plain inner sjoin and brute force") {
    val (pts, ptRows, boxes, boxRows) = fixtures()
    val tmp = java.nio.file.Files.createTempDirectory("gridded").toString
    val spec = Gridded.gridFor(pts)
    Gridded.writeGridded(pts, "gridded_pts", s"$tmp/pts", spec, buckets = 8)
    Gridded.writeGridded(boxes, "gridded_boxes", s"$tmp/boxes", spec, buckets = 8)
    val gp = Gridded.readGridded(spark, "gridded_pts")
    val gb = Gridded.readGridded(spark, "gridded_boxes")
    // the test fixture is tiny, so Spark would (correctly) broadcast the
    // small side; disable broadcast to pin the AT-SCALE plan shape — two
    // big gridded sides joining with no shuffle at all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = Gridded.sjoinGridded(gp, gb, "intersects")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-located bucketed join must plan with ZERO Exchange:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge bucket join:\n$plan")
      val got = j.select("pid", "bid").as[(Int, Int)].collect().sorted.toSeq
      val brute = (for {
        (i, p) <- ptRows; (k, b) <- boxRows if p.intersects(b)
      } yield (i, k)).sorted
      assert(got == brute && brute.nonEmpty)
      val viaSjoin = SpatialJoin.sjoin(pts, boxes, "intersects", "inner",
          broadcastThreshold = -1)
        .select("pid", "bid").as[(Int, Int)].collect().sorted.toSeq
      assert(got == viaSjoin)
      // a second predicate over the SAME stored layout — no rewrite, no new
      // stats, still exchange-free
      val within = Gridded.sjoinGridded(gp, gb, "within")
      assert(!within.queryExecution.executedPlan.toString.contains("Exchange"))
      val gotW = within.select("pid", "bid").as[(Int, Int)].collect().sorted.toSeq
      val bruteW = (for {
        (i, p) <- ptRows; (k, b) <- boxRows if p.within(b)
      } yield (i, k)).sorted
      assert(gotW == bruteW && bruteW.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    spark.sql("DROP TABLE IF EXISTS gridded_pts")
    spark.sql("DROP TABLE IF EXISTS gridded_boxes")
  }

  test("mismatched grid specs and dwithin fail loudly") {
    val (pts, _, boxes, _) = fixtures()
    val tmp = java.nio.file.Files.createTempDirectory("gridded_mm").toString
    val specA = Gridded.gridFor(pts)
    val specB = specA.copy(nx = specA.nx + 1)
    Gridded.writeGridded(pts, "gridded_mm_a", s"$tmp/a", specA, buckets = 4)
    Gridded.writeGridded(boxes, "gridded_mm_b", s"$tmp/b", specB, buckets = 4)
    val a = Gridded.readGridded(spark, "gridded_mm_a")
    val b = Gridded.readGridded(spark, "gridded_mm_b")
    val e = intercept[IllegalArgumentException](Gridded.sjoinGridded(a, b))
    assert(e.getMessage.contains("different grids"))
    val d = intercept[IllegalArgumentException](Gridded.sjoinGridded(a, a, "dwithin"))
    assert(d.getMessage.contains("dwithin"))
    // round-trip of the spec through the column name is exact (hex bits)
    assert(Gridded.specOf(a) == specA && Gridded.specOf(b) == specB)
    spark.sql("DROP TABLE IF EXISTS gridded_mm_a")
    spark.sql("DROP TABLE IF EXISTS gridded_mm_b")
  }
}
