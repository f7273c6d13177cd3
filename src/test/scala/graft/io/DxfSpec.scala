package graft.io

import graft.SparkSuite
import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import org.apache.spark.sql.functions._

/** DXF driver against HAND-WRITTEN R12 entity text (independent of our own
  * writer), closed-form bulge/arc checks, the write round-trip, and the
  * loud-raise posture for out-of-subset entities and attribute columns. */
class DxfSpec extends SparkSuite {
  import spark.implicits._

  private def writeFixture(dir: String, name: String, body: String): String = {
    val text = "0\nSECTION\n2\nENTITIES\n" + body + "0\nENDSEC\n0\nEOF\n"
    val p = java.nio.file.Paths.get(s"$dir/$name")
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  test("hand-written entities: POINT/LINE/LWPOLYLINE/POLYLINE with layers and handles") {
    val dir = java.nio.file.Files.createTempDirectory("dxf").toString
    val f = writeFixture(dir, "h.dxf",
      "0\nPOINT\n5\n1A\n8\nsites\n10\n3.5\n20\n-2.25\n" +
        "0\nLINE\n8\nroads\n10\n0\n20\n0\n11\n10\n21\n5\n" +
        "0\nLWPOLYLINE\n8\nroads\n90\n3\n70\n0\n10\n0\n20\n0\n10\n1\n20\n1\n10\n2\n20\n0\n" +
        "0\nLWPOLYLINE\n8\nparcels\n90\n4\n70\n1\n10\n0\n20\n0\n10\n4\n20\n0\n10\n4\n20\n4\n10\n0\n20\n4\n" +
        "0\nPOLYLINE\n8\nold\n66\n1\n70\n0\n" +
        "0\nVERTEX\n8\nold\n10\n7\n20\n7\n0\nVERTEX\n8\nold\n10\n8\n20\n9\n0\nSEQEND\n8\nold\n" +
        "0\nTEXT\n8\nnotes\n10\n1\n20\n1\n1\nannotation to skip\n")
    val gdf = Dxf.read(spark, f)
    val rows = gdf.df
      .select(col("Layer"), col("EntityHandle"), st_astext(col("geometry")).as("wkt"))
      .as[(String, String, String)].collect().sortBy(r => (r._1, r._3))
    assert(rows.length == 5) // TEXT skipped
    assert(rows.map(_._1).toSeq == Seq("old", "parcels", "roads", "roads", "sites"))
    assert(rows.find(_._1 == "sites").get._3 == "POINT (3.5 -2.25)")
    assert(rows.find(_._1 == "sites").get._2 == "1A")
    assert(rows.find(_._1 == "old").get._3 == "LINESTRING (7 7, 8 9)")
    // closed LWPOLYLINE comes back as a closed linestring (GDAL parity)
    val parcel = rows.find(_._1 == "parcels").get._3
    assert(parcel == "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)", parcel)
    // layer= filter
    assert(Dxf.read(spark, f, layer = Some("roads")).df.count() == 2)
    // listLayers: distinct drawing layers with their geometry type
    val layers = GeoIO.listLayers(spark, f).toMap
    assert(layers.keySet == Set("sites", "roads", "parcels", "old"))
    assert(layers("sites") == "Point" && layers("parcels") == "LineString")
    assert(layers("roads") == "LineString")
  }

  test("bulge arcs and CIRCLE/ARC densify to closed-form positions") {
    val dir = java.nio.file.Files.createTempDirectory("dxfb").toString
    // bulge 1 = semicircle from (0,0) to (2,0), CCW -> apex at (1,1)
    val f = writeFixture(dir, "b.dxf",
      "0\nLWPOLYLINE\n8\n0\n90\n2\n70\n0\n10\n0\n20\n0\n42\n1\n10\n2\n20\n0\n" +
        "0\nCIRCLE\n8\n0\n10\n5\n20\n5\n40\n2\n" +
        "0\nARC\n8\n0\n10\n0\n20\n0\n40\n1\n50\n0\n51\n90\n")
    val gdf = Dxf.read(spark, f)
    val wkbs = gdf.df.select(col("geometry")).as[Array[Byte]].collect().map(graft.geom.Wkb.read)
    val semi = wkbs(0)
    // every densified vertex sits on the circle of radius 1 around (1,0)
    val c = new org.locationtech.jts.geom.Coordinate(1, 0)
    semi.getCoordinates.foreach { p =>
      assert(math.abs(p.distance(c) - 1.0) < 1e-9 || p.distance(c) < 1e-9, p)
    }
    // bulge > 0 = CCW sweep at the center from start to end (AutoCAD ref:
    // "made negative if the arc goes clockwise"): for travel +x that is the
    // arc through -y — the closed two-vertex bulge-1 polyline is a full
    // circle traversed CCW, whose FIRST semicircle is the bottom one. The
    // 4-degree densification need not sample the exact apex.
    assert(semi.getCoordinates.map(_.y).min < -0.99, "semicircle must bow to -y (CCW sweep)")
    assert(semi.getCoordinates.map(_.y).max <= 1e-9)
    assert(semi.getCoordinates.last.x == 2.0 && semi.getCoordinates.last.y == 0.0)
    val circle = wkbs(1).asInstanceOf[org.locationtech.jts.geom.LineString]
    assert(circle.isClosed && circle.getNumPoints >= 90)
    circle.getCoordinates.foreach { p =>
      assert(math.abs(math.hypot(p.x - 5, p.y - 5) - 2.0) < 1e-9)
    }
    val arc = wkbs(2).asInstanceOf[org.locationtech.jts.geom.LineString]
    val a0 = arc.getCoordinateN(0); val a1 = arc.getCoordinateN(arc.getNumPoints - 1)
    assert(math.abs(a0.x - 1) < 1e-9 && math.abs(a0.y) < 1e-9, a0)
    assert(math.abs(a1.x) < 1e-9 && math.abs(a1.y - 1) < 1e-9, a1)
  }

  test("HATCH polyline loops assemble to a polygon with holes; roundtrip via writer") {
    val df = Seq((1L,
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 8 2, 8 8, 2 8, 2 2))",
      "zones")).toDF("id", "wkt", "lyr")
    val gdf = GeoDataFrame(
      df.select(col("lyr"), st_geomfromwkt(col("wkt")).as("geometry")), "geometry", Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("dxfh").toString
    Dxf.write(gdf, s"$dir/h.dxf", layerCol = Some("lyr"))
    val back = Dxf.read(spark, s"$dir/h.dxf")
    val (lyr, area, holes) = back.df.select(col("Layer"), st_area(col("geometry")),
      expr("1")).as[(String, Double, Int)].head()
    assert(lyr == "zones" && math.abs(area - (100.0 - 36.0)) < 1e-9)
    val g = graft.geom.Wkb.read(back.df.select("geometry").as[Array[Byte]].head())
    assert(g.getGeometryType == "Polygon")
    assert(g.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
  }

  test("HATCH arc/elliptic edges densify to closed-form areas (ccw and cw)") {
    val dir = java.nio.file.Files.createTempDirectory("dxfha").toString
    // ccw stadium: 4x2 rectangle + two unit semicircle caps -> area 8 + pi
    val ccwStadium =
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n4\n" +
        "72\n1\n10\n0\n20\n0\n11\n4\n21\n0\n" +
        "72\n2\n10\n4\n20\n1\n40\n1\n50\n-90\n51\n90\n73\n1\n" +
        "72\n1\n10\n4\n20\n2\n11\n0\n21\n2\n" +
        "72\n2\n10\n0\n20\n1\n40\n1\n50\n90\n51\n270\n73\n1\n"
    // same stadium traversed CLOCKWISE: cw arc edges (73 = 0)
    val cwStadium =
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n4\n" +
        "72\n2\n10\n0\n20\n1\n40\n1\n50\n270\n51\n90\n73\n0\n" +
        "72\n1\n10\n0\n20\n2\n11\n4\n21\n2\n" +
        "72\n2\n10\n4\n20\n1\n40\n1\n50\n90\n51\n-90\n73\n0\n" +
        "72\n1\n10\n4\n20\n0\n11\n0\n21\n0\n"
    // half-ellipse (a=2, b=1) closed by its major axis -> area pi*a*b/2 = pi
    val halfEllipse =
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n2\n" +
        "72\n3\n10\n0\n20\n0\n11\n2\n21\n0\n40\n0.5\n50\n0\n51\n180\n73\n1\n" +
        "72\n1\n10\n-2\n20\n0\n11\n2\n21\n0\n"
    val f = writeFixture(dir, "a.dxf", ccwStadium + cwStadium + halfEllipse)
    val areas = Dxf.read(spark, f).df
      .select(st_area(col("geometry"))).as[Double].collect()
    assert(areas.length == 3)
    assert(math.abs(areas(0) - (8 + math.Pi)) < 0.01, s"ccw stadium ${areas(0)}")
    assert(math.abs(areas(1) - (8 + math.Pi)) < 0.01, s"cw stadium ${areas(1)}")
    assert(math.abs(areas(2) - math.Pi) < 0.01, s"half ellipse ${areas(2)}")
    // spline edge (type 4): a pie slice closed by the EXACT rational
    // quarter circle (degree 2, weights 1/sqrt2/1) -> area pi/4
    val w = math.sqrt(2) / 2
    val f2 = writeFixture(dir, "s.dxf",
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n3\n" +
        "72\n1\n10\n0\n20\n0\n11\n1\n21\n0\n" +
        "72\n4\n94\n2\n73\n1\n74\n0\n95\n6\n96\n3\n" +
        "40\n0\n40\n0\n40\n0\n40\n1\n40\n1\n40\n1\n" +
        s"10\n1\n20\n0\n42\n1\n10\n1\n20\n1\n42\n$w\n10\n0\n20\n1\n42\n1\n" +
        "72\n1\n10\n0\n20\n1\n11\n0\n21\n0\n")
    val slice = Dxf.read(spark, f2).df.select(st_area(col("geometry"))).as[Double].head()
    // 1e-3: the 32-sample inscribed polygon sits (pi/2)^3/(12*32^2) ~ 3e-4 under
    assert(math.abs(slice - math.Pi / 4) < 1e-3, s"pie slice $slice")
    // OBLIQUE elliptic edge angles are TRUE angles, not parametric (r20
    // advice; GDAL's AngleCorrect convention): ellipse a=2 b=1, edge from
    // true 45° to 90° closed by radii — parametric t0 = atan2(sin45/0.5,
    // cos45) = atan(2), sector area = (a·b/2)(t1−t0) = (π/2 − atan 2).
    // Reading 45 as a parametric angle instead gives 0.785 — caught here.
    val t0 = math.atan2(math.sin(math.Pi / 4) / 0.5, math.cos(math.Pi / 4))
    val sx = 2 * math.cos(t0); val sy = math.sin(t0) // start point, true 45°
    val f4 = writeFixture(dir, "e45.dxf",
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n3\n" +
        s"72\n1\n10\n0\n20\n0\n11\n$sx\n21\n$sy\n" +
        "72\n3\n10\n0\n20\n0\n11\n2\n21\n0\n40\n0.5\n50\n45\n51\n90\n73\n1\n" +
        "72\n1\n10\n0\n20\n1\n11\n0\n21\n0\n")
    val e45 = Dxf.read(spark, f4).df.select(st_area(col("geometry"))).as[Double].head()
    assert(math.abs(e45 - (math.Pi / 2 - math.atan(2.0))) < 2e-3, s"45° elliptic sector $e45")
    assert(math.abs(sy / sx - 1.0) < 1e-12, "start point must sit at TRUE 45° from center")
    // unknown edge types still raise loudly
    val f3 = writeFixture(dir, "u.dxf",
      "0\nHATCH\n8\n0\n2\nSOLID\n70\n1\n71\n0\n91\n1\n92\n1\n93\n1\n72\n9\n")
    val ex = intercept[Exception](Dxf.read(spark, f3).df.count())
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + " " + msg(x.getCause)).getOrElse("")
    assert(msg(ex).contains("edge type"))
  }

  test("write/read roundtrip: points + linestrings across layers; GeoIO dispatch") {
    val df = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd",
        if (i % 3 == 0) s"LINESTRING ($i 0, $i 5, ${i + 1} 6)" else s"POINT ($i ${i * 2})")
    }.toDF("id", "lyr", "wkt")
    val gdf = GeoDataFrame(
      df.select(col("lyr"), st_geomfromwkt(col("wkt")).as("geometry")), "geometry", Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("dxfr").toString
    Dxf.write(gdf, s"$dir/r.dxf", layerCol = Some("lyr"))
    val back = Dxf.read(spark, s"$dir/r.dxf")
    assert(back.df.count() == 40)
    assert(back.df.filter(col("Layer") === "even").count() == 20)
    // geometry survives exactly (points + open linestrings have no densify)
    val wkts = back.df.select(st_astext(col("geometry"))).as[String].collect().toSet
    assert(wkts.contains("POINT (1 2)") && wkts.contains("LINESTRING (3 0, 3 5, 4 6)"))
    // GeoIO extension dispatch
    val viaIo = GeoIO.readFile(spark, s"$dir/r.dxf")
    assert(viaIo.df.count() == 40)
    GeoIO.toFile(GeoDataFrame(gdf.df.select(col("geometry")), "geometry", Map.empty),
      s"$dir/io.dxf")
    assert(Dxf.read(spark, s"$dir/io.dxf").df.count() == 40)
    // partitioned export reads back as a directory corpus
    val pdir = java.nio.file.Files.createTempDirectory("dxfp").toString
    Dxf.writePartitioned(GeoDataFrame(gdf.df.repartition(4), "geometry", Map.empty),
      pdir, layerCol = Some("lyr"))
    assert(Dxf.read(spark, pdir).df.count() == 40)
  }

  test("ELLIPSE densifies onto the exact ellipse; partial sweep hits its endpoints") {
    val dir = java.nio.file.Files.createTempDirectory("dxfel").toString
    // full ellipse: center (0,0), major-axis endpoint (4,0), ratio 0.5 -> a=4, b=2
    // rotated: major endpoint (0,3) along +y, ratio 1/3 -> x^2 + (y/3)^2 = 1
    // quarter arc at center (10,10): t in [0, pi/2] -> start (14,10), end (10,12)
    val f = writeFixture(dir, "e.dxf",
      "0\nELLIPSE\n8\n0\n10\n0\n20\n0\n11\n4\n21\n0\n40\n0.5\n41\n0\n42\n6.283185307179586\n" +
        "0\nELLIPSE\n8\n0\n10\n0\n20\n0\n11\n0\n21\n3\n40\n0.3333333333333333\n41\n0\n42\n6.283185307179586\n" +
        "0\nELLIPSE\n8\n0\n10\n10\n20\n10\n11\n4\n21\n0\n40\n0.5\n41\n0\n42\n1.5707963267948966\n")
    val wkbs = Dxf.read(spark, f).df.select(col("geometry")).as[Array[Byte]]
      .collect().map(graft.geom.Wkb.read)
    val full = wkbs(0).asInstanceOf[org.locationtech.jts.geom.LineString]
    assert(full.isClosed && full.getNumPoints >= 90)
    full.getCoordinates.foreach { p =>
      assert(math.abs(math.pow(p.x / 4, 2) + math.pow(p.y / 2, 2) - 1.0) < 1e-9, p)
    }
    val rot = wkbs(1).asInstanceOf[org.locationtech.jts.geom.LineString]
    assert(rot.isClosed)
    rot.getCoordinates.foreach { p =>
      assert(math.abs(p.x * p.x + math.pow(p.y / 3, 2) - 1.0) < 1e-9, p)
    }
    val quarter = wkbs(2).asInstanceOf[org.locationtech.jts.geom.LineString]
    val q0 = quarter.getCoordinateN(0); val q1 = quarter.getCoordinateN(quarter.getNumPoints - 1)
    assert(math.abs(q0.x - 14) < 1e-9 && math.abs(q0.y - 10) < 1e-9, q0)
    assert(math.abs(q1.x - 10) < 1e-9 && math.abs(q1.y - 12) < 1e-9, q1)
  }

  test("SPLINE: rational quarter-circle is exact; Bezier midpoint closed-form; periodic closes") {
    val dir = java.nio.file.Files.createTempDirectory("dxfsp").toString
    // degree-2 NURBS quarter circle: ctrl (1,0),(1,1),(0,1), w (1, sqrt2/2, 1),
    // knots [0,0,0,1,1,1] — every evaluated point lies ON the unit circle
    val w = math.sqrt(2) / 2
    val f = writeFixture(dir, "s.dxf",
      "0\nSPLINE\n8\ncurves\n70\n4\n71\n2\n72\n6\n73\n3\n" +
        "40\n0\n40\n0\n40\n0\n40\n1\n40\n1\n40\n1\n" +
        s"41\n1\n41\n$w\n41\n1\n" +
        "10\n1\n20\n0\n10\n1\n20\n1\n10\n0\n20\n1\n" +
        // non-rational cubic Bezier: ctrl (0,0),(0,2),(4,2),(4,0), clamped knots
        "0\nSPLINE\n8\ncurves\n70\n8\n71\n3\n72\n8\n73\n4\n" +
        "40\n0\n40\n0\n40\n0\n40\n0\n40\n1\n40\n1\n40\n1\n40\n1\n" +
        "10\n0\n20\n0\n10\n0\n20\n2\n10\n4\n20\n2\n10\n4\n20\n0\n" +
        // AutoCAD-style PERIODIC closed spline: unwrapped ctrl, short knot vector
        "0\nSPLINE\n8\ncurves\n70\n3\n71\n2\n72\n5\n73\n4\n" +
        "40\n0\n40\n1\n40\n2\n40\n3\n40\n4\n" +
        "10\n0\n20\n0\n10\n4\n20\n0\n10\n4\n20\n4\n10\n0\n20\n4\n")
    val wkbs = Dxf.read(spark, f).df.select(col("geometry")).as[Array[Byte]]
      .collect().map(graft.geom.Wkb.read)
    val qc = wkbs(0).asInstanceOf[org.locationtech.jts.geom.LineString]
    assert(qc.getNumPoints >= 64)
    qc.getCoordinates.foreach { p =>
      assert(math.abs(math.hypot(p.x, p.y) - 1.0) < 1e-12, p) // exact NURBS circle
    }
    assert(qc.getCoordinateN(0).distance(new org.locationtech.jts.geom.Coordinate(1, 0)) < 1e-12)
    assert(qc.getCoordinateN(qc.getNumPoints - 1)
      .distance(new org.locationtech.jts.geom.Coordinate(0, 1)) < 1e-12)
    val bez = wkbs(1).asInstanceOf[org.locationtech.jts.geom.LineString]
    // B(1/2) = (P0 + 3P1 + 3P2 + P3)/8 = (2, 1.5); 64 uniform samples hit t=1/2
    assert(bez.getCoordinates.exists(p => math.abs(p.x - 2) < 1e-12 && math.abs(p.y - 1.5) < 1e-12))
    assert(bez.getCoordinateN(0).distance(new org.locationtech.jts.geom.Coordinate(0, 0)) < 1e-12)
    assert(bez.getCoordinateN(bez.getNumPoints - 1)
      .distance(new org.locationtech.jts.geom.Coordinate(4, 0)) < 1e-12)
    val per = wkbs(2).asInstanceOf[org.locationtech.jts.geom.LineString]
    assert(per.isClosed, "periodic spline must come back closed")
    per.getCoordinates.foreach { p =>
      assert(p.x >= -1e-9 && p.x <= 4 + 1e-9 && p.y >= -1e-9 && p.y <= 4 + 1e-9, p)
    }
  }

  test("parsePairs: stray blank lines resync; value whitespace is preserved") {
    val dir = java.nio.file.Files.createTempDirectory("dxfws").toString
    // a stray blank line between pairs + a layer name with leading/trailing
    // spaces (legal in group-code values): the blank line must not desync
    // subsequent pairs, and the layer must come back verbatim
    val text = "0\nSECTION\n2\nENTITIES\n\n0\nPOINT\n8\n  padded layer \n10\n1\n20\n2\n" +
      "\n\n0\nPOINT\n8\nplain\n10\n3\n20\n4\n0\nENDSEC\n0\nEOF\n"
    val p = java.nio.file.Paths.get(s"$dir/w.dxf")
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
    val rows = Dxf.read(spark, p.toString).df
      .select(col("Layer"), st_astext(col("geometry"))).as[(String, String)]
      .collect().sortBy(_._2)
    assert(rows.length == 2)
    assert(rows(0) == (("  padded layer ", "POINT (1 2)")), rows(0))
    assert(rows(1) == (("plain", "POINT (3 4)")))
    // a dangling code line at EOF raises instead of silently dropping
    val bad = "0\nSECTION\n2\nENTITIES\n0\nENDSEC\n0\nEOF\n5\n"
    val ex = intercept[IllegalArgumentException](Dxf.parsePairs(bad))
    assert(ex.getMessage.contains("no value line"))
  }

  test("SOLID bowtie order and 3DFACE ring order convert to polygons") {
    val dir = java.nio.file.Files.createTempDirectory("dxfsf").toString
    // SOLID quad (0,0),(1,0) then 12/22=(0,1), 13/23=(1,1): bowtie order
    // means the RING is (0,0),(1,0),(1,1),(0,1) -> unit square, area 1
    // 3DFACE stores ring order directly: same square needs (1,1) THIRD
    val f = writeFixture(dir, "sf.dxf",
      "0\nSOLID\n8\n0\n10\n0\n20\n0\n11\n1\n21\n0\n12\n0\n22\n1\n13\n1\n23\n1\n" +
        "0\n3DFACE\n8\n0\n10\n0\n20\n0\n11\n1\n21\n0\n12\n1\n22\n1\n13\n0\n23\n1\n" +
        "0\nSOLID\n8\n0\n10\n0\n20\n0\n11\n2\n21\n0\n12\n1\n22\n1\n12\n1\n22\n1\n")
    val areas = Dxf.read(spark, f).df
      .select(st_area(col("geometry"))).as[Double].collect()
    assert(areas.length == 3)
    assert(math.abs(areas(0) - 1.0) < 1e-9, s"solid quad ${areas(0)}")
    assert(math.abs(areas(1) - 1.0) < 1e-9, s"3dface quad ${areas(1)}")
    assert(math.abs(areas(2) - 1.0) < 1e-9, s"solid triangle ${areas(2)}")
  }

  test("INSERT expands BLOCKS with scale/rotate/translate, byblock layers, nesting, arrays") {
    val dir = java.nio.file.Files.createTempDirectory("dxfins").toString
    val text =
      "0\nSECTION\n2\nBLOCKS\n" +
        "0\nBLOCK\n8\n0\n2\nB1\n10\n0\n20\n0\n" +
        "0\nPOINT\n8\n0\n10\n1\n20\n0\n" + // layer 0 = byblock
        "0\nLINE\n8\nfixed\n10\n0\n20\n0\n11\n1\n21\n0\n" +
        "0\nENDBLK\n" +
        "0\nBLOCK\n8\n0\n2\nB2\n10\n0\n20\n0\n" +
        "0\nINSERT\n8\n0\n2\nB1\n10\n5\n20\n0\n" + // nested reference
        "0\nENDBLK\n" +
        "0\nENDSEC\n" +
        "0\nSECTION\n2\nENTITIES\n" +
        "0\nINSERT\n5\nAA\n8\nL1\n2\nB1\n10\n10\n20\n0\n41\n2\n42\n2\n50\n90\n" +
        "0\nINSERT\n8\nL2\n2\nB2\n10\n100\n20\n100\n" +
        "0\nINSERT\n8\nL3\n2\nB1\n10\n0\n20\n0\n70\n2\n44\n3\n" + // MINSERT 2 cols
        "0\nENDSEC\n0\nEOF\n"
    val f = java.nio.file.Paths.get(s"$dir/i.dxf")
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    val rows = Dxf.read(spark, f.toString).df
      .select(col("Layer"), col("EntityHandle"), st_astext(col("geometry")).as("wkt"))
      .as[(String, String, String)].collect()
    assert(rows.length == 8, rows.mkString("\n")) // 2 + 2 nested + 2x2 array
    // scale 2, rotate 90, insert (10,0): point (1,0) -> (0,2)+(10,0) = (10 2)
    val l1 = rows.filter(_._1 == "L1")
    assert(l1.exists(r => r._3 == "POINT (10 2)" && r._2 == "AA"), l1.toSeq)
    // the block's non-0 layer survives; line (0,0)-(1,0) -> (10,0)-(10,2)
    assert(rows.exists(r => r._1 == "fixed" && r._3 == "LINESTRING (10 0, 10 2)"), rows.toSeq)
    // nested: B2 at (100,100) contains B1 at (5,0): point -> (106 100)
    assert(rows.exists(r => r._1 == "L2" && r._3 == "POINT (106 100)"), rows.toSeq)
    assert(rows.exists(r => r._1 == "fixed" && r._3 == "LINESTRING (105 100, 106 100)"))
    // MINSERT: 2 columns spaced 3 -> points at (1 0) and (4 0)
    assert(rows.exists(r => r._1 == "L3" && r._3 == "POINT (1 0)"))
    assert(rows.exists(r => r._1 == "L3" && r._3 == "POINT (4 0)"))
    // an INSERT naming an undefined block raises instead of dropping
    val bad = "0\nSECTION\n2\nENTITIES\n0\nINSERT\n8\n0\n2\nNOPE\n10\n0\n20\n0\n0\nENDSEC\n0\nEOF\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.dxf"), bad.getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.SparkException](Dxf.read(spark, s"$dir/b.dxf").df.count())
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + " " + msg(x.getCause)).getOrElse("")
    assert(msg(ex).contains("NOPE"))
  }

  test("loud raises: unknown geometric entity, attribute columns, multi-part, append") {
    val dir = java.nio.file.Files.createTempDirectory("dxfe").toString
    val f = writeFixture(dir, "s.dxf",
      "0\nMLINE\n8\n0\n10\n0\n20\n0\n")
    val ex = intercept[org.apache.spark.SparkException](Dxf.read(spark, f).df.count())
    assert(ex.getMessage.contains("MLINE") || ex.getCause.getMessage.contains("MLINE"))
    val withAttrs = GeoDataFrame(
      Seq((1, 2.5)).toDF("id", "score")
        .withColumn("geometry", st_point(lit(0.0), lit(0.0))), "geometry", Map.empty)
    val e2 = intercept[IllegalArgumentException](Dxf.write(withAttrs, s"$dir/a.dxf"))
    assert(e2.getMessage.contains("attribute"))
    val multi = GeoDataFrame(
      Seq(1).toDF("i").select(st_geomfromwkt(lit("MULTIPOINT ((0 0), (1 1))")).as("geometry")),
      "geometry", Map.empty)
    val e3 = intercept[Exception](Dxf.write(multi, s"$dir/m.dxf"))
    assert(e3.getMessage.contains("explode") ||
      Option(e3.getCause).exists(_.getMessage.contains("explode")))
    val pts = GeoDataFrame(Seq(1).toDF("i")
      .select(st_point(lit(0.0), lit(0.0)).as("geometry")), "geometry", Map.empty)
    val e4 = intercept[UnsupportedOperationException](GeoIO.toFile(pts, s"$dir/x.dxf", mode = "a"))
    assert(e4.getMessage.contains("append"))
  }
}
