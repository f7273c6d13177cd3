package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.io.MapInfoMif
import org.apache.spark.sql.functions._

class MapInfoMifSpec extends SparkSuite {
  import spark.implicits._

  test("roundtrip: attribute types, every geometry kind, NONE, CRS header") {
    val df = Seq(
      (1L, "alpha, \"quoted\"", 3, 2.5, true, "POINT (10 20)"),
      (2L, "beta", 4, -0.25, false, "LINESTRING (0 0, 1 1, 2 0)"),
      (3L, "gamma", 5, 1e9, true, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"),
      (4L, "delta", 6, 0.5, false,
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"),
      (5L, "eps", 7, 0.125, true, "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))"),
      (6L, "zeta", 8, 0.75, false, "MULTIPOINT ((1 2), (3 4))"),
      (7L, null.asInstanceOf[String], 9, 0.875, true, null.asInstanceOf[String]))
      .toDF("id", "name", "n", "v", "flag", "wkt")
    val gdf = GeoDataFrame(
      df.withColumn("geometry", when(col("wkt").isNotNull, st_geomfromwkt(col("wkt")))).drop("wkt"),
      "geometry", Map("geometry" -> "EPSG:4326"))
    val dir = java.nio.file.Files.createTempDirectory("mif").toString
    MapInfoMif.write(gdf, s"$dir/t.mif")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/t.mid")))
    val back = MapInfoMif.read(spark, s"$dir/t.mif")
    assert(back.crs.get("geometry").contains("EPSG:4326"))
    // long ids round-trip through Decimal(20, 0)
    assert(back.df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    val rows = back.df
      .select(col("id"), col("name"), col("n"), col("v"), col("flag"),
        when(col("geometry").isNotNull, st_astext(st_normalize(col("geometry")))).as("wkt"))
      .as[(Long, String, Int, Double, Boolean, String)].collect().sortBy(_._1)
    val want = df
      .select(col("id"), col("name"), col("n"), col("v"), col("flag"),
        when(col("wkt").isNotNull, st_astext(st_normalize(st_geomfromwkt(col("wkt"))))).as("wkt"))
      .as[(Long, String, Int, Double, Boolean, String)].collect().sortBy(_._1)
    // MID has no null marker for Char: null strings come back empty
    assert(rows.map(r => r.copy(_2 = Option(r._2).getOrElse(""))).toSeq ==
      want.map(r => r.copy(_2 = Option(r._2).getOrElse(""))).toSeq)
  }

  test("foreign MIF parses: tab delimiter default, styling clauses, MULTIPLE pline, implicit ring close") {
    // hand-written in the shape GDAL/MapInfo emit: PEN/BRUSH/SYMBOL/CENTER
    // clauses after geometries, rings NOT explicitly closed, default
    // delimiter (no DELIMITER line -> tab)
    val mif =
      """Version 300
        |Charset "WindowsLatin1"
        |Columns 3
        |  id Integer
        |  name Char(32)
        |  score Decimal(10, 2)
        |Data
        |POINT 10 20
        |    Symbol (34,0,12)
        |Pline Multiple 2
        |  2
        |10 10
        |20 20
        |  3
        |30 30
        |40 40
        |50 50
        |    Pen (1,2,0)
        |REGION 1
        |  4
        |0 0
        |10 0
        |10 10
        |0 10
        |    Pen (1,2,0)
        |    Brush (2,16777215,16777215)
        |    Center 5 5
        |NONE
        |""".stripMargin
    val mid =
      "1\t\"first\"\t1.25\n2\t\"second\"\t2.50\n3\t\"third\"\t3.75\n4\t\"fourth\"\t\n"
    val dir = java.nio.file.Files.createTempDirectory("miff").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.mid"), mid.getBytes("UTF-8"))
    val back = MapInfoMif.read(spark, s"$dir/f.mif")
    val rows = back.df
      .select(col("id"), col("name"), col("score"),
        when(col("geometry").isNotNull, st_astext(col("geometry"))).as("wkt"))
      .as[(Int, String, Option[Double], String)].collect().sortBy(_._1).toSeq
    assert(rows(0) == ((1, "first", Some(1.25), "POINT (10 20)")))
    assert(rows(1)._4 == "MULTILINESTRING ((10 10, 20 20), (30 30, 40 40, 50 50))")
    assert(rows(2)._4 == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert(rows(3)._3.isEmpty) // empty Decimal field -> null
    assert(rows(3)._4 == null)
    // no CoordSys line -> no CRS claimed
    assert(back.crs.isEmpty)
  }

  test("REGION even-odd nesting: lake with island resolves shell/hole/shell") {
    val mif =
      """VERSION 300
        |DELIMITER ","
        |COLUMNS 1
        |  id Integer
        |DATA
        |REGION 3
        |  5
        |0 0
        |10 0
        |10 10
        |0 10
        |0 0
        |  5
        |2 2
        |8 2
        |8 8
        |2 8
        |2 2
        |  5
        |4 4
        |6 4
        |6 6
        |4 6
        |4 4
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("mifr").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.mid"), "1\n".getBytes("UTF-8"))
    val back = MapInfoMif.read(spark, s"$dir/r.mif")
    val (tpe, area) = back.df
      .select(st_geometrytype(col("geometry")), st_area(col("geometry")))
      .as[(String, Double)].head()
    // outer 100 - lake 36 + island 4
    assert(tpe == "MultiPolygon" && math.abs(area - 68.0) < 1e-9, s"$tpe $area")
  }

  test("read filters: where/columns/rows prune like the other drivers; partitioned write reads back") {
    val df = (1 to 50).map(i => (i, s"n$i", i * 1.0, i * 2.0)).toDF("id", "name", "x", "y")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"),
      "geometry", Map("geometry" -> "EPSG:4326"))
    val dir = java.nio.file.Files.createTempDirectory("mifp").toString
    MapInfoMif.write(gdf, s"$dir/a.mif")
    val filtered = MapInfoMif.read(spark, s"$dir/a.mif",
      where = Some("id % 5 = 0"), columns = Some(Seq("id")))
    assert(filtered.df.columns.toSeq == Seq("id", "geometry"))
    assert(filtered.df.count() == 10)
    val bboxed = MapInfoMif.read(spark, s"$dir/a.mif", bbox = Some((0.0, 0.0, 10.0, 20.0)))
    assert(bboxed.df.count() == 10)
    // distributed pair-per-partition write, read back as a directory
    val pdir = java.nio.file.Files.createTempDirectory("mifpd").toString
    MapInfoMif.writePartitioned(GeoDataFrame(gdf.df.repartition(4), "geometry", gdf.crs), pdir)
    val backAll = MapInfoMif.read(spark, pdir)
    assert(backAll.df.count() == 50)
    assert(backAll.crs.get("geometry").contains("EPSG:4326"))
  }

  test("GeoIO dispatch, plain-decimal big coordinates, newline refusal") {
    // web-mercator-range coordinates must render plain decimal, not E-notation
    val df = Seq((1L, "a", -8237642.318702345, 4970241.327215685)).toDF("id", "name", "x", "y")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"))
    val dir = java.nio.file.Files.createTempDirectory("mifg").toString
    graft.io.GeoIO.toFile(gdf, s"$dir/m.mif")
    val mifText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/m.mif")), "UTF-8")
    assert(!mifText.contains("E7") && !mifText.contains("E6"), s"E-notation leaked:\n$mifText")
    val back = graft.io.GeoIO.readFile(spark, s"$dir/m.mif")
    val (x, y) = back.df.select(st_x(col("geometry")), st_y(col("geometry")))
      .as[(Double, Double)].head()
    assert(x == -8237642.318702345 && y == 4970241.327215685)
    // a string with an embedded newline must refuse, not corrupt the pair
    val bad = GeoDataFrame(Seq((1L, "two\nlines", 0.0, 0.0)).toDF("id", "name", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"))
    val ex = intercept[Exception](MapInfoMif.write(bad, s"$dir/bad.mif"))
    assert(ex.getMessage.contains("line break") ||
      Option(ex.getCause).exists(_.getMessage.contains("line break")))
  }

  test("unsupported records (TEXT) fail loudly; drawn shapes convert like mitab") {
    val mif =
      """VERSION 300
        |DELIMITER ","
        |COLUMNS 1
        |  id Integer
        |DATA
        |TEXT "hello" 0 0 10 10
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("mife").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/e.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/e.mid"), "1\n".getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.SparkException] {
      MapInfoMif.read(spark, s"$dir/e.mif").df.count()
    }
    assert(ex.getMessage.contains("TEXT") || ex.getCause.getMessage.contains("TEXT"))
  }

  test("COLLECTION records round-trip as GeometryCollection (mitab parity)") {
    val wkt = "GEOMETRYCOLLECTION (POINT (1 2), " +
      "LINESTRING (0 0, 5 5), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))"
    val gdf = GeoDataFrame(
      Seq(1).toDF("id").select(st_geomfromwkt(lit(wkt)).as("geometry")),
      "geometry", Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("mifc").toString
    MapInfoMif.write(gdf, s"$dir/c.mif")
    val mifText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/c.mif")), "UTF-8")
    assert(mifText.contains("COLLECTION 3"), mifText)
    val back = MapInfoMif.read(spark, s"$dir/c.mif")
    val g = graft.geom.Wkb.read(back.df.select("geometry").as[Array[Byte]].head())
    assert(g.getGeometryType == "GeometryCollection" && g.getNumGeometries == 3)
    assert(g.norm().equalsExact(
      graft.geom.Wkb.read(graft.geom.Wkb.write(
        new org.locationtech.jts.io.WKTReader().read(wkt))).norm()))
    // hand-written foreign collection with interleaved styling clauses
    val mif =
      """VERSION 300
        |DELIMITER ","
        |COLUMNS 1
        |  id Integer
        |DATA
        |COLLECTION 2
        |POINT 7 8
        |    Symbol (34,0,12)
        |PLINE 2
        |0 0
        |9 9
        |    Pen (1,2,0)
        |POINT 1 1
        |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.mid"), "1\n2\n".getBytes("UTF-8"))
    val rows = MapInfoMif.read(spark, s"$dir/f.mif").df
      .select(st_astext(col("geometry"))).as[String].collect().sorted
    assert(rows.length == 2)
    assert(rows.exists(_.startsWith("GEOMETRYCOLLECTION")) && rows.contains("POINT (1 1)"), rows.toSeq)
  }

  test("drawn shapes convert to features with closed-form measures (mitab parity)") {
    import graft.functions.GeoFunctions.{st_area, st_length, st_geometrytype}
    val mif =
      """VERSION 300
        |DELIMITER ","
        |COLUMNS 1
        |  id Integer
        |DATA
        |RECT 0 0 4 3
        |ELLIPSE 0 0 8 4
        |ARC 0 0 8 4 0 180
        |ROUNDRECT 0 0 10 6 2
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("mifd").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.mid"), "1\n2\n3\n4\n".getBytes("UTF-8"))
    val rows = MapInfoMif.read(spark, s"$dir/d.mif").df
      .select(col("id"), st_geometrytype(col("geometry")).as("t"),
        st_area(col("geometry")).as("a"), st_length(col("geometry")).as("l"))
      .as[(Int, String, Double, Double)].collect().sortBy(_._1)
    assert(rows(0)._2 == "Polygon" && math.abs(rows(0)._3 - 12.0) < 1e-9) // 4x3 box
    // ellipse inscribed in 8x4 box: a=4, b=2 -> area = pi*a*b (within
    // the 4-degree densification's inscribed-polygon deficit)
    assert(rows(1)._2 == "Polygon" && math.abs(rows(1)._3 - math.Pi * 8) < 0.05)
    // half the same ellipse (center (4,2), a=4, b=2) as a linestring:
    // parametric 0 -> 180 degrees runs (8,2) -> (0,2)
    assert(rows(2)._2 == "LineString")
    val arc = graft.geom.Wkb.read(MapInfoMif.read(spark, s"$dir/d.mif").df
      .filter(col("id") === 3).select("geometry").as[Array[Byte]].head())
    val a0 = arc.getCoordinates.head; val a1 = arc.getCoordinates.last
    assert(math.abs(a0.x - 8) < 1e-9 && math.abs(a0.y - 2) < 1e-9, a0)
    assert(math.abs(a1.x) < 1e-9 && math.abs(a1.y - 2) < 1e-9, a1)
    // roundrect 10x6 with rounding diameter 2 (r=1):
    // area = 60 - (4 - pi) * r^2
    assert(rows(3)._2 == "Polygon" && math.abs(rows(3)._3 - (60 - (4 - math.Pi))) < 0.01)
  }

  test("null value in a lone string column keeps MID row alignment (empty line is a row)") {
    // the only attribute column is a nullable string: row 2's value is null,
    // so its MID line is empty — dropping it would shift row 3's name onto
    // row 2's geometry
    val df = Seq(("first", 1.0), (null.asInstanceOf[String], 2.0), ("third", 3.0))
      .toDF("name", "x")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_point(col("x"), lit(0.0))).drop("x"))
    val dir = java.nio.file.Files.createTempDirectory("mifn").toString
    MapInfoMif.write(gdf, s"$dir/n.mif")
    val back = MapInfoMif.read(spark, s"$dir/n.mif")
    val rows = back.df.select(col("name"), st_x(col("geometry")))
      .as[(String, Double)].collect().sortBy(_._2)
    assert(rows.length == 3)
    assert(rows(0) == ("first", 1.0))
    // MID has no null marker for strings: null reads back as empty string,
    // but it stays attached to geometry x=2
    assert(rows(1)._1 == "" && rows(1)._2 == 2.0, rows.mkString(","))
    assert(rows(2) == ("third", 3.0))
  }

  test("unrecognized record keyword fails loudly instead of desyncing") {
    val mif =
      """VERSION 300
        |DELIMITER ","
        |COLUMNS 1
        |  id Integer
        |DATA
        |FRAME 0 0 10 10
        |POINT 1 2
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("mifu").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/u.mif"), mif.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/u.mid"), "1\n2\n".getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.SparkException] {
      MapInfoMif.read(spark, s"$dir/u.mif").df.count()
    }
    assert(ex.getMessage.contains("FRAME") || ex.getCause.getMessage.contains("FRAME"))
  }

  test("CoordSys: 3857 and UTM roundtrip; unmappable CRS raises on write") {
    val df = Seq((1, 100.0, 200.0)).toDF("id", "x", "y")
    def gdfWith(crs: String) = GeoDataFrame(
      df.withColumn("geometry", st_point(col("x"), col("y"))).drop("x", "y"),
      "geometry", Map("geometry" -> crs))
    val dir = java.nio.file.Files.createTempDirectory("mifc").toString
    for (crs <- Seq("EPSG:3857", "EPSG:32633", "EPSG:32733", "EPSG:27700", "EPSG:26915")) {
      MapInfoMif.write(gdfWith(crs), s"$dir/c.mif")
      val back = MapInfoMif.read(spark, s"$dir/c.mif")
      assert(back.crs.get("geometry").contains(crs), s"$crs did not roundtrip: ${back.crs}")
    }
    // Swiss LV95 has no MapInfo CoordSys mapping here: loud error, no file
    val ex = intercept[IllegalArgumentException](
      MapInfoMif.write(gdfWith("EPSG:2056"), s"$dir/bad.mif"))
    assert(ex.getMessage.contains("CoordSys"))
  }
}
