package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.Wkb
import graft.io.{GeoIO, Kml}
import org.apache.spark.sql.functions._

class KmlSpec extends SparkSuite {
  import spark.implicits._

  test("roundtrip preserves typed attributes and point geometry") {
    val df = Seq(
      (1L, "alpha & <co>", 1.5, true, 10.0, 20.0),
      (2L, "beta", -0.25, false, -30.5, 45.25)).toDF("id", "name", "score", "flag", "x", "y")
    val gdf0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val gdf = gdf0.copy(df = gdf0.df.drop("x", "y"))
    val dir = java.nio.file.Files.createTempDirectory("kml").toString
    Kml.write(gdf, s"$dir/pts.kml")
    val back = Kml.read(spark, s"$dir/pts.kml")
    assert(back.crs.get("geometry").contains("EPSG:4326"))
    val rows = back.df.select(col("id"), col("name"), col("score"), col("flag"),
      st_x(col("geometry")), st_y(col("geometry")))
      .as[(Long, String, Double, Boolean, Double, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "alpha & <co>", 1.5, true, 10.0, 20.0),
      (2L, "beta", -0.25, false, -30.5, 45.25)))
  }

  test("KML 2.2 document child order is schema-pinned") {
    // kml xsd: Document's shared <Schema> precedes Placemarks; within a
    // Placemark the Feature children (ExtendedData) precede the geometry —
    // a swapped emit is rejected by strict validators
    val df = Seq((1L, "n", 10.0, 20.0)).toDF("id", "name", "x", "y")
    val gdf0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val gdf = gdf0.copy(df = gdf0.df.drop("x", "y"))
    val dir = java.nio.file.Files.createTempDirectory("kmlord").toString
    Kml.write(gdf, s"$dir/o.kml")
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/o.kml")), "UTF-8")
    val marks = Seq("<Document>", "<Schema ", "<Placemark>", "<ExtendedData>",
      "<SchemaData ", "<Point>", "<coordinates>")
    val pos = marks.map { m => val i = xml.indexOf(m); assert(i >= 0, s"missing $m"); i }
    assert(pos == pos.sorted, s"KML child order violated: ${marks.zip(pos)}")
    // geometry is the LAST child of the Placemark: nothing between </Point>
    // and </Placemark>
    assert(xml.indexOf("</Point></Placemark>") >= 0)
  }

  test("all geometry families roundtrip through KML") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))")
    val df = wkts.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_geomfromwkt(col("wkt"))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("kmlg").toString
    Kml.write(gdf, s"$dir/g.kml")
    val back = Kml.read(spark, s"$dir/g.kml").df
      .select(col("id"), st_astext(col("geometry")).as("wkt"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)
    wkts.zip(back).foreach { case (orig, got) =>
      val a = Wkb.readWkt(orig); val b = Wkb.readWkt(got)
      assert(a.equalsExact(b), s"$orig != $got")
    }
  }

  test("3D coordinates and nulls survive") {
    val df = Seq((1L, Some("POINT Z (1 2 3)")), (2L, None)).toDF("id", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry",
      when(col("wkt").isNotNull, st_geomfromwkt(col("wkt"))).otherwise(lit(null))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("kmlz").toString
    Kml.write(gdf, s"$dir/z.kml")
    val back = Kml.read(spark, s"$dir/z.kml").df.orderBy("id")
    val g1 = back.filter(col("id") === 1).select(st_astext(col("geometry"))).as[String].head()
    assert(g1.contains("1 2 3"))
    assert(back.filter(col("id") === 2).select(col("geometry").isNull).as[Boolean].head())
  }

  test("reads hand-written KML with Data/value pairs and no Schema") {
    val dir = java.nio.file.Files.createTempDirectory("kmlh").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
        |<Placemark><name>first</name>
        |  <ExtendedData><Data name="kind"><value>a</value></Data></ExtendedData>
        |  <Point><coordinates>4.5,52.1</coordinates></Point></Placemark>
        |<Placemark><name>second</name>
        |  <ExtendedData><Data name="kind"><value>b</value></Data></ExtendedData>
        |  <Point><coordinates>5.5,53.1</coordinates></Point></Placemark>
        |</Document></kml>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/h.kml"), xml.getBytes("UTF-8"))
    val g = Kml.read(spark, s"$dir/h.kml")
    assert(g.df.count() == 2)
    assert(g.df.columns.toSet == Set("name", "kind", "geometry"))
    val first = g.df.filter(col("name") === "first")
      .select(col("kind"), st_x(col("geometry"))).as[(String, Double)].head()
    assert(first == ("a", 4.5))
  }

  test("bbox/columns/rows/where args and GeoIO dispatch") {
    val df = Seq((1L, "a", 1.0, 1.0), (2L, "b", 50.0, 50.0), (3L, "a", 2.0, 2.0))
      .toDF("id", "kind", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("kmlargs").toString
    GeoIO.toFile(g0.copy(df = g0.df.drop("x", "y")), s"$dir/a.kml")
    val filtered = GeoIO.readFile(spark, s"$dir/a.kml",
      bbox = Some((0.0, 0.0, 10.0, 10.0)), columns = Some(Seq("id")),
      where = Some("kind = 'a'"))
    assert(filtered.df.columns.toSet == Set("id", "geometry"))
    assert(filtered.df.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("distributed writePartitioned emits valid per-partition documents") {
    val df = (1 to 40).map(i => (i.toLong, i * 1.0, i * 2.0)).toDF("id", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df.repartition(3), "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("kmlpart").toString
    Kml.writePartitioned(g0.copy(df = g0.df.drop("x", "y")), s"$dir/parts")
    val back = Kml.read(spark, s"$dir/parts/*.kml")
    assert(back.df.count() == 40)
    assert(back.df.agg(sum("id")).as[Long].head() == (1 to 40).map(_.toLong).sum)
  }
}
