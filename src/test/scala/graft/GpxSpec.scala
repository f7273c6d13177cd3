package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.io.{GeoIO, Gpx}
import org.apache.spark.sql.functions._

class GpxSpec extends SparkSuite {
  import spark.implicits._

  test("waypoint roundtrip: known tags, extensions columns, elevation as Z") {
    val df = Seq(
      (1L, "summit", "a & <b>", 10.5, 20.25, Some(1234.5)),
      (2L, "camp", "plain", -30.0, 45.0, None)).toDF("id", "name", "note", "x", "y", "z")
    val geom = when(col("z").isNotNull, st_point_z(col("x"), col("y"), col("z")))
      .otherwise(st_point(col("x"), col("y")))
    val gdf = GeoDataFrame(df.withColumn("geometry", geom).drop("x", "y", "z"))
    val dir = java.nio.file.Files.createTempDirectory("gpx").toString
    Gpx.write(gdf, s"$dir/w.gpx")
    val back = Gpx.read(spark, s"$dir/w.gpx")
    assert(back.crs.get("geometry").contains("EPSG:4326"))
    val rows = back.df
      .select(col("id").cast("long"), col("name"), col("note"),
        st_x(col("geometry")), st_y(col("geometry")))
      .as[(Long, String, String, Double, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "summit", "a & <b>", 10.5, 20.25),
      (2L, "camp", "plain", -30.0, 45.0)))
    // elevation -> ele child -> Z ordinate and ele column
    val z1 = back.df.filter(col("id") === "1")
      .select(st_astext(col("geometry"))).as[String].head()
    assert(z1.contains("1234.5"))
  }

  test("GPX 1.1 child order is schema-pinned, independent of frame column order") {
    // rteType/trkType xsd sequence: name < cmt < desc < src < number < type,
    // all metadata and <extensions> BEFORE the first <rtept>/<trkseg>;
    // wptType: <ele> first, then time < name < desc. Columns are deliberately
    // in ANTI-schema order so a writer that leaks column order fails here.
    val df = Seq(
      (1L, "t", "d & x", "n", "LINESTRING (0 0, 1 1)"),
      (2L, "t2", "d2", "n2", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
      (3L, "t3", "d3", "n3", "POINT Z (5 6 77.5)"))
      .toDF("id", "type", "desc", "name", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_geomfromwkt(col("wkt"))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("gpxord").toString
    Gpx.write(gdf, s"$dir/o.gpx")
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/o.gpx")), "UTF-8")

    def inside(tag: String): String = {
      val s = xml.indexOf(s"<$tag>"); val e = xml.indexOf(s"</$tag>", s)
      assert(s >= 0 && e > s, s"missing <$tag> element"); xml.substring(s, e)
    }
    def ordered(scope: String, marks: String*): Unit = {
      val pos = marks.map { m => val i = scope.indexOf(m); assert(i >= 0, s"missing $m in $scope"); i }
      assert(pos == pos.sorted, s"order violated: ${marks.zip(pos)}")
    }
    // route: metadata in xsd order, extensions after them, rtept LAST
    ordered(inside("rte"), "<name>", "<desc>", "<type>", "<extensions>", "<rtept")
    // track: same prefix, trkseg last
    ordered(inside("trk"), "<name>", "<desc>", "<type>", "<extensions>", "<trkseg>")
    // waypoint: ele is the FIRST child, before any metadata
    val wpt = { val s = xml.indexOf("<wpt "); val e = xml.indexOf("</wpt>", s); xml.substring(s, e) }
    ordered(wpt, "<ele>", "<name>", "<desc>", "<type>", "<extensions>")
    // and the document still round-trips with every attribute intact
    val back = Gpx.read(spark, s"$dir/o.gpx", layer = Some("routes")).df
    assert(back.filter(col("name") === "n").select(col("desc")).as[String].head() == "d & x")
  }

  test("GDAL layer mapping: LineString→rte (routes), MultiLineString→trk (tracks)") {
    val wkts = Seq(
      (1L, "r1", "LINESTRING (0 0, 1 1, 2 0)"),
      (2L, "t2", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))"))
    val df = wkts.toDF("id", "name", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_geomfromwkt(col("wkt"))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("gpxt").toString
    Gpx.write(gdf, s"$dir/t.gpx")
    // LineStrings round-trip through the routes layer (GDAL writes them as rte)
    val routes = Gpx.read(spark, s"$dir/t.gpx", layer = Some("routes")).df
    assert(routes.count() == 1)
    val r1 = routes.filter(col("name") === "r1")
      .select(st_astext(col("geometry"))).as[String].head()
    assert(r1.startsWith("LINESTRING") && r1.contains("2 0"))
    val tracks = Gpx.read(spark, s"$dir/t.gpx", layer = Some("tracks")).df
    assert(tracks.count() == 1)
    val t2 = tracks.filter(col("name") === "t2")
      .select(st_astext(col("geometry"))).as[String].head()
    assert(t2.startsWith("MULTILINESTRING") && t2.contains("3 3"))
    // per-vertex layers with GDAL's fid/segment columns
    val pts = Gpx.read(spark, s"$dir/t.gpx", layer = Some("track_points")).df
    assert(pts.count() == 2 + 3)
    assert(pts.columns.toSet.intersect(
      Set("track_fid", "track_seg_id", "track_seg_point_id")).size == 3)
    val segs = pts.filter(col("track_fid") === 0)
      .select(col("track_seg_id").cast("int")).as[Int].collect().toSet
    assert(segs == Set(0, 1))
    val rpts = Gpx.read(spark, s"$dir/t.gpx", layer = Some("route_points")).df
    assert(rpts.count() == 3)
  }

  test("reads hand-written GPX with routes and route_points") {
    val dir = java.nio.file.Files.createTempDirectory("gpxr").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gpx version="1.1" creator="test" xmlns="http://www.topografix.com/GPX/1/1">
        |<wpt lat="52.1" lon="4.5"><ele>3.5</ele><name>home</name></wpt>
        |<rte><name>commute</name>
        |  <rtept lat="52.0" lon="4.0"/>
        |  <rtept lat="52.5" lon="4.2"><name>via</name></rtept>
        |  <rtept lat="53.0" lon="4.4"/>
        |</rte>
        |</gpx>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.gpx"), xml.getBytes("UTF-8"))
    val wpts = Gpx.read(spark, s"$dir/r.gpx").df
    assert(wpts.count() == 1)
    val w = wpts.select(col("name"), col("ele").cast("double"),
      st_x(col("geometry")), st_y(col("geometry"))).as[(String, Double, Double, Double)].head()
    assert(w == (("home", 3.5, 4.5, 52.1)))
    val routes = Gpx.read(spark, s"$dir/r.gpx", layer = Some("routes")).df
    assert(routes.count() == 1)
    val r = routes.select(col("name"), st_npoints(col("geometry"))).as[(String, Int)].head()
    assert(r == (("commute", 3)))
    val rpts = Gpx.read(spark, s"$dir/r.gpx", layer = Some("route_points")).df
    assert(rpts.count() == 3)
    assert(rpts.filter(col("route_point_id") === 1)
      .select(col("name")).as[String].head() == "via")
  }

  test("polygons are rejected with a clear message; layer args validated") {
    val df = Seq((1L, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")).toDF("id", "wkt")
    val gdf = GeoDataFrame(df.withColumn("geometry", st_geomfromwkt(col("wkt"))).drop("wkt"))
    val dir = java.nio.file.Files.createTempDirectory("gpxe").toString
    val ex = intercept[org.apache.spark.SparkException] {
      Gpx.write(gdf, s"$dir/bad.gpx")
    }
    assert(ex.getMessage != null)
    intercept[IllegalArgumentException] {
      Gpx.read(spark, s"$dir/whatever.gpx", layer = Some("nope"))
    }
  }

  test("GeoIO dispatch, list_layers, and distributed writePartitioned") {
    val df = (1 to 30).map(i => (i.toLong, i * 1.0, i * 2.0)).toDF("id", "x", "y")
    val g0 = GeoDataFrame.pointsFromXy(df.repartition(3), "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gpxp").toString
    Gpx.writePartitioned(g0.copy(df = g0.df.drop("x", "y")), s"$dir/parts")
    val back = GeoIO.readFile(spark, s"$dir/parts/*.gpx")
    assert(back.df.count() == 30)
    assert(back.df.select(col("id").cast("long")).as[Long].collect().sum ==
      (1 to 30).map(_.toLong).sum)
    val layers = GeoIO.listLayers(spark, s"$dir/parts/part-00000.gpx")
    assert(layers.map(_._1).toSet == Gpx.Layers.toSet)
  }
}
