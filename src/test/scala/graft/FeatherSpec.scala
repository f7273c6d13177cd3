package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.io.Feather
import org.apache.spark.sql.functions._

/** Feather V2 (Arrow IPC) round-trips with geo metadata (ref
  * `io/arrow.py:450/812`). */
class FeatherSpec extends SparkSuite {
  import spark.implicits._

  test("write/read round-trip: typed attributes, WKB geometry, CRS restored") {
    val df = (0 until 3000).map(i =>
      (i.toLong, s"row$i", i * 0.5, i % 3 == 0, Wkb.write(GeomOps.point(i % 100, i / 100))))
      .toDF("id", "tag", "score", "flag", "geometry")
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
    val dir = java.nio.file.Files.createTempDirectory("feather").toString
    Feather.write(gdf, s"$dir/pts.feather")
    val back = Feather.read(spark, s"$dir/pts.feather")
    assert(back.geometryCol == "geometry")
    assert(back.activeCrs.contains("EPSG:4326"))
    assert(back.df.count() == 3000)
    val r = back.df.filter(col("id") === 1234L)
      .select(col("tag"), col("score"), col("flag"), st_x(col("geometry")))
      .as[(String, Double, Boolean, Double)].head()
    assert(r == (("row1234", 617.0, false, 34.0)))
    // null geometry + null attribute survive
    val withNull = GeoDataFrame(
      Seq((1L, Some("a"), Option(Wkb.write(GeomOps.point(1, 2)))), (2L, None, None))
        .toDF("id", "tag", "geometry"))
    Feather.write(withNull, s"$dir/nulls.feather")
    val nb = Feather.read(spark, s"$dir/nulls.feather").df
    assert(nb.filter(col("geometry").isNull).select("id").as[Long].collect().toSeq == Seq(2L))
    assert(nb.filter(col("tag").isNull).count() == 1)
  }

  test("toArrow/fromArrow: in-process IPC bytes round-trip with geo metadata; file-image equivalence") {
    val df = (0 until 500).map(i =>
      (i.toLong, s"r$i", Wkb.write(GeomOps.point(i % 50, i / 50))))
      .toDF("id", "tag", "geometry")
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:3857"))
    val bytes = Feather.toArrow(gdf)
    val back = Feather.fromArrow(spark, bytes)
    assert(back.geometryCol == "geometry" && back.activeCrs.contains("EPSG:3857"))
    assert(back.df.count() == 500)
    val (tag, x) = back.df.filter(col("id") === 123L)
      .select(col("tag"), st_x(col("geometry"))).as[(String, Double)].head()
    assert(tag == "r123" && x == 23.0)
    // the IPC byte image IS a feather v2 file: dumped to disk it reads
    // through the file path identically
    val dir = java.nio.file.Files.createTempDirectory("toarrow").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.feather"), bytes)
    assert(Feather.read(spark, s"$dir/img.feather").df.count() == 500)
    // same over-cap guard as write
    intercept[IllegalArgumentException](Feather.toArrow(gdf, maxRows = 10))
  }

  test("Feather.write refuses an over-cap frame instead of collecting it") {
    val df = (0 until 50).map(i => (i.toLong, Wkb.write(GeomOps.point(i, i))))
      .toDF("key", "geometry")
    val out = java.nio.file.Files.createTempDirectory("feacap").toString + "/cap.feather"
    val e = intercept[IllegalArgumentException] {
      Feather.write(GeoDataFrame(df), out, maxRows = 10L)
    }
    assert(e.getMessage.contains("writePartitioned"))
  }

  test("writePartitioned: one file per partition, reads back as one corpus") {
    val df = (0 until 5000).map(i =>
      (i.toLong, s"row$i", Wkb.write(GeomOps.point(i % 100, i / 100))))
      .toDF("id", "tag", "geometry").repartition(7)
    val gdf = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
    val dir = java.nio.file.Files.createTempDirectory("featherpart").toString + "/out"
    Feather.writePartitioned(gdf, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".feather"))
    assert(parts.length == 7, s"expected 7 part files, got ${parts.length}")
    val back = Feather.read(spark, dir)
    assert(back.activeCrs.contains("EPSG:4326"))
    assert(back.df.count() == 5000)
    // row-set equality (order-free): same ids, and a spot row keeps its values
    assert(back.df.select("id").as[Long].collect().sorted.toSeq == (0L until 5000L))
    val r = back.df.filter(col("id") === 4321L)
      .select(col("tag"), st_x(col("geometry")), st_y(col("geometry")))
      .as[(String, Double, Double)].head()
    assert(r == (("row4321", 21.0, 43.0)))
    // each part file is independently a valid feather (readable on its own)
    val one = Feather.read(spark, parts.head.getPath)
    assert(one.df.count() > 0)
  }

  test("WKT-valued CRS (quotes galore) survives the geo metadata JSON") {
    val wktCrs = """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]]]"""
    val gdf = GeoDataFrame(
      Seq((1L, Wkb.write(GeomOps.point(1, 2)))).toDF("id", "geometry"),
      "geometry", Map("geometry" -> wktCrs))
    val dir = java.nio.file.Files.createTempDirectory("featherwkt").toString
    Feather.write(gdf, s"$dir/w.feather")
    val back = Feather.read(spark, s"$dir/w.feather")
    assert(back.activeCrs.contains(wktCrs), s"got ${back.activeCrs}")
  }

  test("reads a pyarrow-written feather file (external interop + geo metadata)") {
    val path = getClass.getResource("/fixtures/external.feather").getPath
    val gdf = Feather.read(spark, path)
    assert(gdf.df.count() == 200)
    assert(gdf.activeCrs.contains("EPSG:3857"))
    assert(gdf.df.columns.toSeq == Seq("id", "name", "value", "geometry"))
    val r = gdf.df.filter(col("id") === 42L)
      .select(col("name"), col("value"), st_x(col("geometry")), st_y(col("geometry")))
      .as[(String, Double, Double, Double)].head()
    assert(r == (("ext42", 10.5, 2.0, 2.0)))
  }

  test("directory of feather files reads as one frame; columns/mask args") {
    val dir = java.nio.file.Files.createTempDirectory("featherdir").toString
    def mk(ids: Range) = GeoDataFrame(
      ids.map(i => (i.toLong, s"r$i", Wkb.write(GeomOps.point(i % 50, i / 50))))
        .toDF("id", "tag", "geometry"),
      "geometry", Map("geometry" -> "EPSG:4326"))
    Feather.write(mk(0 until 500), s"$dir/a.feather")
    Feather.write(mk(500 until 1000), s"$dir/b.feather")
    val all = Feather.read(spark, dir)
    assert(all.df.count() == 1000)
    assert(all.df.select(col("id")).as[Long].collect().sorted.toSeq == (0L until 1000L))
    val pruned = Feather.read(spark, dir, columns = Some(Seq("id")))
    assert(pruned.df.columns.toSeq == Seq("id", "geometry"))
    val tri = Wkb.write(Wkb.factory.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(0, 0),
      new org.locationtech.jts.geom.Coordinate(20, 0),
      new org.locationtech.jts.geom.Coordinate(0, 20),
      new org.locationtech.jts.geom.Coordinate(0, 0))))
    val masked = Feather.read(spark, dir, mask = Some(tri)).df
      .select("id").as[Long].collect().toSet
    val posthoc = all.df.filter(st_intersects(col("geometry"), lit(tri)))
      .select("id").as[Long].collect().toSet
    assert(masked == posthoc && masked.nonEmpty)
  }
}
