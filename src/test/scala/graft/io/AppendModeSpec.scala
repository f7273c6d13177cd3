package graft.io

import graft.SparkSuite
import graft.api.GeoDataFrame
import graft.geom.GeomOps
import org.apache.spark.sql.functions._

/** to_file append mode (reference `mode="a"`, io/file.py:614-794): GPKG
  * appends into the existing feature table with max-fid rowid continuation,
  * line-delimited GeoJSON appends part files, GeoParquet appends with
  * merged sidecar metadata; single-document exports raise loudly. */
class AppendModeSpec extends SparkSuite {
  import spark.implicits._

  private def pts(ids: Range): GeoDataFrame = {
    val df = ids.map(i => (i.toLong, s"n$i", graft.geom.Wkb.write(GeomOps.point(i, i * 2.0))))
      .toDF("key", "name", "geometry")
    GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))
  }

  test("GPKG append: fids continue from max, union reads back, rtree covers all rows") {
    val dir = java.nio.file.Files.createTempDirectory("appendgpkg").toString
    val out = s"$dir/a.gpkg"
    Gpkg.write(pts(1 to 10), out)
    Gpkg.append(pts(11 to 25), out)
    val back = Gpkg.read(spark, out)
    assert(back.df.count() == 25)
    // fids: 1..10 preserved, then 11..25 continuing from the stored max
    assert(back.df.select("fid").as[Long].collect().sorted.toSeq == (1L to 25L))
    val names = back.df.select("name").as[String].collect().toSet
    assert(names == (1 to 25).map(i => s"n$i").toSet)
    // the rebuilt rtree spans the union
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val src = new Sqlite.ArraySource(bytes)
    val ridRoot = Sqlite.master(src).find(_.name == "rtree_features_geometry_rowid").get.rootPage
    assert(Sqlite.tableRows(src, ridRoot).map(_._1).toSeq.sorted == (1L to 25L).toSeq)
    // append to a missing file creates it
    Gpkg.append(pts(1 to 3), s"$dir/fresh.gpkg")
    assert(Gpkg.read(spark, s"$dir/fresh.gpkg").df.count() == 3)
  }

  test("GPKG append: schema and CRS mismatches raise") {
    val dir = java.nio.file.Files.createTempDirectory("appendbad").toString
    val out = s"$dir/b.gpkg"
    Gpkg.write(pts(1 to 5), out)
    val extra = GeoDataFrame(
      Seq((1L, "x", 0.5, graft.geom.Wkb.write(GeomOps.point(0, 0))))
        .toDF("key", "name", "score", "geometry"),
      "geometry", Map("geometry" -> "EPSG:4326"))
    val e1 = intercept[IllegalArgumentException](Gpkg.append(extra, out))
    assert(e1.getMessage.contains("attribute columns"))
    val wrongCrs = GeoDataFrame(
      Seq((1L, "x", graft.geom.Wkb.write(GeomOps.point(0, 0)))).toDF("key", "name", "geometry"),
      "geometry", Map("geometry" -> "EPSG:3857"))
    val e2 = intercept[IllegalArgumentException](Gpkg.append(wrongCrs, out))
    assert(e2.getMessage.contains("CRS"))
  }

  test("GeoJSON-lines append adds part files; re-read is the union") {
    val dir = java.nio.file.Files.createTempDirectory("appendjson").toString
    val out = s"$dir/a.ndjson"
    GeoIO.toFile(pts(1 to 10), out)
    GeoIO.toFile(pts(11 to 20), out, mode = "a")
    val back = GeoJsonIO.read(spark, out)
    assert(back.df.count() == 20)
    assert(back.df.select("key").as[Long].collect().sorted.toSeq == (1L to 20L))
  }

  test("GeoParquet append merges sidecar bbox and geometry types") {
    val dir = java.nio.file.Files.createTempDirectory("appendgp").toString
    val out = s"$dir/gp"
    GeoIO.toFile(pts(1 to 10), out)
    GeoIO.toFile(pts(90 to 99), out, mode = "a")
    val back = GeoParquet.read(spark, out)
    assert(back.df.count() == 20)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_geo_metadata.json")), "UTF-8")
    // merged bbox must span BOTH batches: x from 1 to 99
    assert(meta.contains("\"bbox\": [1.0, 2.0, 99.0, 198.0]"), meta)
  }

  test("GeoParquet append refuses a covering-bbox layout mismatch") {
    val dir = java.nio.file.Files.createTempDirectory("appendmix").toString
    val out = s"$dir/gp"
    GeoParquet.write(pts(1 to 5), out) // coveringBbox = true
    val e = intercept[IllegalArgumentException](
      GeoParquet.write(pts(6 to 9), out, coveringBbox = false, mode = "append"))
    assert(e.getMessage.contains("coveringBbox"))
    // matching layout appends fine
    GeoParquet.write(pts(6 to 9), out, mode = "append")
    assert(GeoParquet.read(spark, out).df.count() == 9)
  }

  test("GPKG append onto a zero-row stored layer numbers fids from 1") {
    val dir = java.nio.file.Files.createTempDirectory("appendempty").toString
    val out = s"$dir/e.gpkg"
    Gpkg.write(GeoDataFrame(pts(1 to 5).df.limit(0), "geometry",
      Map("geometry" -> "EPSG:4326")), out)
    Gpkg.append(pts(1 to 4), out) // max(fid) over no rows is NULL -> 0
    val back = Gpkg.read(spark, out)
    assert(back.df.count() == 4)
    assert(back.df.select("fid").as[Long].collect().sorted.toSeq == (1L to 4L))
  }

  test("GeoParquet append refuses CRS and encoding mismatches") {
    val dir = java.nio.file.Files.createTempDirectory("appendcrs").toString
    val out = s"$dir/gp"
    GeoParquet.write(pts(1 to 5), out)
    // CRS mismatch: the rewritten sidecar would mislabel the stored rows
    val mercator = GeoDataFrame(pts(6 to 9).df, "geometry", Map("geometry" -> "EPSG:3857"))
    val e1 = intercept[IllegalArgumentException](
      GeoParquet.write(mercator, out, mode = "append"))
    assert(e1.getMessage.contains("CRS"), e1.getMessage)
    // encoding mismatch: geoarrow part files + WKB part files break reads
    val e2 = intercept[IllegalArgumentException](
      GeoParquet.write(pts(6 to 9), out, mode = "append", geometryEncoding = "geoarrow"))
    assert(e2.getMessage.contains("encoding"), e2.getMessage)
    // same CRS + encoding appends fine
    GeoParquet.write(pts(6 to 9), out, mode = "append")
    assert(GeoParquet.read(spark, out).df.count() == 9)
  }

  test("GeoParquet append onto metadata-less parquet derives stored bounds from data") {
    val dir = java.nio.file.Files.createTempDirectory("appendnometa").toString
    val out = s"$dir/gp"
    // externally-written plain parquet: WKB geometry, bbox column, NO sidecar
    val stored = pts(1 to 10)
    stored.df.withColumn("bbox", graft.functions.GeoFunctions.st_bounds(col("geometry")))
      .write.parquet(out)
    GeoParquet.write(pts(90 to 99), out, mode = "append")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_geo_metadata.json")), "UTF-8")
    // bbox must span the STORED rows too (x from 1), not just the new batch
    assert(meta.contains("\"bbox\": [1.0, 2.0, 99.0, 198.0]"), meta)
    assert(GeoParquet.read(spark, out).df.count() == 20)
    // metadata-less stored data without a usable WKB column refuses
    val out2 = s"$dir/gp2"
    pts(1 to 3).df.select(col("key"), col("name")).write.parquet(out2)
    val e = intercept[IllegalArgumentException](GeoParquet.write(pts(4 to 6), out2,
      coveringBbox = false, mode = "append"))
    assert(e.getMessage.contains("mislabeling"), e.getMessage)
  }

  test("append raises loudly for single-document formats") {
    val dir = java.nio.file.Files.createTempDirectory("appendno").toString
    for (ext <- Seq("shp", "fgb", "feather", "csv", "kml", "gml", "gpx", "mif")) {
      val e = intercept[UnsupportedOperationException](
        GeoIO.toFile(pts(1 to 3), s"$dir/x.$ext", mode = "a"))
      assert(e.getMessage.contains("append"), ext)
    }
    intercept[IllegalArgumentException](GeoIO.toFile(pts(1 to 3), s"$dir/x.gpkg", mode = "z"))
  }
}
