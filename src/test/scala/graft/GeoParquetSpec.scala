package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.io.GeoParquet
import org.apache.spark.sql.functions._

class GeoParquetSpec extends SparkSuite {
  import spark.implicits._

  private def sample = {
    val df = (0 until 1000).map { i => (i.toLong, (i % 100).toDouble, (i / 100).toDouble) }
      .toDF("id", "x", "y")
    GeoDataFrame.pointsFromXy(df, "x", "y", crs = Some("EPSG:4326"))
  }

  test("write/read roundtrip restores geometry, CRS and metadata") {
    val dir = java.nio.file.Files.createTempDirectory("gpq").toString
    GeoParquet.write(sample, s"$dir/pts")
    val back = GeoParquet.read(spark, s"$dir/pts")
    assert(back.geometryCol == "geometry")
    assert(back.activeCrs.contains("EPSG:4326"))
    assert(back.count() == 1000)
    assert(back.df.columns.contains("bbox"))
    val (x0, y0, x1, y1) = back.totalBounds
    assert((x0, y0, x1, y1) == (0.0, 0.0, 99.0, 9.0))
  }

  test("bbox read prunes + refines exactly") {
    val dir = java.nio.file.Files.createTempDirectory("gpq").toString
    GeoParquet.write(sample, s"$dir/pts", spatialSort = true, numPartitions = Some(4))
    val sub = GeoParquet.readBbox(spark, s"$dir/pts", 10, 2, 20, 5)
    // points with x in [10,20], y in [2,5]: 11 * 4
    assert(sub.count() == 44)
    // the bbox predicate reaches the parquet scan (pushed filters visible)
    val plan = sub.df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bbox"))
  }

  test("write without covering bbox still reads back") {
    val dir = java.nio.file.Files.createTempDirectory("gpq").toString
    GeoParquet.write(sample, s"$dir/pts", coveringBbox = false)
    val back = GeoParquet.read(spark, s"$dir/pts")
    assert(!back.df.columns.contains("bbox"))
    assert(GeoParquet.readBbox(spark, s"$dir/pts", 10, 2, 20, 5).count() == 44)
  }

  test("footerMetadata embeds the spec geo key; read works without the sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("gpq_footer").toString
    GeoParquet.write(sample, s"$dir/pts", footerMetadata = true)
    // drop the sidecar to force the footer branch
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/pts/_geo_metadata.json"), false)
    val back = GeoParquet.read(spark, s"$dir/pts")
    assert(back.geometryCol == "geometry")
    assert(back.activeCrs.contains("EPSG:4326"))
    assert(back.count() == 1000)
    // data intact after the footer rewrite
    val xs = back.df.select(sum(st_x(col("geometry")))).as[Double].head()
    assert(xs == (0 until 1000).map(_ % 100).sum.toDouble)
    // an external parquet reader sees the geo key in every file footer
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/pts"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, spark.sparkContext.hadoopConfiguration))
    val kv = rd.getFooter.getFileMetaData.getKeyValueMetaData
    rd.close()
    assert(kv.containsKey("geo") && kv.get("geo").contains("\"primary_column\""))
  }

  test("reads pyarrow-written geoarrow-encoded GeoParquet (point + multipolygon)") {
    // GeoParquet 1.1 geometry_encoding="geoarrow": nested native columns,
    // not WKB — written here by pyarrow, decoded by our reader
    val pts = graft.io.GeoParquet.read(spark,
      getClass.getResource("/fixtures/geoarrow_points.parquet").getPath)
    assert(pts.activeCrs.contains("EPSG:4326"))
    assert(pts.df.count() == 150)
    val r = pts.df.filter(col("id") === 37L)
      .select(st_x(col("geometry")), st_y(col("geometry"))).as[(Double, Double)].head()
    assert(r == ((12.0, 1.0)))

    val mp = graft.io.GeoParquet.read(spark,
      getClass.getResource("/fixtures/geoarrow_multipolygons.parquet").getPath)
    val areas = mp.df.select(col("id"), st_area(col("geometry"))).as[(Long, Double)]
      .collect().toMap
    assert(areas(1L) == 16.0 - 1.0 + 4.0) // square minus hole + second square
    assert(areas(2L) == 1.0)
    val kinds = mp.df.select(st_geometrytype(col("geometry"))).distinct().as[String].collect().toSet
    assert(kinds == Set("MultiPolygon"))
  }

  test("write(geometryEncoding=geoarrow) round-trips and is pyarrow-compatible nested parquet") {
    import graft.api.GeoDataFrame
    val df = (0 until 200).map(i => (i.toLong, Wkb.write(GeomOps.point(i % 10, i / 10))))
      .toDF("id", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("gpq_ga").toString
    graft.io.GeoParquet.write(GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326")),
      s"$dir/pts", geometryEncoding = "geoarrow")
    // the stored column is a nested struct, not binary
    val raw = spark.read.parquet(s"$dir/pts")
    assert(raw.schema("geometry").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val back = graft.io.GeoParquet.read(spark, s"$dir/pts")
    assert(back.df.count() == 200)
    assert(back.df.select(org.apache.spark.sql.functions.sum(st_x(col("geometry"))))
      .as[Double].head() == (0 until 200).map(_ % 10).sum.toDouble)
    // mixed-type frames refuse geoarrow (spec requires one type)
    val mixed = GeoDataFrame(Seq(
      (1L, Wkb.write(GeomOps.point(0, 0))),
      (2L, Wkb.write(GeomOps.makeBox(0, 0, 1, 1)))).toDF("id", "geometry"))
    intercept[IllegalArgumentException](
      graft.io.GeoParquet.write(mixed, s"$dir/mx", geometryEncoding = "geoarrow"))
  }
}
