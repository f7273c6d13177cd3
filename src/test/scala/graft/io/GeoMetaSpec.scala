package graft.io

import graft.SparkSuite
import graft.api.GeoDataFrame

/** Dimension metadata the containers declare alongside the payload:
  * gpkg_geometry_columns z/m flags and GeoParquet geometry_types " Z"
  * suffixes. External conformance readers trust these over the blobs, so a
  * ZM payload under z=0/m=0 (what we wrote before round 10) is a spec
  * violation even though our own reader ignored the flags. */
class GeoMetaSpec extends SparkSuite {
  import spark.implicits._

  private def gdf(wkts: (Long, String)*): GeoDataFrame = {
    val g = GeoDataFrame.fromWkt(wkts.toSeq.toDF("id", "wkt"), "wkt")
    g.copy(df = g.df.drop("wkt"))
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"meta$tag").toString

  private def gpkgDimFlags(path: String): (Long, Long) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val src = new Sqlite.ArraySource(bytes)
    val root = Sqlite.master(src)
      .find(r => r.kind == "table" && r.name == "gpkg_geometry_columns").get.rootPage
    val r = Sqlite.tableRows(src, root).next()._2
    def l(v: Any): Long = v match { case n: java.lang.Long => n.longValue(); case _ => -1L }
    (l(r(4)), l(r(5)))
  }

  test("gpkg_geometry_columns z/m flags reflect the written dimensions") {
    val d1 = tmp("gpkg2d")
    Gpkg.write(gdf(1L -> "POINT (1 2)"), s"$d1/t.gpkg")
    assert(gpkgDimFlags(s"$d1/t.gpkg") == ((0L, 0L)))

    val d2 = tmp("gpkgz")
    Gpkg.write(gdf(1L -> "POINT Z (1 2 3)"), s"$d2/t.gpkg")
    assert(gpkgDimFlags(s"$d2/t.gpkg") == ((1L, 0L)))

    val d3 = tmp("gpkgzm")
    Gpkg.write(gdf(1L -> "POINT ZM (1 2 3 4)"), s"$d3/t.gpkg")
    assert(gpkgDimFlags(s"$d3/t.gpkg") == ((1L, 1L)))

    // mixed 2D/3D → optional (2)
    val d4 = tmp("gpkgmix")
    Gpkg.write(gdf(1L -> "POINT (1 2)", 2L -> "POINT Z (1 2 3)"), s"$d4/t.gpkg")
    assert(gpkgDimFlags(s"$d4/t.gpkg") == ((2L, 0L)))
  }

  test("GeoParquet geometry_types carry the spec ' Z' suffix for 3D") {
    def metaOf(dir: String): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/t.parquet/_geo_metadata.json")), "UTF-8")

    val d1 = tmp("gpq2d")
    GeoParquet.write(gdf(1L -> "POINT (1 2)"), s"$d1/t.parquet")
    assert(metaOf(d1).contains("\"geometry_types\": [\"Point\"]"))

    val d2 = tmp("gpqz")
    GeoParquet.write(gdf(1L -> "POINT Z (1 2 3)"), s"$d2/t.parquet")
    assert(metaOf(d2).contains("\"geometry_types\": [\"Point Z\"]"))

    val d3 = tmp("gpqmix")
    GeoParquet.write(gdf(1L -> "POINT (1 2)", 2L -> "LINESTRING Z (0 0 1, 1 1 2)"),
      s"$d3/t.parquet")
    assert(metaOf(d3).contains("\"geometry_types\": [\"LineString Z\", \"Point\"]"))
  }
}
