package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.io._
import org.apache.spark.sql.functions._

/** Measured (XYZM) geometries only became representable in the geometry
  * column in round 10 — `Wkb.write` previously dropped M on the first
  * write, so no format writer had ever actually received one. These tests
  * pin each family's behavior now that M can arrive there:
  *
  *  - WKB-carrying containers (GeoParquet, Feather, GPKG) round-trip M
  *    verbatim (the geometry payload IS our WKB);
  *  - WKT text (CSV-WKT) round-trips via the 4-dim WKT writer/reader;
  *  - FlatGeobuf round-trips full XYZM via the spec's per-coordinate z/m
  *    vectors (feature.fbs slots 2/3, header has_z/has_m);
  *  - Shapefile round-trips M through the Z-shape record's optional
  *    measure band (XYZM) and the M shape types 21/23/25/28 (XYM);
  *  - XML tuple formats (KML/GML/GPX) have no M slot: they must keep
  *    XY(Z) and drop M without corrupting the file or throwing.
  *
  * Reference semantics: GeoPandas carries M wherever shapely/GEOS does and
  * its OGR writers degrade exactly like this (ref `base.py:843` has_m;
  * `io/file.py:614` to_file delegating dimension handling to each driver).
  */
class ZmFormatsSpec extends SparkSuite {
  import spark.implicits._

  private val pointZm = "POINT ZM (1 2 3 4)"
  private val lineZm = "LINESTRING ZM (0 0 1 2, 5 6 7 8)"
  // JTS WKTWriter spells the dimension tag without a following space
  private val pointZmOut = "POINT ZM(1 2 3 4)"
  private val lineZmOut = "LINESTRING ZM(0 0 1 2, 5 6 7 8)"

  private def gdf(wkts: (Long, String)*): GeoDataFrame = {
    val g = GeoDataFrame.fromWkt(wkts.toSeq.toDF("id", "wkt"), "wkt")
    g.copy(df = g.df.drop("wkt"))
  }

  // id arrives as int (CSV inference), long, or string (GPX extensions)
  private def probe(g: GeoDataFrame): Map[Long, (Boolean, String)] =
    g.df.select(col("id"), st_has_m(col("geometry")), st_astext(col("geometry")))
      .collect().map { r =>
        val id = r.get(0) match {
          case n: Number => n.longValue()
          case s: String => s.trim.toLong
        }
        id -> (r.getBoolean(1), r.getString(2))
      }.toMap

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"zm$tag").toString

  test("WKB containers round-trip M: GeoParquet, Feather, GPKG") {
    val g = gdf(1L -> pointZm, 2L -> lineZm)

    val d1 = tmp("gpq")
    GeoParquet.write(g, s"$d1/t.parquet")
    val p1 = probe(GeoParquet.read(spark, s"$d1/t.parquet"))
    assert(p1(1L) == (true, pointZmOut) && p1(2L) == (true, lineZmOut))

    val d2 = tmp("fea")
    Feather.write(g, s"$d2/t.feather")
    val p2 = probe(Feather.read(spark, s"$d2/t.feather"))
    assert(p2(1L) == (true, pointZmOut) && p2(2L) == (true, lineZmOut))

    val d3 = tmp("gpkg")
    Gpkg.write(g, s"$d3/t.gpkg")
    val p3 = probe(Gpkg.read(spark, s"$d3/t.gpkg"))
    assert(p3(1L) == (true, pointZmOut) && p3(2L) == (true, lineZmOut))
  }

  test("XYM without Z survives the column codec (was: first write threw)") {
    // WKBWriter(4) hardcodes M at ordinate index 3, but an XYM sequence is
    // dimension 3 with M at index 2 — POINT M crashed on the very first
    // Wkb.write until the ordinate-restricted writerM path
    val g = gdf(1L -> "POINT M (1 2 9)", 2L -> "LINESTRING M (0 0 5, 3 4 6)")
    val p = probe(g)
    assert(p(1L) == (true, "POINT M(1 2 9)"))
    assert(p(2L) == (true, "LINESTRING M(0 0 5, 3 4 6)"))

    val d = tmp("gpqm")
    GeoParquet.write(g, s"$d/t.parquet")
    val p1 = probe(GeoParquet.read(spark, s"$d/t.parquet"))
    assert(p1(1L) == (true, "POINT M(1 2 9)"))
    assert(p1(2L) == (true, "LINESTRING M(0 0 5, 3 4 6)"))
  }

  test("WKT text (CSV) round-trips M through the 4-dim writer") {
    val g = gdf(1L -> pointZm, 2L -> lineZm)
    val d = tmp("csv")
    CsvWkt.write(g, s"$d/t.csv")
    val p = probe(CsvWkt.read(spark, s"$d/t.csv"))
    assert(p(1L) == (true, pointZmOut) && p(2L) == (true, lineZmOut))
  }

  test("Shapefile round-trips M: Z-shape measure band (ZM) and M shape types (XYM)") {
    val d1 = tmp("shpzm")
    Shapefile.write(gdf(1L -> pointZm), s"$d1/t.shp")
    val p1 = probe(Shapefile.read(spark, s"$d1/t.shp"))
    assert(p1(1L) == (true, pointZmOut))

    val d2 = tmp("shpzml")
    Shapefile.write(gdf(1L -> lineZm), s"$d2/t.shp")
    val p2 = probe(Shapefile.read(spark, s"$d2/t.shp"))
    assert(p2(1L) == (true, lineZmOut))

    val d3 = tmp("shpm")
    Shapefile.write(gdf(1L -> "POINT M (1 2 9)"), s"$d3/t.shp")
    val p3 = probe(Shapefile.read(spark, s"$d3/t.shp"))
    assert(p3(1L) == (true, "POINT M(1 2 9)"))

    val d4 = tmp("shpml")
    Shapefile.write(gdf(1L -> "LINESTRING M (0 0 5, 3 4 6)"), s"$d4/t.shp")
    val p4 = probe(Shapefile.read(spark, s"$d4/t.shp"))
    assert(p4(1L) == (true, "LINESTRING M(0 0 5, 3 4 6)"))

    // polygon through the ring-orientation path, ZM and M forms
    val polyZm = "POLYGON ZM ((0 0 1 5, 4 0 2 6, 4 4 3 7, 0 4 4 8, 0 0 1 5))"
    val d5 = tmp("shppoly")
    Shapefile.write(gdf(1L -> polyZm), s"$d5/t.shp")
    val p5 = probe(Shapefile.read(spark, s"$d5/t.shp"))
    assert(p5(1L)._1 && p5(1L)._2.startsWith("POLYGON ZM"))
  }

  test("XML tuple formats keep XY(Z), drop M, and stay readable") {
    val g = gdf(1L -> pointZm)

    val d2 = tmp("kml")
    Kml.write(g, s"$d2/t.kml")
    val p2 = probe(Kml.read(spark, s"$d2/t.kml"))
    assert(!p2(1L)._1 && p2(1L)._2.startsWith("POINT Z(1 2 3"))

    val d3 = tmp("gml")
    Gml.write(g, s"$d3/t.gml")
    val p3 = probe(Gml.read(spark, s"$d3/t.gml"))
    assert(!p3(1L)._1 && p3(1L)._2.startsWith("POINT Z(1 2 3"))

    val d4 = tmp("gpx")
    Gpx.write(g, s"$d4/t.gpx")
    val p4 = probe(Gpx.read(spark, s"$d4/t.gpx"))
    assert(!p4(1L)._1 && p4(1L)._2.startsWith("POINT Z(1 2 3"))
  }

  test("FlatGeobuf round-trips full XYZM through the spec z and m vectors") {
    val g = gdf(1L -> pointZm, 2L -> lineZm)
    val d = tmp("fgbm")
    FlatGeobuf.write(g, s"$d/t.fgb")
    val p = probe(FlatGeobuf.read(spark, s"$d/t.fgb"))
    assert(p(1L) == (true, pointZmOut) && p(2L) == (true, lineZmOut))

    // XYM without Z: m vector alone, no 2.5D promotion on read-back
    val gm = gdf(1L -> "POINT M (1 2 9)")
    val d2 = tmp("fgbxym")
    FlatGeobuf.write(gm, s"$d2/t.fgb")
    val pm = probe(FlatGeobuf.read(spark, s"$d2/t.fgb"))
    assert(pm(1L) == (true, "POINT M(1 2 9)"))
  }
}
