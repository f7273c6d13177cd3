package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.io.{CsvWkt, GeoIO}
import org.apache.spark.sql.functions._

class CsvWktSpec extends SparkSuite {
  import spark.implicits._

  test("single-file WKT roundtrip keeps attributes, quoting, and geometry") {
    val df = Seq(
      (1L, "plain", 1.5, 2.5),
      (2L, "comma, quoted \"x\"", 3.0, 4.0),
      (3L, "beta", -10.25, 0.0)).toDF("id", "name", "x", "y")
    val gdf = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("csvwkt").toString
    CsvWkt.write(gdf.copy(df = gdf.df.drop("x", "y")), s"$dir/pts.csv")
    val back = CsvWkt.read(spark, s"$dir/pts.csv")
    assert(back.df.columns.toSet == Set("id", "name", "geometry"))
    val rows = back.df.select(col("id"), col("name"),
      st_x(col("geometry")), st_y(col("geometry")))
      .as[(Long, String, Double, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "plain", 1.5, 2.5),
      (2L, "comma, quoted \"x\"", 3.0, 4.0),
      (3L, "beta", -10.25, 0.0)))
  }

  test("x/y column-pair detection and bbox/columns/rows/where args") {
    val dir = java.nio.file.Files.createTempDirectory("csvxy").toString
    val f = new java.io.PrintWriter(s"$dir/t.csv")
    f.println("id,lon,lat,kind"); f.println("1,1.0,1.0,a")
    f.println("2,50.0,50.0,b"); f.println("3,2.0,2.0,a"); f.close()
    val g = CsvWkt.read(spark, s"$dir/t.csv", bbox = Some((0.0, 0.0, 10.0, 10.0)),
      columns = Some(Seq("id")), where = Some("kind = 'a'"))
    assert(g.df.columns.toSet == Set("id", "geometry"))
    assert(g.df.select("id").as[Int].collect().toSet == Set(1, 3))
    assert(CsvWkt.read(spark, s"$dir/t.csv", rows = Some(2)).df.count() == 2)
  }

  test("distributed writePartitioned reads back whole") {
    val df = (1 to 100).map(i => (i.toLong, i * 1.0, i * 2.0)).toDF("id", "x", "y")
    val gdf = GeoDataFrame.pointsFromXy(df.repartition(4), "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("csvpart").toString
    CsvWkt.writePartitioned(gdf.copy(df = gdf.df.drop("x", "y")), s"$dir/parts")
    // spark.read.csv over the directory of parts
    val back = CsvWkt.read(spark, s"$dir/parts/*.csv")
    assert(back.df.count() == 100)
    assert(back.df.agg(sum(st_x(col("geometry")))).as[Double].head() == (1 to 100).map(_.toDouble).sum)
  }

  test("GeoIO dispatches .csv and errors without geometry candidates") {
    val dir = java.nio.file.Files.createTempDirectory("csvdisp").toString
    val df = Seq((1L, "a", 5.0, 6.0)).toDF("id", "name", "x", "y")
    val gdf = GeoDataFrame.pointsFromXy(df, "x", "y")
    GeoIO.toFile(gdf.copy(df = gdf.df.drop("x", "y")), s"$dir/d.csv")
    assert(GeoIO.readFile(spark, s"$dir/d.csv").df.count() == 1)
    val f = new java.io.PrintWriter(s"$dir/nogeom.csv")
    f.println("id,name"); f.println("1,a"); f.close()
    val e = intercept[IllegalArgumentException](CsvWkt.read(spark, s"$dir/nogeom.csv"))
    assert(e.getMessage.contains("geometryColumn"))
  }
}
