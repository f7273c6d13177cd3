package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.io.GeoJsonIO
import graft.streaming.StreamingGeo
import org.apache.spark.sql.functions._

class GeoJsonIOSpec extends SparkSuite {
  import spark.implicits._

  test("ndjson feature write/read roundtrip with properties") {
    val df = Seq((1L, "alpha", 1.5, 2.5), (2L, "beta", 3.0, 4.0)).toDF("id", "name", "x", "y")
    val gdf = GeoDataFrame.pointsFromXy(df, "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gj").toString
    GeoJsonIO.write(gdf, s"$dir/f")
    val back = GeoJsonIO.read(spark, s"$dir/f")
    assert(back.count() == 2)
    assert(back.df.columns.toSet.contains("name"))
    val xs = back.df.select(st_x(col("geometry"))).as[Double].collect().sorted
    assert(xs.toSeq == Seq(1.5, 3.0))
  }

  test("geojson read with bbox/columns/rows args") {
    val df = Seq((1L, "a", 1.0, 1.0), (2L, "b", 50.0, 50.0), (3L, "c", 2.0, 2.0))
      .toDF("id", "name", "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gjargs").toString
    GeoJsonIO.write(GeoDataFrame.pointsFromXy(df, "x", "y"), s"$dir/f")
    val filtered = GeoJsonIO.read(spark, s"$dir/f", bbox = Some((0.0, 0.0, 10.0, 10.0)),
      columns = Some(Seq("id")))
    assert(filtered.df.columns.toSet == Set("id", "geometry"))
    assert(filtered.df.select("id").as[Long].collect().toSet == Set(1L, 3L))
    assert(GeoJsonIO.read(spark, s"$dir/f", bbox = None, rows = Some(2)).df.count() == 2)
  }

  test("reads a FeatureCollection file") {
    val fc = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"a":1},"geometry":{"type":"Point","coordinates":[10,20]}},
      {"type":"Feature","properties":{"a":2},"geometry":{"type":"Point","coordinates":[30,40]}}]}"""
      .replace("\n", "")
    val dir = java.nio.file.Files.createTempDirectory("gjfc").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/fc.geojson"), fc)
    val back = GeoJsonIO.read(spark, s"$dir/fc.geojson")
    assert(back.count() == 2)
    assert(back.df.select(st_y(col("geometry"))).as[Double].collect().sorted.toSeq == Seq(20.0, 40.0))
  }

  test("FC sniff is depth-aware: property values never trip it") {
    // top-level FC (incl. out-of-order and pretty-printed) detected
    assert(GeoJsonIO.isFeatureCollectionHead("""{"type":"FeatureCollection","features":[]}"""))
    assert(GeoJsonIO.isFeatureCollectionHead("{ \n  \"name\": \"x\",\n  \"type\" : \"FeatureCollection\"}"))
    // an ndjson feature mentioning the string in a PROPERTY is not an FC
    assert(!GeoJsonIO.isFeatureCollectionHead(
      """{"type":"Feature","properties":{"note":"likes \"FeatureCollection\" docs","t":"FeatureCollection"},"geometry":{"type":"Point","coordinates":[1,2]}}"""))
    // a depth-1 VALUE that is the word "type" doesn't shadow the real key
    assert(!GeoJsonIO.isFeatureCollectionHead("""{"name":"type","type":"Feature"}"""))
    assert(!GeoJsonIO.isFeatureCollectionHead("""[1,2,3]"""))
    // ndjson whose first feature property contains it still reads as ndjson
    val lines = Seq(
      """{"type":"Feature","properties":{"a":"FeatureCollection"},"geometry":{"type":"Point","coordinates":[10,20]}}""",
      """{"type":"Feature","properties":{"a":"plain"},"geometry":{"type":"Point","coordinates":[30,40]}}""")
    val dir = java.nio.file.Files.createTempDirectory("gjsniff").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.geojson"), lines.mkString("\n"))
    val back = GeoJsonIO.read(spark, s"$dir/f.geojson")
    assert(back.count() == 2)
  }

  test("writeFeatureCollection exports one FC document our reader round-trips") {
    import graft.api.GeoDataFrame
    import graft.geom.{GeomOps, Wkb}
    val df = (0 until 300).map(i => (i.toLong, s"n$i", Wkb.write(GeomOps.point(i % 20, i / 20))))
      .toDF("id", "name", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("gjfcw").toString
    GeoJsonIO.writeFeatureCollection(GeoDataFrame(df), s"$dir/out.geojson")
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/out.geojson"))
    assert(txt.startsWith("""{"type":"FeatureCollection"""") && txt.trim.endsWith("]}"))
    val back = GeoJsonIO.read(spark, s"$dir/out.geojson")
    assert(back.count() == 300)
    assert(back.df.select(org.apache.spark.sql.functions.sum(st_x(col("geometry"))))
      .as[Double].head() == (0 until 300).map(_ % 20).sum.toDouble)
  }

  test("pretty-printed multi-file FeatureCollection reads distributed, matching ndjson") {
    // two pretty-printed FC documents (multi-line, nested braces/brackets,
    // escaped quotes and a decoy "features" string inside properties) — the
    // executor-side stream splitter must recover every feature from both
    // files, with NO whole-document driver collect
    def feature(i: Int): String =
      s"""    {
         |      "type": "Feature",
         |      "properties": {"id": $i, "tag": "a\\"[{b$i", "note": "features"},
         |      "geometry": {"type": "Point", "coordinates": [${i % 50}, ${i / 50}]}
         |    }""".stripMargin
    def fcDoc(ids: Range): String =
      s"""{
         |  "type": "FeatureCollection",
         |  "bbox": [0, 0, 50, 50],
         |  "crs": {"type": "name", "properties": {"name": "urn:ogc:def:crs:OGC:1.3:CRS84"}},
         |  "features": [
         |${ids.map(feature).mkString(",\n")}
         |  ]
         |}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("gjfc2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.geojson"), fcDoc(0 until 500))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.geojson"), fcDoc(500 until 1000))
    val back = GeoJsonIO.read(spark, dir)
    assert(back.df.rdd.getNumPartitions >= 2, "one task per FC file — distributed, not a driver loop")
    assert(back.count() == 1000)
    val ids = back.df.select(col("id").cast("long")).as[Long].collect().sorted.toSeq
    assert(ids == (0L until 1000L))
    // a decoy string survives unharmed and geometry decodes
    assert(back.df.filter(col("note") === "features").count() == 1000)
    assert(back.df.select(org.apache.spark.sql.functions.sum(st_x(col("geometry")))).as[Double].head()
      == (0 until 1000).map(_ % 50).sum.toDouble)
  }
}

class StreamingGeoSpec extends SparkSuite {
  import spark.implicits._

  test("streaming sjoin against static layer (memory sink, rate-like source)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext

    val cells = GeoDataFrame(Seq(
      ("west", Wkb.write(GeomOps.makeBox(0, 0, 50, 100))),
      ("east", Wkb.write(GeomOps.makeBox(50, 0, 100, 100)))).toDF("cell", "geometry"))

    val input = MemoryStream[(Long, Double, Double)]
    val stream = input.toDF().toDF("id", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y")))
    val joined = StreamingGeo.sjoinAgainstStatic(stream, cells)

    // data must be queued BEFORE start: AvailableNow snapshots the offsets
    // available at query start, so a later addData races query termination
    input.addData((1L, 10.0, 10.0), (2L, 80.0, 10.0), (3L, 200.0, 10.0))
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.sql("select id, cell from sj_out").as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "west"), (2L, "east")))
  }

  test("sjoinAgainstStatic refuses an over-threshold static layer (no driver OOM)") {
    val big = GeoDataFrame((0 until 100).map(i =>
      (i, Wkb.write(GeomOps.makeBox(i, 0, i + 1, 1)))).toDF("id", "geometry"))
    val stream = spark.readStream.format("rate").load()
      .withColumn("geometry", st_point(col("value").cast("double"), lit(0.5)))
    val e = intercept[IllegalArgumentException] {
      StreamingGeo.sjoinAgainstStatic(stream, big, broadcastThreshold = 10L)
    }
    assert(e.getMessage.contains("broadcastThreshold"))
  }
}
