package graft

import graft.api.GeoDataFrame
import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import graft.join.{Clip, Overlay, SJoinNearest, SpatialJoin}
import org.apache.spark.sql.functions._

/** Null, empty and degenerate geometries through every major operator —
  * the failure modes a 100 TB corpus WILL contain (bad rows survive at
  * scale; operators must pass them through or drop them, never throw). */
class EdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private val nullG: Option[Array[Byte]] = None
  private def g(wkt: String): Option[Array[Byte]] = Some(Wkb.write(Wkb.readWkt(wkt)))

  // rows: normal point, null geometry, empty polygon, empty point
  private def dirty = Seq(
    (0, g("POINT (1 1)")),
    (1, nullG),
    (2, g("POLYGON EMPTY")),
    (3, g("POINT EMPTY"))).toDF("id", "geometry")

  private def polys = Seq((100, g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))).toDF("pid", "geometry")

  test("sjoin broadcast and grid tolerate null/empty geometries on both sides") {
    for (bt <- Seq(2000000L, -1L)) {
      val inner = SpatialJoin.sjoin(dirty, polys, "intersects", "inner", broadcastThreshold = bt)
      assert(inner.select("id").as[Int].collect().toSeq == Seq(0))
      val left = SpatialJoin.sjoin(dirty, polys, "intersects", "left", broadcastThreshold = bt)
      assert(left.count() == 4) // all dirty rows survive
      val dirtyBuild = SpatialJoin.sjoin(polys, dirty, "intersects", "inner", broadcastThreshold = bt)
      assert(dirtyBuild.select("id").as[Int].collect().toSeq == Seq(0))
    }
  }

  test("sjoin_nearest tolerates null/empty geometries") {
    val j = SJoinNearest.sjoinNearest(dirty, polys, how = "left", distanceCol = Some("d"))
    assert(j.count() == 4)
    val matched = j.filter(col("pid").isNotNull).select("id").as[Int].collect().toSet
    assert(matched.contains(0))
    assert(!matched.contains(1)) // null geometry cannot match
  }

  test("overlay tolerates empties; clip drops non-intersecting and null rows") {
    val ov = Overlay.overlay(
      dirty.filter(col("geometry").isNotNull).withColumnRenamed("id", "a"),
      polys.withColumnRenamed("pid", "b"), "intersection")
    assert(ov.count() == 0 || ov.select(st_isempty(col("geometry"))).as[Boolean].collect().forall(!_))
    val clipped = Clip.clipByRect(dirty, 0, 0, 5, 5)
    assert(clipped.select("id").as[Int].collect().toSeq == Seq(0))
  }

  test("aggregates: union/collect/intersection/total_bounds over null+empty input") {
    import graft.agg.GeoAggregates._
    val r = dirty.agg(
      st_union_agg(col("geometry")).as("u"),
      st_collect_agg(col("geometry")).as("c"),
      st_total_bounds_agg(col("geometry")).as("b")).head()
    assert(!r.isNullAt(0))
    assert(Wkb.read(r.getAs[Array[Byte]](0)).getGeometryType == "Point")
    val b = r.getStruct(2)
    assert(b.getDouble(0) == 1.0 && b.getDouble(1) == 1.0)
    // all-null group -> NaN bounds, null union
    val empty = Seq((1, nullG)).toDF("id", "geometry")
    val r2 = empty.agg(st_union_agg(col("geometry")).as("u"), st_total_bounds_agg(col("geometry")).as("b")).head()
    assert(r2.isNullAt(0))
    assert(r2.getStruct(1).getDouble(0).isNaN)
  }

  test("dissolve and explode over dirty input") {
    val d = GeoDataFrame(dirty.withColumn("k", col("id") % 2)).dissolve(by = Seq("k")).df
    assert(d.count() == 2)
    val e = GeoDataFrame(dirty.filter(col("geometry").isNotNull)).explodeParts().df
    assert(e.count() >= 1) // empties contribute no parts but don't throw
  }

  test("unary/binary st_ functions return null (not throw) for null input") {
    val out = dirty.select(
      st_area(col("geometry")).as("a"),
      st_centroid(col("geometry")).as("c"),
      st_buffer(col("geometry"), lit(1.0)).as("bf"),
      st_intersection(col("geometry"), col("geometry")).as("ix"),
      st_astext(col("geometry")).as("w")).collect()
    assert(out.length == 4)
    val nullRow = out(1)
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2) && nullRow.isNullAt(3) && nullRow.isNullAt(4))
  }

  test("GeoParquet round trip preserves null and empty geometries") {
    val dir = java.nio.file.Files.createTempDirectory("edge_gpq").toString
    graft.io.GeoParquet.write(GeoDataFrame(dirty), s"$dir/d", spatialSort = false)
    val back = graft.io.GeoParquet.read(spark, s"$dir/d").df
    assert(back.count() == 4)
    assert(back.filter(col("geometry").isNull).count() == 1)
    val empties = back.filter(col("geometry").isNotNull && st_isempty(col("geometry"))).count()
    assert(empties == 2)
  }

  test("Shapefile write/read maps null and empty geometries to Null shapes") {
    val dir = java.nio.file.Files.createTempDirectory("edge_shp").toString
    graft.io.Shapefile.write(GeoDataFrame(dirty), s"$dir/d.shp")
    val back = graft.io.Shapefile.read(spark, s"$dir/d.shp").df
    assert(back.count() == 4)
    // null + the two empties come back as null geometries (shapefile has no empty)
    assert(back.filter(col("geometry").isNull).count() == 3)
    assert(back.filter(col("geometry").isNotNull).select("id").as[Long].collect().toSeq == Seq(0L))
  }

  test("sampled grid stats: outlier far outside sampled bounds still joins (edge-cell clamp)") {
    // 120k clustered points engage the 2% sampling path; the outlier at
    // (1e6, 1e6) is almost surely outside the sampled bounds and must still
    // pair with its polygon via edge-cell clamping
    val rng = new scala.util.Random(3)
    val pts = spark.range(120000)
      .select(col("id"),
        (rand(5) * 100).as("x"), (rand(6) * 100).as("y"))
      .select(col("id"), st_point(col("x"), col("y")).as("geometry"))
      .unionByName(Seq((999999L, Wkb.write(GeomOps.point(1e6, 1e6)))).toDF("id", "geometry"))
    val polys = Seq(
      (1, Wkb.write(GeomOps.makeBox(999990.0, 999990.0, 1000010.0, 1000010.0))),
      (2, Wkb.write(GeomOps.makeBox(0.0, 0.0, 1.0, 1.0)))).toDF("pid", "geometry")
    val j = SpatialJoin.sjoin(pts, polys, "intersects", "inner", broadcastThreshold = -1)
    val outlierPairs = j.filter(col("id") === 999999L).select("pid").as[Int].collect().toSeq
    assert(outlierPairs == Seq(1))
  }

  test("degenerate grid join: all geometries at one point") {
    val same = (0 until 50).map(i => (i, Wkb.write(GeomOps.point(5, 5)))).toDF("id", "geometry")
    val j = SpatialJoin.sjoin(same, same.withColumnRenamed("id", "id2"), "intersects", "inner",
      broadcastThreshold = -1)
    assert(j.count() == 2500) // zero-extent grid must not divide by zero
  }

  test("minhash/simhash/embedding dedup tolerate null and short text") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, null: String),
      (4L, ""), (5L, "xy")).toDF("doc_id", "text")
    val mh = graft.ops.Dedup.minhashPairsFast(docs, "doc_id", "text", 3, 16, 4, 0.9)
    assert(mh.select("id_a", "id_b").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    val sh = graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", 3)
    assert(sh.select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((1L, 2L)))
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, null: Seq[Float]))
      .toDF("vec_id", "embedding")
    val ep = graft.ops.Dedup.embeddingPairs(vecs, "vec_id", "embedding", dim = 2, threshold = 0.95)
    assert(ep.select("id_a", "id_b").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }
}
