package graft

import graft.api.GeoDataFrame
import graft.geom.{GeomOps, Wkb}
import graft.functions.GeoFunctions.st_astext
import graft.io.{FlatGeobuf, GeoIO, PackedRTree}
import org.apache.spark.sql.functions._

/** FlatGeobuf reader/writer conformance. The reader is validated against a
  * HAND-ASSEMBLED byte-level fixture (vtables and offsets computed by hand
  * from the public flatbuffers + flatgeobuf specs — independent of the
  * engine's own builder), then write→read round-trips cover attributes,
  * geometry families, CRS, the packed Hilbert R-tree bbox path, and the
  * distributed per-partition writer. */
class FlatGeobufSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_fgb").toString

  // ---- hand-assembled spec fixture ----------------------------------------

  /** One Point(3 4) feature, header {geometry_type=Point, features_count=1,
    * index_node_size=0}, no columns — every byte placed by hand. */
  private def handcraftedFgb(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    def f64(v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      u32((bits & 0xffffffffL).toInt); u32((bits >>> 32).toInt)
    }
    // magic: fgb\x03fgb\x00
    out.write(Array[Byte]('f', 'g', 'b', 3, 'f', 'g', 'b', 0))
    u32(60) // header length
    // header flatbuffer (60 bytes, offsets relative to its start):
    //  0: root = 16 (table)       16: soffset = -20 (vtable at 36)
    // 24: features_count i64 = 1  32: geometry_type u8 = 1 (Point)
    // 34: index_node_size u16 = 0 36: vtable [24, 20, f0..f9]
    u32(16); u32(0); u32(0); u32(0)        // root + padding
    u32(-20); u32(0)                        // soffset, pad
    u32(1); u32(0)                          // features_count = 1L
    out.write(1); out.write(0); u16(0)      // geometry_type, pad, index_node_size
    u16(24); u16(20)                        // vtable size, table size
    u16(0); u16(0); u16(16); u16(0); u16(0) // f0..f4 (f2 = geometry_type at +16)
    u16(0); u16(0); u16(0); u16(8); u16(18) // f5..f9 (f8 = count at +8, f9 = node size at +18)
    // feature: size-prefixed flatbuffer (64 bytes)
    //  0: root = 4 (Feature)       4: soffset = -8 (vtable at 12)
    //  8: geometry field -> +12 = 20 (Geometry table)
    // 12: vtable [6, 8, f0=4], pad to 20
    // 20: soffset = -8 (vtable at 28)
    // 24: xy field -> +20 = 44 (vector)
    // 28: vtable [8, 8, f0=0, f1=4], pad to 44
    // 44: count = 2; 48: 3.0; 56: 4.0
    u32(64)
    u32(4)
    u32(-8); u32(12)
    u16(6); u16(8); u16(4); u16(0)          // Feature vtable + pad
    u32(-8); u32(20)
    u16(8); u16(8); u16(0); u16(4)          // Geometry vtable
    u32(0); u32(0)                          // pad 36..44
    u32(2); f64(3.0); f64(4.0)
    out.toByteArray
  }

  test("reader decodes a hand-assembled spec fixture (bytes not produced by our writer)") {
    val dir = tmpDir()
    val f = s"$dir/hand.fgb"
    java.nio.file.Files.write(java.nio.file.Paths.get(f), handcraftedFgb())
    val gdf = FlatGeobuf.read(spark, f)
    val rows = gdf.df.collect()
    assert(rows.length == 1)
    val g = Wkb.read(rows(0).getAs[Array[Byte]](gdf.df.schema.fieldIndex("geometry")))
    assert(g.getGeometryType == "Point")
    assert((g.getCoordinate.x, g.getCoordinate.y) == ((3.0, 4.0)))
    assert(gdf.df.schema.fieldNames.toSeq == Seq("geometry"))
  }

  // ---- round trips ---------------------------------------------------------

  test("write→read round-trips attributes of every supported type incl. nulls") {
    val df = Seq(
      (1, 10L, 1.5, "alpha", true, Array[Byte](1, 2, 3), Wkb.write(GeomOps.point(1, 2))),
      (2, 20L, 2.5, null.asInstanceOf[String], false, null.asInstanceOf[Array[Byte]],
        Wkb.write(GeomOps.point(5, 6)))
    ).toDF("i", "l", "d", "s", "b", "bin", "geometry")
    val path = s"${tmpDir()}/attrs.fgb"
    FlatGeobuf.write(GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326")), path)
    val back = FlatGeobuf.read(spark, path)
    assert(back.activeCrs.contains("EPSG:4326"))
    val rows = back.df.orderBy("i").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Int]("i") == 1 && rows(0).getAs[Long]("l") == 10L)
    assert(rows(0).getAs[Double]("d") == 1.5 && rows(0).getAs[String]("s") == "alpha")
    assert(rows(0).getAs[Boolean]("b"))
    assert(rows(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
    assert(rows(1).isNullAt(rows(1).fieldIndex("s")) && rows(1).isNullAt(rows(1).fieldIndex("bin")))
    val g1 = Wkb.read(rows(1).getAs[Array[Byte]]("geometry"))
    assert((g1.getCoordinate.x, g1.getCoordinate.y) == ((5.0, 6.0)))
  }

  test("round-trips every geometry family incl. polygon holes and collections") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((0 0), (1 1))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (9 9), LINESTRING (0 0, 1 1))")
    val df = wkts.zipWithIndex.map { case (w, i) => (i, Wkb.write(Wkb.readWkt(w))) }
      .toDF("id", "geometry")
    val path = s"${tmpDir()}/geoms.fgb"
    FlatGeobuf.write(GeoDataFrame(df), path) // mixed types → header Unknown
    val back = FlatGeobuf.read(spark, path).df.orderBy("id").collect()
    assert(back.length == wkts.length)
    wkts.zipWithIndex.foreach { case (w, i) =>
      val g = Wkb.read(back(i).getAs[Array[Byte]]("geometry"))
      assert(g.equalsExact(Wkb.readWkt(w)), s"mismatch for $w: got ${Wkb.writeWkt(g)}")
    }
  }

  test("bbox read prunes through the packed Hilbert R-tree and stays exact") {
    val pts = (0 until 500).map { i =>
      val x = (i * 7 % 100).toDouble
      val y = (i * 13 % 100).toDouble
      (i, x, y, Wkb.write(GeomOps.point(x, y)))
    }.toDF("id", "x", "y", "geometry")
    val path = s"${tmpDir()}/pts.fgb"
    FlatGeobuf.write(GeoDataFrame(pts), path)
    val got = FlatGeobuf.read(spark, path, bbox = Some((10.0, 20.0, 40.0, 60.0)))
      .df.select("id").as[Int].collect().sorted
    val want = (0 until 500).filter { i =>
      val x = i * 7 % 100; val y = i * 13 % 100
      x >= 10 && x <= 40 && y >= 20 && y <= 60
    }
    assert(got.toSeq == want)
  }

  test("PackedRTree search returns exactly the intersecting leaves across levels") {
    // 200 items forces 3 tree levels at nodeSize 16
    val boxes = (0 until 200).map { i =>
      val x = (i % 20) * 10.0; val y = (i / 20) * 10.0
      (x, y, x + 5.0, y + 5.0)
    }.toArray
    val offsets = Array.tabulate(200)(i => i.toLong * 100)
    val idx = PackedRTree.build(boxes, offsets, 16)
    val hits = PackedRTree.search(idx, 0, 200, 16, 31.0, 31.0, 52.0, 52.0)
    val want = boxes.zipWithIndex.collect {
      case ((x0, y0, x1, y1), i) if !(52.0 < x0 || 52.0 < y0 || 31.0 > x1 || 31.0 > y1) =>
        i.toLong * 100
    }
    assert(hits.toSeq == want.toSeq.sorted)
    // no false negatives on a full-extent query
    assert(PackedRTree.search(idx, 0, 200, 16, 0, 0, 200, 100).length == 200)
  }

  test("writePartitioned emits one .fgb per partition; directory reads back whole") {
    val df = (0 until 300).map(i => (i, Wkb.write(GeomOps.point(i.toDouble, i.toDouble))))
      .toDF("id", "geometry").repartition(4)
    val dir = tmpDir()
    FlatGeobuf.writePartitioned(GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:3857")), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fgb"))
    assert(files.length == 4)
    val back = FlatGeobuf.read(spark, dir)
    assert(back.activeCrs.contains("EPSG:3857"))
    assert(back.df.select("id").as[Int].collect().sorted.toSeq == (0 until 300))
    // bbox read over the multi-file corpus also prunes per file
    val sub = FlatGeobuf.read(spark, dir, bbox = Some((100.0, 100.0, 150.0, 150.0)))
      .df.select("id").as[Int].collect().sorted
    assert(sub.toSeq == (100 to 150))
  }

  test("GeoIO dispatches .fgb for read_file/to_file, with columns/where pushdown args") {
    val df = Seq((1, "a", Wkb.write(GeomOps.point(0, 0))), (2, "b", Wkb.write(GeomOps.point(9, 9))))
      .toDF("id", "name", "geometry")
    val path = s"${tmpDir()}/disp.fgb"
    GeoIO.toFile(GeoDataFrame(df), path)
    val back = GeoIO.readFile(spark, path, columns = Some(Seq("id")), where = Some("id = 2"))
    assert(back.df.columns.toSeq == Seq("id", "geometry"))
    assert(back.df.select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("Z round-trips through the spec z vector for all linework shapes") {
    // round 10: the codec was XY-only; the geometry table's z slot (id 2)
    // now carries one double per coordinate, and the header sets has_z
    val df = Seq(
      (1L, "POINT Z (1 2 3)"),
      (2L, "LINESTRING Z (0 0 1, 4 0 5)"),
      (3L, "POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))"),
      (4L, "MULTILINESTRING Z ((0 0 7, 1 1 8), (2 2 9, 3 3 10))")).toDF("id", "wkt")
    val g0 = GeoDataFrame.fromWkt(df, "wkt")
    val dir = java.nio.file.Files.createTempDirectory("fgbz").toString
    FlatGeobuf.write(g0.copy(df = g0.df.drop("wkt")), s"$dir/z.fgb")
    val back = FlatGeobuf.read(spark, s"$dir/z.fgb")
    val w = back.df.select(col("id"), st_astext(col("geometry"))).as[(Long, String)]
      .collect().toMap
    assert(w(1L) == "POINT Z(1 2 3)")
    assert(w(2L) == "LINESTRING Z(0 0 1, 4 0 5)")
    assert(w(3L) == "POLYGON Z((0 0 1, 4 0 2, 4 4 3, 0 4 4, 0 0 1))")
    assert(w(4L) == "MULTILINESTRING Z((0 0 7, 1 1 8), (2 2 9, 3 3 10))")
  }

  test("empty frame round-trips (no index written)") {
    val df = spark.emptyDataFrame.withColumn("geometry", lit(null).cast("binary"))
      .withColumn("id", lit(1)).limit(0).select("id", "geometry")
    val path = s"${tmpDir()}/empty.fgb"
    FlatGeobuf.write(GeoDataFrame(df), path)
    assert(FlatGeobuf.read(spark, path).df.count() == 0)
  }
}
