package graft.io

import graft.SparkSuite
import graft.api.GeoDataFrame
import graft.geom.GeomOps

/** gpkg_rtree_index extension on write (GPKG spec Annex F.3): the writer
  * bulk-packs a SQLite R-tree over the feature envelopes. GDAL's writer
  * (what the reference's `to_file` uses, `io/file.py:614-794`) emits this by
  * default, and QGIS/ogr expect it for non-trivial layers. Validated both
  * structurally (our own page reader) and against a REAL sqlite3 binary:
  * PRAGMA integrity_check walks rtree shadow tables since SQLite 3.29. */
class GpkgRtreeSpec extends SparkSuite {
  import spark.implicits._

  private def writeLayer(n: Int): String = {
    val df = (1 to n).map { i =>
      (i.toLong, graft.geom.Wkb.write(GeomOps.point(i % 20 * 1.5, i / 20 * 2.0)))
    }.toDF("key", "geometry")
    val dir = java.nio.file.Files.createTempDirectory("gpkgrtree").toString
    val out = s"$dir/rt.gpkg"
    Gpkg.write(GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326")), out)
    out
  }

  test("multi-node tree: master entries, node shape, rowid map, extension row") {
    // 200 rows forces a depth-1 tree (51-cell node cap -> multiple leaves)
    val out = writeLayer(200)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val src = new Sqlite.ArraySource(bytes)
    val master = Sqlite.master(src)
    assert(master.exists(m => m.name == "rtree_features_geometry" && m.rootPage == 0))
    assert(master.count(_.kind == "trigger") == 6)
    val nodeRoot = master.find(_.name == "rtree_features_geometry_node").get.rootPage
    val nodeRows = Sqlite.tableRows(src, nodeRoot).toIndexedSeq
    val root1 = nodeRows.find(_._1 == 1L).get._2(1).asInstanceOf[Array[Byte]]
    assert(root1.length == 4 + 51 * 24, "node size must be uniform, discoverable from node 1")
    val depth = ((root1(0) & 0xff) << 8) | (root1(1) & 0xff)
    assert(depth == 1, s"200 entries over 51-cell nodes should give depth 1, got $depth")
    // all nodes share the node size; parent table covers every non-root node
    assert(nodeRows.forall(_._2(1).asInstanceOf[Array[Byte]].length == root1.length))
    val parRoot = master.find(_.name == "rtree_features_geometry_parent").get.rootPage
    assert(Sqlite.tableRows(src, parRoot).map(_._1).toSeq.sorted ==
      nodeRows.map(_._1).filter(_ != 1L).sorted)
    // every feature rowid appears in the _rowid map exactly once
    val ridRoot = master.find(_.name == "rtree_features_geometry_rowid").get.rootPage
    assert(Sqlite.tableRows(src, ridRoot).map(_._1).toSeq.sorted == (1L to 200L).toSeq)
    // extension registered
    val extRoot = master.find(_.name == "gpkg_extensions").get.rootPage
    assert(Sqlite.tableRows(src, extRoot).exists(_._2(2) == "gpkg_rtree_index"))
    // the layer itself still round-trips through our reader
    assert(Gpkg.read(spark, out).df.count() == 200)
  }

  test("real sqlite3: integrity_check ok; rtree window query matches brute force") {
    val sqlite3 = Seq("/root/miniconda/bin/sqlite3", "/usr/bin/sqlite3", "/usr/local/bin/sqlite3")
      .find(p => new java.io.File(p).exists)
    assume(sqlite3.nonEmpty, "no sqlite3 binary on this host")
    val out = writeLayer(200)
    import scala.sys.process._
    def q(sql: String): String = Seq(sqlite3.get, out, sql).!!.trim
    assert(q("PRAGMA integrity_check;") == "ok")
    assert(q("SELECT count(*) FROM rtree_features_geometry;") == "200")
    val window = q("SELECT count(*) FROM rtree_features_geometry " +
      "WHERE maxx >= 3 AND minx <= 12 AND maxy >= 2 AND miny <= 8;")
    val brute = (1 to 200).count { i =>
      val x = i % 20 * 1.5; val y = i / 20 * 2.0
      x >= 3 && x <= 12 && y >= 2 && y <= 8
    }
    assert(window.toInt == brute, s"rtree window $window vs brute $brute")
    // join through the index returns the same keys as a direct attribute scan
    val joined = q("SELECT count(*) FROM features f JOIN rtree_features_geometry r " +
      "ON f.fid = r.id;")
    assert(joined == "200")
  }

  test("single-node and empty trees are still valid") {
    val out1 = writeLayer(5)
    val b1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out1))
    val s1 = new Sqlite.ArraySource(b1)
    val nr1 = Sqlite.master(s1).find(_.name == "rtree_features_geometry_node").get.rootPage
    val rows1 = Sqlite.tableRows(s1, nr1).toIndexedSeq
    assert(rows1.length == 1 && rows1.head._1 == 1L)
    val blob = rows1.head._2(1).asInstanceOf[Array[Byte]]
    assert((((blob(0) & 0xff) << 8) | (blob(1) & 0xff)) == 0) // depth 0
    assert((((blob(2) & 0xff) << 8) | (blob(3) & 0xff)) == 5) // 5 cells
    val sqlite3 = Seq("/root/miniconda/bin/sqlite3", "/usr/bin/sqlite3")
      .find(p => new java.io.File(p).exists)
    if (sqlite3.nonEmpty) {
      import scala.sys.process._
      assert(Seq(sqlite3.get, out1, "PRAGMA integrity_check;").!!.trim == "ok")
    }
    // all-NULL geometry layer: empty root node, still a valid rtree
    val dfN = Seq((1L, null.asInstanceOf[Array[Byte]])).toDF("key", "geometry")
    val dirN = java.nio.file.Files.createTempDirectory("gpkgrtree0").toString
    Gpkg.write(GeoDataFrame(dfN, "geometry", Map("geometry" -> "EPSG:4326")), s"$dirN/z.gpkg")
    val bN = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dirN/z.gpkg"))
    val sN = new Sqlite.ArraySource(bN)
    val nrN = Sqlite.master(sN).find(_.name == "rtree_features_geometry_node").get.rootPage
    val rowsN = Sqlite.tableRows(sN, nrN).toIndexedSeq
    assert(rowsN.length == 1 && rowsN.head._2(1).asInstanceOf[Array[Byte]].forall(_ == 0))
    if (sqlite3.nonEmpty) {
      import scala.sys.process._
      assert(Seq(sqlite3.get, s"$dirN/z.gpkg", "PRAGMA integrity_check;").!!.trim == "ok")
      assert(Seq(sqlite3.get, s"$dirN/z.gpkg",
        "SELECT count(*) FROM rtree_features_geometry;").!!.trim == "0")
    }
  }
}
