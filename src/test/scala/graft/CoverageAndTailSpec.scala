package graft

import graft.geom.{GeomOps, Wkb}

/** Coverage operations (JTS 1.20 coverage pkg) and round-3 tail operators:
  * transform(func), has_m/m, geom_equals_identical, get_precision,
  * polygonize(full), grid_size overlays, line_merge(directed), voronoi
  * extend_to, sample_points(method). */
class CoverageAndTailSpec extends SparkSuite {

  private def box(x0: Double, y0: Double, x1: Double, y1: Double) =
    GeomOps.makeBox(x0, y0, x1, y1)

  // 2×2 grid of unit squares — a perfect coverage
  private val grid = Seq(box(0, 0, 1, 1), box(1, 0, 2, 1), box(0, 1, 1, 2), box(1, 1, 2, 2))

  test("coverageUnion merges an edge-matched coverage exactly") {
    val u = GeomOps.coverageUnion(grid)
    assert(math.abs(u.getArea - 4.0) < 1e-12)
    assert(u.getGeometryType == "Polygon")
    // same result as UnaryUnion
    assert(u.equalsTopo(GeomOps.unionAll(grid)))
  }

  test("isValidCoverage: grid valid, overlapping boxes invalid") {
    assert(GeomOps.isValidCoverage(grid))
    assert(!GeomOps.isValidCoverage(Seq(box(0, 0, 2, 2), box(1, 1, 3, 3))))
  }

  test("invalidCoverageEdges: aligned per input, null for valid inputs") {
    val edges = GeomOps.invalidCoverageEdges(Seq(box(0, 0, 2, 2), box(1, 1, 3, 3), box(10, 10, 11, 11)))
    assert(edges.length == 3)
    assert(edges(0) != null && edges(1) != null) // the overlapping pair
    assert(edges(2) == null)                     // the disjoint box is fine
  }

  test("simplifyCoverage keeps shared edges identical and rows aligned") {
    // two polygons sharing a jagged edge
    val a = Wkb.readWkt("POLYGON ((0 0, 0 10, 5 10, 5.1 7, 4.9 5, 5.1 3, 5 0, 0 0))")
    val b = Wkb.readWkt("POLYGON ((5 10, 10 10, 10 0, 5 0, 5.1 3, 4.9 5, 5.1 7, 5 10))")
    val out = GeomOps.simplifyCoverage(Seq(a, b), tolerance = 1.0)
    assert(out.length == 2)
    assert(out(0).getNumPoints < a.getNumPoints) // actually simplified
    // still a valid coverage (shared edge stayed consistent) and area preserved
    assert(GeomOps.isValidCoverage(out.toIndexedSeq))
    assert(math.abs(out.map(_.getArea).sum - (a.getArea + b.getArea)) < 1e-6)
  }

  test("grid_size overlay variants snap to the precision grid") {
    val a = Wkb.readWkt("POLYGON ((0 0, 0 1.04, 1.04 1.04, 1.04 0, 0 0))")
    val b = Wkb.readWkt("POLYGON ((0.53 0, 0.53 1, 2 1, 2 0, 0.53 0))")
    val i = GeomOps.intersection(a, b, 0.1)
    // all coordinates on the 0.1 grid
    assert(i.getCoordinates.forall(c =>
      math.abs(c.x * 10 - math.round(c.x * 10)) < 1e-9 && math.abs(c.y * 10 - math.round(c.y * 10)) < 1e-9))
    assert(GeomOps.intersection(a, b, 0.0).equalsTopo(GeomOps.intersection(a, b))) // 0 = plain
    val u = GeomOps.unionAll(Seq(a, b), 0.1)
    assert(u.getCoordinates.forall(c => math.abs(c.x * 10 - math.round(c.x * 10)) < 1e-9))
    assert(GeomOps.union(a, b, 0.1).getArea == u.getArea)
    assert(GeomOps.difference(a, b, 0.1).getCoordinates.forall(c => math.abs(c.y * 10 - math.round(c.y * 10)) < 1e-9))
    assert(GeomOps.symDifference(a, b, 0.1).getArea > 0)
  }

  test("transformCoords applies an arbitrary vertex map") {
    val g = Wkb.readWkt("LINESTRING (1 2, 3 4)")
    val t = GeomOps.transformCoords(g, (x, y, z) => (x * 2, y + 10, z))
    assert(t.getCoordinates.map(c => (c.x, c.y)).toSeq == Seq((2.0, 12.0), (6.0, 14.0)))
    // z preserved through the map
    val g3 = GeomOps.force3d(Wkb.readWkt("POINT (1 1)"), 7.0)
    val t3 = GeomOps.transformCoords(g3, (x, y, z) => (x, y, z * 2))
    assert(t3.getCoordinate.getZ == 14.0)
  }

  test("has_m / m accessor via XYZM coordinates") {
    val gf = Wkb.factory
    val pm = gf.createPoint(new org.locationtech.jts.geom.CoordinateXYZM(1, 2, 3, 42.5))
    assert(GeomOps.hasM(pm))
    assert(GeomOps.pointM(pm) == 42.5)
    val p = GeomOps.point(1, 2)
    assert(!GeomOps.hasM(p))
    assert(GeomOps.pointM(p).isNaN)
    // WKT ZM round-trip
    val zm = Wkb.readWkt("POINT ZM (1 2 3 4)")
    assert(GeomOps.hasM(zm) && GeomOps.pointM(zm) == 4.0)
    // WKB COLUMN round-trip: the codec must pick the XYZM writer, not the
    // XYZ one — M used to be dropped on the first write (q109 regression)
    val rt = Wkb.read(Wkb.write(zm))
    assert(GeomOps.hasM(rt) && GeomOps.pointM(rt) == 4.0)
    assert(rt.getCoordinate.getZ == 3.0)
    val zmLine = Wkb.read(Wkb.write(Wkb.readWkt("LINESTRING ZM (0 0 1 2, 3 4 5 6)")))
    assert(GeomOps.hasM(zmLine) && zmLine.getCoordinates.last.getM == 6.0)
  }

  test("geomEqualsIdentical: exact structural equality incl. Z, unlike equalsTopo") {
    val a = Wkb.readWkt("LINESTRING (0 0, 1 1)")
    val b = Wkb.readWkt("LINESTRING (1 1, 0 0)") // same topo, reversed order
    assert(GeomOps.geomEquals(a, b))
    assert(!GeomOps.geomEqualsIdentical(a, b))
    assert(GeomOps.geomEqualsIdentical(a, a.copy()))
    val z1 = GeomOps.force3d(a, 5.0)
    val z2 = GeomOps.force3d(a, 6.0)
    assert(!GeomOps.geomEqualsIdentical(z1, z2)) // differs only in Z
    assert(GeomOps.geomEqualsIdentical(z1, GeomOps.force3d(a, 5.0)))
  }

  test("get_precision: 0 for floating, grid size after set_precision") {
    val g = Wkb.readWkt("POINT (1.23 4.56)")
    assert(GeomOps.getPrecision(g) == 0.0)
    val snapped = GeomOps.setPrecision(g, 0.5)
    assert(GeomOps.getPrecision(snapped) == 0.5)
  }

  test("polygonize(full) returns polygons, cut edges, dangles, invalid rings") {
    val ring = Seq(
      Wkb.readWkt("LINESTRING (0 0, 1 0)"), Wkb.readWkt("LINESTRING (1 0, 1 1)"),
      Wkb.readWkt("LINESTRING (1 1, 0 1)"), Wkb.readWkt("LINESTRING (0 1, 0 0)"),
      Wkb.readWkt("LINESTRING (1 0, 2 0)")) // dangle
    val (polys, cuts, dangles, invalid) = GeomOps.polygonizeFull(ring)
    assert(polys.getNumGeometries == 1 && math.abs(polys.getArea - 1.0) < 1e-12)
    assert(dangles.getNumGeometries == 1)
    assert(cuts.isEmpty && invalid.isEmpty)
  }

  test("lineMergeDirected merges only orientation-consistent chains") {
    // forward chain merges
    val fwd = GeomOps.collect(Seq(
      Wkb.readWkt("LINESTRING (0 0, 1 0)"), Wkb.readWkt("LINESTRING (1 0, 2 0)")))
    val m1 = GeomOps.lineMergeDirected(fwd)
    assert(m1.getGeometryType == "LineString" && m1.getNumPoints == 3)
    // opposing directions do NOT merge (undirected merge would join them)
    val opp = GeomOps.collect(Seq(
      Wkb.readWkt("LINESTRING (0 0, 1 0)"), Wkb.readWkt("LINESTRING (2 0, 1 0)")))
    val m2 = GeomOps.lineMergeDirected(opp)
    assert(m2.getNumGeometries == 2)
    assert(GeomOps.lineMerge(opp).getGeometryType == "LineString") // contrast
  }

  test("voronoi extend_to grows the clip envelope") {
    val sites = Wkb.readWkt("MULTIPOINT ((1 1), (2 2))")
    val small = GeomOps.voronoiPolygons(sites, 0.0, onlyEdges = false)
    val big = GeomOps.voronoiPolygons(sites, 0.0, onlyEdges = false, GeomOps.makeBox(0, 0, 100, 100))
    assert(big.getEnvelopeInternal.getMaxX > small.getEnvelopeInternal.getMaxX)
    assert(big.getEnvelopeInternal.covers(new org.locationtech.jts.geom.Envelope(0, 100, 0, 100)))
  }

  test("sample_points(method=) validates the method") {
    val g = GeomOps.makeBox(0, 0, 1, 1)
    val s = GeomOps.samplePoints(g, 5, 42L, "uniform")
    assert(s.getNumGeometries == 5)
    assertThrows[IllegalArgumentException](GeomOps.samplePoints(g, 5, 42L, "cluster_poisson"))
  }

  test("unionAllDisjointSubset: per-cluster unions, result equals UnaryUnion") {
    // two overlapping clusters far apart + one singleton
    val gs = Seq(
      box(0, 0, 2, 2), box(1, 1, 3, 3),       // cluster A (overlap)
      box(100, 100, 102, 102), box(101, 101, 103, 103), // cluster B
      box(500, 500, 501, 501))                // singleton
    val ds = GeomOps.unionAllDisjointSubset(gs)
    val uu = GeomOps.unionAll(gs)
    assert(math.abs(ds.getArea - uu.getArea) < 1e-12)
    assert(ds.getNumGeometries == 3) // one polygon per cluster
    assert(GeomOps.unionAllDisjointSubset(Seq(box(0, 0, 1, 1))).getArea == 1.0)
    assert(GeomOps.unionAllDisjointSubset(Nil) == null)
  }

  test("dissolve(method=disjoint_subset) matches unary dissolve") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1, Wkb.write(box(0, 0, 2, 2))), (1, Wkb.write(box(1, 1, 3, 3))),
      (1, Wkb.write(box(50, 50, 52, 52))),
      (2, Wkb.write(box(10, 10, 11, 11)))).toDF("k", "geometry")
    def areas(m: String) = graft.api.GeoDataFrame(df).dissolve(by = Seq("k"), method = m).df
      .select(col("k"), graft.functions.GeoFunctions.st_area(col("geometry")))
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(areas("disjoint_subset") == areas("unary"))
  }

  test("st_polygonize / st_polygonize_full as column ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    val lines = Seq(Seq(
      Wkb.write(Wkb.readWkt("LINESTRING (0 0, 1 0)")), Wkb.write(Wkb.readWkt("LINESTRING (1 0, 1 1)")),
      Wkb.write(Wkb.readWkt("LINESTRING (1 1, 0 1)")), Wkb.write(Wkb.readWkt("LINESTRING (0 1, 0 0)")),
      Wkb.write(Wkb.readWkt("LINESTRING (1 0, 2 0)")))).toDF("lines")
    val simple = lines.select(st_area(st_polygonize(col("lines"))).as("a")).as[Double].head()
    assert(math.abs(simple - 1.0) < 1e-12)
    val full = lines.select(st_polygonize_full(col("lines")).as("f"))
      .select(st_area(col("f.polygons")), st_ngeometries(col("f.dangles"))).as[(Double, Int)].head()
    assert(math.abs(full._1 - 1.0) < 1e-12 && full._2 == 1)
  }

  test("CoverageUnionAgg + dissolve(method=coverage) on Spark") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = grid.zipWithIndex.map { case (g, i) => (i % 2, Wkb.write(g)) }.toDF("k", "geometry")
    val dissolved = graft.api.GeoDataFrame(df).dissolve(by = Seq("k"), method = "coverage").df
    val areas = dissolved.select(graft.functions.GeoFunctions.st_area(col("geometry")))
      .as[Double].collect().sorted.toSeq
    assert(areas == Seq(2.0, 2.0))
  }

  test("GeoDataFrame.isValidCoverage: distributed per-polygon check, no whole-column collect") {
    import spark.implicits._
    // 20x20 grid over several partitions: valid coverage
    val grid = (for (i <- 0 until 20; j <- 0 until 20)
      yield (i * 20 + j, Wkb.write(GeomOps.makeBox(i, j, i + 1, j + 1)))).toDF("id", "geometry")
      .repartition(8)
    assert(graft.api.GeoDataFrame(grid).isValidCoverage())
    // one overlapping box breaks it
    val bad = grid.union(Seq((999, Wkb.write(GeomOps.makeBox(0.5, 0.5, 1.5, 1.5)))).toDF("id", "geometry"))
    assert(!graft.api.GeoDataFrame(bad).isValidCoverage())
    // matches the driver kernel's verdicts on the same inputs
    val gapped = Seq( // 0.05-wide sliver between the two boxes
      (1, Wkb.write(GeomOps.makeBox(0, 0, 1, 1))),
      (2, Wkb.write(GeomOps.makeBox(1.05, 0, 2, 1)))).toDF("id", "geometry")
    assert(graft.api.GeoDataFrame(gapped).isValidCoverage()) // disjoint is fine at gapWidth 0
    assert(!graft.api.GeoDataFrame(gapped).isValidCoverage(gapWidth = 0.2)) // sliver < 0.2 flagged
    assert(GeomOps.isValidCoverage(
      Seq(GeomOps.makeBox(0, 0, 1, 1), GeomOps.makeBox(1.05, 0, 2, 1)), 0.2) ==
      graft.api.GeoDataFrame(gapped).isValidCoverage(gapWidth = 0.2))
  }

  test("GeoDataFrame.isValidCoverage(by=): every group validated on executors") {
    import spark.implicits._
    val ok = (for (i <- 0 until 4; j <- 0 until 4)
      yield ("a", Wkb.write(GeomOps.makeBox(i, j, i + 1, j + 1)))) ++
      (for (i <- 0 until 2) yield ("b", Wkb.write(GeomOps.makeBox(10 + i, 0, 11 + i, 1))))
    assert(graft.api.GeoDataFrame(ok.toDF("k", "geometry")).isValidCoverage(by = Seq("k")))
    val mixed = ok :+ (("b", Wkb.write(GeomOps.makeBox(10.5, 0.5, 11.5, 1.5))))
    assert(!graft.api.GeoDataFrame(mixed.toDF("k", "geometry")).isValidCoverage(by = Seq("k")))
  }

  test("GeoDataFrame.simplifyCoverage preserves coverage validity and row count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val a = Wkb.readWkt("POLYGON ((0 0, 0 10, 5 10, 5.1 7, 4.9 5, 5.1 3, 5 0, 0 0))")
    val b = Wkb.readWkt("POLYGON ((5 10, 10 10, 10 0, 5 0, 5.1 3, 4.9 5, 5.1 7, 5 10))")
    val df = Seq((1, Wkb.write(a)), (2, Wkb.write(b))).toDF("id", "geometry")
    val out = graft.api.GeoDataFrame(df).simplifyCoverage(1.0).df
    assert(out.count() == 2)
    val total = out.select(sum(graft.functions.GeoFunctions.st_area(col("geometry")))).as[Double].head()
    assert(math.abs(total - (a.getArea + b.getArea)) < 1e-6)
    assert(out.columns.toSet == Set("id", "geometry"))
  }

  test("st_astext with rounding precision") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    val df = Seq(Wkb.write(GeomOps.point(1.23456789, -2.98765432))).toDF("g")
    assert(df.select(st_astext(col("g"), lit(2))).as[String].head() == "POINT (1.23 -2.99)")
    assert(df.select(st_astext(col("g"), lit(0))).as[String].head() == "POINT (1 -3)")
  }

  test("GeoDataFrame.transform maps vertices as a column op") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, Wkb.write(GeomOps.point(1, 2)))).toDF("id", "geometry")
    val out = graft.api.GeoDataFrame(df).transform((x, y, z) => (x + 10, y * 2, z)).df
    val (x, y) = out.select(graft.functions.GeoFunctions.st_x(col("geometry")),
      graft.functions.GeoFunctions.st_y(col("geometry"))).as[(Double, Double)].head()
    assert((x, y) == ((11.0, 4.0)))
  }
}
