package graft

import graft.api.GeoDataFrame
import graft.crs.CrsTransform
import graft.functions.{GeoFunctions, GeoJson}
import graft.functions.GeoFunctions._
import graft.geom.{GeomOps, Wkb}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CrsSpec extends AnyFunSuite {
  test("4326 -> 3857 roundtrip") {
    val t = CrsTransform.chain(4326, 3857)
    val (x, y) = t.forward(-73.9857, 40.7484) // NYC
    assert(math.abs(x - -8236045.0) < 100)
    assert(math.abs(y - 4975306.0) < 100)
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon - -73.9857) < 1e-9 && math.abs(lat - 40.7484) < 1e-9)
  }

  test("4326 -> UTM 18N roundtrip (known coordinate)") {
    val t = CrsTransform.chain(4326, 32618)
    val (e, n) = t.forward(-73.9857, 40.7484)
    // published UTM of the Empire State Building: ~585628 E, 4511322 N
    assert(math.abs(e - 585628) < 5, s"easting $e")
    assert(math.abs(n - 4511322) < 5, s"northing $n")
    val (lon, lat) = t.inverse(e, n)
    assert(math.abs(lon - -73.9857) < 1e-6 && math.abs(lat - 40.7484) < 1e-6)
  }

  test("27700 projection core matches the OS worked example (OSGB36 side, no datum step)") {
    // "A guide to coordinate systems in Great Britain" worked example:
    // OSGB36 lat 52°39'27.2531"N lon 1°43'4.5177"E -> E 651409.903 N 313177.270
    val tm = CrsTransform.Tm(lat0 = 49.0, lonCm = -2.0, k0 = 0.9996012717,
      fe = 400000.0, fn = -100000.0,
      a = CrsTransform.AIRY_A, flattening = CrsTransform.AIRY_F)
    val lat = 52.0 + 39.0 / 60 + 27.2531 / 3600
    val lon = 1.0 + 43.0 / 60 + 4.5177 / 3600
    val (e, n) = tm.forward(lon, lat)
    assert(math.abs(e - 651409.903) < 0.01, s"easting $e")
    assert(math.abs(n - 313177.270) < 0.01, s"northing $n")
  }

  test("4326 -> 27700 British National Grid (Helmert datum shift) roundtrip") {
    val t = CrsTransform.chain(4326, 27700)
    // Royal Observatory Greenwich — grid ref ~ TQ 3889 7734 (grid-free
    // Helmert is good to a few metres; assert within 15 m)
    val (e, n) = t.forward(-0.0015, 51.4779)
    assert(math.abs(e - 538890) < 15, s"easting $e")
    assert(math.abs(n - 177320) < 15, s"northing $n")
    val (lon, lat) = t.inverse(e, n)
    assert(math.abs(lon - -0.0015) < 1e-7 && math.abs(lat - 51.4779) < 1e-7)
    // OSGB36 geographic (4277) is the datum-only step of the same chain
    val g = CrsTransform.chain(4326, 4277)
    val (lo2, la2) = g.forward(-0.0015, 51.4779)
    assert(math.abs(lo2 - -0.0015) < 0.01 && math.abs(la2 - 51.4779) < 0.01) // ~100 m shift
    assert(math.abs(lo2 - -0.0015) > 1e-5 || math.abs(la2 - 51.4779) > 1e-5) // but nonzero
  }

  test("27700 forward/inverse closes over the whole GB domain") {
    val t = CrsTransform.chain(4326, 27700)
    for (lon <- -8 to 2; lat <- 50 to 60) {
      val (e, n) = t.forward(lon.toDouble, lat.toDouble)
      val (lo, la) = t.inverse(e, n)
      // Snyder series truncation grows with distance from the 2°W central
      // meridian: ~5 cm at 6° out (lon -8). 2e-6 deg ~ 20 cm bound.
      assert(math.abs(lo - lon) < 2e-6 && math.abs(la - lat) < 2e-6,
        s"roundtrip drift at ($lon,$lat): ($lo,$la)")
    }
  }

  test("28992 Dutch RD: projection origin exact, Amsterdam sane, Newton inverse closes") {
    // on the OSGB36-style Amersfoort datum side, the projection origin maps
    // to (FE, FN) by construction — independent of the Helmert parameters
    val proj = CrsTransform.ObliqueStereo(lat0 = 52.0 + 9.0 / 60 + 22.178 / 3600,
      lon0 = 5.0 + 23.0 / 60 + 15.500 / 3600, k0 = 0.9999079,
      fe = 155000.0, fn = 463000.0,
      a = CrsTransform.BESSEL_A, flattening = CrsTransform.BESSEL_F)
    val (x0, y0) = proj.forward(5.0 + 23.0 / 60 + 15.500 / 3600, 52.0 + 9.0 / 60 + 22.178 / 3600)
    assert(math.abs(x0 - 155000.0) < 1e-6 && math.abs(y0 - 463000.0) < 1e-6)
    // full chain with datum shift: Amsterdam centrum is ~(121.4 km, 487.4 km)
    val t = CrsTransform.chain(4326, 28992)
    val (e, n) = t.forward(4.9041, 52.3676)
    assert(math.abs(e - 121400) < 1500, s"easting $e")
    assert(math.abs(n - 487300) < 1500, s"northing $n")
    // Newton inverse closes the loop
    val (lon, lat) = t.inverse(e, n)
    // ~7 mm residual from the geodetic fixed-point tail in the datum step
    assert(math.abs(lon - 4.9041) < 1e-7 && math.abs(lat - 52.3676) < 1e-7)
    // domain sweep
    for (lo <- 4 to 7; la <- 51 to 53) {
      val (xx, yy) = t.forward(lo.toDouble, la.toDouble)
      val (l2, p2) = t.inverse(xx, yy)
      assert(math.abs(l2 - lo) < 1e-7 && math.abs(p2 - la) < 1e-7)
    }
  }

  test("ETRS89 UTM zones alias WGS84 UTM (cm-level datum difference ignored)") {
    val a = CrsTransform.chain(4326, 25832).forward(9.0, 52.0)
    val b = CrsTransform.chain(4326, 32632).forward(9.0, 52.0)
    assert(a == b)
  }

  test("3857 -> 3395 via hub") {
    val t = CrsTransform.chain(3857, 3395)
    val (x, y) = t.forward(1113194.9079327357, 1118889.9748579594) // (10, 10) in 3857
    assert(math.abs(x - 1113194.9079327357) < 1e-6) // same easting formula
    assert(math.abs(y - 1111475.1) < 1000)          // ellipsoidal vs spherical northing differ
  }

  test("utm zone estimation") {
    assert(CrsTransform.estimateUtmEpsg(-73.98, 40.75) == 32618)
    assert(CrsTransform.estimateUtmEpsg(151.2, -33.87) == 32756)
  }

  test("unsupported CRS fails loudly") {
    // 23700 (Hungarian EOV) has no wired transform (its HOM variant B
    // projection IS resolvable from full WKT via ProjParse, but the bare
    // EPSG code is outside the registry allowlist)
    intercept[IllegalArgumentException](CrsTransform.chain(4326, 23700))
  }

  test("2056 Swiss LV95: Bern origin at the false origin, roundtrip through the datum chain") {
    val t = CrsTransform.chain(4326, 2056)
    for ((lon, lat) <- Seq((7.44, 46.95), (8.55, 47.37), (6.63, 46.52))) {
      val (e, n) = t.forward(lon, lat)
      assert(e > 2400000 && e < 2900000 && n > 1000000 && n < 1400000, s"($e,$n)")
      val (lo, la) = t.inverse(e, n)
      // the h=0 geocentric Helmert roundtrip carries ~1e-8 deg (~1 mm)
      assert(math.abs(lo - lon) < 5e-8 && math.abs(la - lat) < 5e-8)
    }
  }

  test("Lambert-93, MGA, and NZTM map their false origins exactly; roundtrip") {
    // LCC-2SP false origin (lon0, lat0) -> (FE, FN) by definition
    val l93 = CrsTransform.chain(4326, 2154)
    val (fe, fn) = l93.forward(3.0, 46.5)
    assert(math.abs(fe - 700000.0) < 1e-6 && math.abs(fn - 6600000.0) < 1e-6)
    val (plon, plat) = l93.inverse(l93.forward(2.3522, 48.8566)._1, l93.forward(2.3522, 48.8566)._2)
    assert(math.abs(plon - 2.3522) < 1e-7 && math.abs(plat - 48.8566) < 1e-7)
    // NZTM: equator on the central meridian -> (FE, FN) exactly
    val nz = CrsTransform.chain(4326, 2193)
    val (ne, nn) = nz.forward(173.0, 0.0)
    assert(math.abs(ne - 1600000.0) < 1e-6 && math.abs(nn - 10000000.0) < 1e-6)
    val (wlon, wlat) = nz.inverse(nz.forward(174.7633, -36.8485)._1, nz.forward(174.7633, -36.8485)._2)
    assert(math.abs(wlon - 174.7633) < 1e-7 && math.abs(wlat - -36.8485) < 1e-7)
    // MGA zone 55 aliases UTM 55S
    val a = CrsTransform.chain(4326, 28355).forward(144.9631, -37.8136) // Melbourne
    val b = CrsTransform.chain(4326, 32755).forward(144.9631, -37.8136)
    assert(a == b)
  }

  test("4326 -> 2263 (NY Long Island state plane, ftUS — the nybb CRS)") {
    val t = CrsTransform.chain(4326, 2263)
    // the false origin maps exactly to (FE, FN) by definition
    val (x0, y0) = t.forward(-74.0, 40.0 + 10.0 / 60)
    assert(math.abs(x0 - 984250.0) < 1e-6 && math.abs(y0) < 1e-6)
    // Empire State Building lands in the published Manhattan state-plane range
    val (x, y) = t.forward(-73.9857, 40.7484)
    assert(x > 970000 && x < 1000000, s"easting $x")
    assert(y > 200000 && y < 225000, s"northing $y")
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon - -73.9857) < 1e-9 && math.abs(lat - 40.7484) < 1e-9)
  }

  test("3413/3031/3976 polar stereographic: pole exact, unit scale on the standard parallel") {
    val a = 6378137.0; val f = 1.0 / 298.257223563
    val e2 = f * (2 - f)
    def nu(lat: Double) = a / math.sqrt(1 - e2 * math.pow(math.sin(math.toRadians(lat)), 2))
    for ((code, pole, latTs, lon0) <- Seq((3413, 90.0, 70.0, -45.0),
        (3031, -90.0, -71.0, 0.0), (3976, -90.0, -70.0, 0.0))) {
      val t = CrsTransform.chain(4326, code)
      val (px, py) = t.forward(123.0, pole) // any longitude at the pole
      assert(math.hypot(px, py) < 1e-6, s"EPSG:$code pole must map to the origin: ($px, $py)")
      // scale factor 1 along the standard parallel: projected chord over a
      // tiny lon step equals the ellipsoidal parallel arc nu*cos(lat)*dLam
      val dLon = 1e-4
      val (x1, y1) = t.forward(lon0, latTs)
      val (x2, y2) = t.forward(lon0 + dLon, latTs)
      val chord = math.hypot(x2 - x1, y2 - y1)
      val arc = nu(latTs) * math.cos(math.toRadians(latTs)) * math.toRadians(dLon)
      assert(math.abs(chord / arc - 1.0) < 1e-6, s"EPSG:$code k(latTs)=${chord / arc}")
      // the central meridian lies on the y axis; roundtrip across the domain
      assert(math.abs(t.forward(lon0, latTs)._1) < 1e-6)
      val lats = if (pole > 0) Seq(60.0, 70.0, 82.5, 89.9) else Seq(-60.0, -71.0, -82.5, -89.9)
      for (lat <- lats; lon <- Seq(-179.9, -45.0, 0.0, 63.7, 179.9)) {
        val (x, y) = t.forward(lon, lat)
        val (lo, la) = t.inverse(x, y)
        assert(math.abs(la - lat) < 1e-9 && (math.abs(lo - lon) < 1e-9 || math.abs(math.abs(lo - lon) - 360) < 1e-9),
          s"EPSG:$code roundtrip ($lon,$lat) -> ($lo,$la)")
      }
    }
  }

  test("6933 EASE-Grid 2.0: equal-area cylindrical, published x extent, roundtrip") {
    val t = CrsTransform.chain(4326, 6933)
    assert(t.forward(0.0, 0.0) == ((0.0, 0.0)))
    // the published EASE-Grid 2.0 global map half-width is 17,367,530.45 m
    val (xMax, _) = t.forward(180.0, 0.0)
    assert(math.abs(xMax - 17367530.45) < 1.0, s"x(180) = $xMax")
    // x depends only on lon (cylindrical), y odd in lat (equal-area about equator)
    assert(t.forward(77.0, -60.0)._1 == t.forward(77.0, 60.0)._1)
    val yN = t.forward(0.0, 48.0)._2
    val yS = t.forward(0.0, -48.0)._2
    assert(math.abs(yN + yS) < 1e-6)
    // equal-area: projected cell area == a^2 * dLam * (q2-q1)/2 is the
    // construction; verify the measurable consequence instead — two
    // latitude bands covering equal authalic area project to equal heights
    // after q-weighting is NOT assumed: band [0,30] vs [30,90] heights
    // must ratio like their true ellipsoidal areas (computed numerically)
    def trueBandArea(l1: Double, l2: Double): Double = {
      val n = 20000
      (0 until n).map { i =>
        val lat = l1 + (l2 - l1) * (i + 0.5) / n
        val phi = math.toRadians(lat)
        val e2 = 0.00669437999014
        math.cos(phi) / math.pow(1 - e2 * math.sin(phi) * math.sin(phi), 2) *
          math.toRadians((l2 - l1) / n)
      }.sum
    }
    val h1 = t.forward(0.0, 30.0)._2 - t.forward(0.0, 0.0)._2
    val h2 = t.forward(0.0, 90.0)._2 - t.forward(0.0, 30.0)._2
    assert(math.abs(h1 / h2 - trueBandArea(0, 30) / trueBandArea(30, 90)) < 1e-6,
      "band heights must ratio like true ellipsoidal band areas")
    for (lat <- Seq(-85.0, -30.0, 0.0, 30.0, 66.5); lon <- Seq(-180.0, -77.0, 0.1, 179.9)) {
      val (x, y) = t.forward(lon, lat)
      val (lo, la) = t.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"($lon,$lat)->($lo,$la)")
    }
    // EASE-Grid's global swath rows legitimately reach the pole: the q->phi
    // inverse must be exact at +-90 and sub-mm just short of it (the Newton
    // correction degenerates there on the double root of q — round-17 fix)
    for (lat <- Seq(90.0, 89.99999, 89.99988, -89.99988, -90.0)) {
      val (x, y) = t.forward(10.0, lat)
      val la = t.inverse(x, y)._2
      assert(math.abs(la - lat) * 111320.0 < 0.005, s"pole row: $lat -> $la")
    }
  }

  test("3035 LAEA Europe: false origin exact, equal-area Jacobian, roundtrip") {
    val t = CrsTransform.chain(4326, 3035)
    val (x0, y0) = t.forward(10.0, 52.0)
    assert(math.abs(x0 - 4321000.0) < 1e-6 && math.abs(y0 - 3210000.0) < 1e-6)
    // equal-area: |det J| of the forward equals the ellipsoidal area
    // element a^2 (1-e^2) cos(phi) / (1 - e^2 sin^2(phi))^2 everywhere
    val aa = 6378137.0; val e2 = 0.00669438002290 // GRS80
    for ((lon, lat) <- Seq((10.0, 52.0), (-8.0, 38.0), (25.0, 60.0), (31.0, 45.0))) {
      val h = 1e-6
      val (x1, y1) = t.forward(lon - h, lat); val (x2, y2) = t.forward(lon + h, lat)
      val (x3, y3) = t.forward(lon, lat - h); val (x4, y4) = t.forward(lon, lat + h)
      val dxl = (x2 - x1) / (2 * h); val dyl = (y2 - y1) / (2 * h)
      val dxp = (x4 - x3) / (2 * h); val dyp = (y4 - y3) / (2 * h)
      val det = math.abs(dxl * dyp - dyl * dxp) * math.pow(180 / math.Pi, 2)
      val phi = math.toRadians(lat)
      val truth = aa * aa * (1 - e2) * math.cos(phi) /
        math.pow(1 - e2 * math.sin(phi) * math.sin(phi), 2)
      assert(math.abs(det / truth - 1) < 1e-4, s"($lon,$lat): det=$det truth=$truth")
    }
    for (lat <- Seq(35.0, 52.0, 67.5); lon <- Seq(-10.0, 10.0, 30.9)) {
      val (x, y) = t.forward(lon, lat)
      val (lo, la) = t.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"($lon,$lat)->($lo,$la)")
    }
    // LAEA shares phiFromQ with EASE-Grid: pin the pole-row inverse too
    for (lat <- Seq(90.0, 89.99988)) {
      val (x, y) = t.forward(10.0, lat)
      val la = t.inverse(x, y)._2
      assert(math.abs(la - lat) * 111320.0 < 0.005, s"pole row: $lat -> $la")
    }
  }

  test("4326 -> 5070 (CONUS Albers) roundtrip and equal-area sanity") {
    val t = CrsTransform.chain(4326, 5070)
    val (x0, y0) = t.forward(-96.0, 23.0)
    assert(math.abs(x0) < 1e-6 && math.abs(y0) < 1e-6) // projection origin
    val (x, y) = t.forward(-122.4194, 37.7749) // San Francisco: west -> negative x
    assert(x < -2000000 && y > 1500000, s"($x, $y)")
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon - -122.4194) < 1e-9 && math.abs(lat - 37.7749) < 1e-9)
  }

  test("8857 Equal Earth: published extent + aspect, equal-area Jacobian, pole roundtrip") {
    val t = CrsTransform.chain(4326, 8857)
    // the EPSG-published projection extent: x(±180°, 0°) = ±17,243,959.06 m
    val (xMax, y0) = t.forward(180.0, 0.0)
    assert(math.abs(xMax - 17243959.06) < 0.01 && math.abs(y0) < 1e-6, s"x(180)=$xMax")
    // the published Equal Earth aspect: width:height = 2.05458:1 — an
    // INDEPENDENT pin of the A1..A4 polynomial against the paper (the
    // Jacobian below holds for any polynomial by construction; the aspect
    // does not)
    val yTop = t.forward(0.0, 90.0)._2
    assert(math.abs(xMax / yTop - 2.05458213) < 1e-7, s"aspect ${xMax / yTop}")
    // equal-area: |det J| equals the WGS84 ellipsoidal area element
    val aa = 6378137.0; val ee2 = 0.00669437999014
    for ((lon, lat) <- Seq((0.0, 0.0), (120.0, 47.0), (-66.0, -33.0), (10.0, 82.0))) {
      val h = 1e-6
      val (x1, y1) = t.forward(lon - h, lat); val (x2, y2) = t.forward(lon + h, lat)
      val (x3, y3) = t.forward(lon, lat - h); val (x4, y4) = t.forward(lon, lat + h)
      val det = ((x2 - x1) * (y4 - y3) - (x4 - x3) * (y2 - y1)) /
        (4 * h * h * math.pow(math.toRadians(1), 2))
      val truth = aa * aa * (1 - ee2) * math.cos(math.toRadians(lat)) /
        math.pow(1 - ee2 * math.pow(math.sin(math.toRadians(lat)), 2), 2)
      assert(math.abs(det / truth - 1) < 1e-6, s"($lon,$lat): det=$det truth=$truth")
    }
    for (lat <- Seq(-90.0, -66.5, -12.0, 0.0, 38.7, 89.9, 90.0); lon <- Seq(-179.0, -30.0, 0.0, 155.5)) {
      val (x, y) = t.forward(lon, lat)
      val (lo, la) = t.inverse(x, y)
      val lonOk = math.abs(lat) == 90.0 || math.abs(lo - lon) < 1e-9
      assert(lonOk && math.abs(la - lat) < 1e-9, s"($lon,$lat)->($lo,$la)")
    }
  }

  test("32661/32761 UPS: pole at the false origin, k0 at the pole, conformal, roundtrip") {
    import graft.crs.CrsTransform
    for ((code, sgn) <- Seq(32661 -> 1.0, 32761 -> -1.0)) {
      val fwd = CrsTransform.chain(4326, code)
      // the pole maps exactly to the 2,000 km false origin
      val (xp, yp) = fwd.forward(123.0, 90.0 * sgn)
      assert(math.abs(xp - 2000000.0) < 1e-6 && math.abs(yp - 2000000.0) < 1e-6, s"$code pole")
      // scale at the pole is k0 = 0.994: compare projected radial step to
      // the meridian arc step at 89.99 deg (k drifts O((90-lat)^2) there)
      val a = CrsTransform.WGS84_A; val e2 = CrsTransform.WGS84_E2
      val lat1 = 89.99 * sgn; val lat2 = 89.99001 * sgn
      val (x1, y1) = fwd.forward(0.0, lat1); val (x2, y2) = fwd.forward(0.0, lat2)
      val dRho = math.hypot(x2 - x1, y2 - y1)
      val phiM = math.toRadians(89.990005)
      val w2 = 1 - e2 * math.sin(phiM) * math.sin(phiM)
      val dS = a * (1 - e2) / (w2 * math.sqrt(w2)) * math.toRadians(0.00001)
      assert(math.abs(dRho / dS - 0.994) < 1e-4, s"$code k_pole=${dRho / dS}")
      // conformal: local scale is direction-independent (meridian vs parallel)
      val (lon0, lat0) = (45.0, 80.0 * sgn)
      val h = 1e-6
      val (mx1, my1) = fwd.forward(lon0, lat0 - h); val (mx2, my2) = fwd.forward(lon0, lat0 + h)
      val (px1, py1) = fwd.forward(lon0 - h, lat0); val (px2, py2) = fwd.forward(lon0 + h, lat0)
      val phi0 = math.toRadians(lat0)
      val wq = 1 - e2 * math.sin(phi0) * math.sin(phi0)
      val kMer = math.hypot(mx2 - mx1, my2 - my1) /
        (a * (1 - e2) / (wq * math.sqrt(wq)) * math.toRadians(2 * h))
      val kPar = math.hypot(px2 - px1, py2 - py1) /
        (a / math.sqrt(wq) * math.cos(phi0) * math.toRadians(2 * h))
      assert(math.abs(kMer / kPar - 1) < 1e-6, s"$code conformality $kMer vs $kPar")
      // roundtrip across the polar cap
      for (lat <- Seq(60.0, 80.0, 89.9999, 90.0).map(_ * sgn); lon <- Seq(-179.0, 0.0, 77.7)) {
        val (x, y) = fwd.forward(lon, lat)
        val (lo, la) = fwd.inverse(x, y)
        assert((math.abs(lat) == 90.0 || math.abs(lo - lon) < 1e-7) &&
          math.abs(la - lat) < 1e-8, s"$code ($lon,$lat)->($lo,$la)")
      }
    }
    // ESRI:54017 World Behrmann registers (CEA latTs=30, same transform
    // family as EASE-Grid 6933)
    val beh = CrsTransform.chain(4326, 54017)
    val ease = CrsTransform.chain(4326, 6933)
    val (bx, by) = beh.forward(10.0, 50.0); val (ex, ey) = ease.forward(10.0, 50.0)
    assert(math.abs(bx - ex) < 1e-9 && math.abs(by - ey) < 1e-9)
  }

  test("54008 World Sinusoidal + MODIS sphere: meridian arc, equal-area Jacobian, roundtrip") {
    import graft.crs.CrsTransform
    val fwd = CrsTransform.chain(4326, 54008)
    val a = 6378137.0
    // central meridian maps to the ellipsoidal meridian arc: y(90) is the
    // quarter meridian ~ 10001965.73 m (WGS 84 published value)
    val (x0, yQ) = fwd.forward(0.0, 90.0)
    assert(math.abs(x0) < 1e-9 && math.abs(yQ - 10001965.7293) < 0.01, s"yQ=$yQ")
    // ellipsoidal equal-area: |det J| = a²(1−e²)·cosφ/(1−e²sin²φ)²
    val e2 = CrsTransform.WGS84_E2
    for ((lon, lat) <- Seq((0.0, 0.0), (90.0, 51.0), (-140.0, -72.0), (33.0, 12.5))) {
      val h = 1e-6
      val (x1, y1) = fwd.forward(lon - h, lat); val (x2, y2) = fwd.forward(lon + h, lat)
      val (x3, y3) = fwd.forward(lon, lat - h); val (x4, y4) = fwd.forward(lon, lat + h)
      val det = ((x2 - x1) * (y4 - y3) - (x4 - x3) * (y2 - y1)) /
        (4 * h * h * math.pow(math.toRadians(1), 2))
      val sinP = math.sin(math.toRadians(lat))
      val want = a * a * (1 - e2) * math.cos(math.toRadians(lat)) /
        math.pow(1 - e2 * sinP * sinP, 2)
      assert(math.abs(det / want - 1) < 1e-5, s"($lon,$lat) det=$det want=$want")
    }
    // roundtrip across the domain incl. poles
    for (lat <- Seq(-90.0, -67.5, 0.0, 41.9, 89.99, 90.0); lon <- Seq(-179.5, 0.0, 88.8)) {
      val (x, y) = fwd.forward(lon, lat)
      val (lo, la) = fwd.inverse(x, y)
      assert((math.abs(lat) == 90.0 || math.abs(lo - lon) < 1e-7) &&
        math.abs(la - lat) < 1e-8, s"($lon,$lat)->($lo,$la)")
    }
    // the MODIS land grid: Sinusoidal on the authalic sphere R=6371007.181;
    // the global x extent is ±πR = ±20015109.354 (the published tile-grid
    // corner constant) and y(90) = πR/2
    val modis = graft.crs.CrsTransform.Sinusoidal(a = 6371007.181, flattening = 0.0)
    val (xm, _) = modis.forward(180.0, 0.0)
    assert(math.abs(xm - 20015109.354) < 0.01, s"modis xmax=$xm")
    val (_, ym) = modis.forward(0.0, 90.0)
    assert(math.abs(ym - 20015109.354 / 2) < 0.01, s"modis ytop=$ym")
    // spherical roundtrip is closed-form exact
    val (mx, my) = modis.forward(121.5, -33.25)
    val (ml, mp) = modis.inverse(mx, my)
    assert(math.abs(ml - 121.5) < 1e-9 && math.abs(mp + 33.25) < 1e-9)
    // WKT-given method name resolves through ProjParse
    val wkt = """PROJCS["MODIS Sinusoidal",GEOGCS["GCS_sphere",DATUM["D_sphere",SPHEROID["sphere",6371007.181,0]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Sinusoidal"],PARAMETER["central_meridian",0],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]"""
    val parsed = graft.crs.ProjParse.parse(wkt)
    assert(parsed.isDefined, "ProjParse must resolve the Sinusoidal method")
    val (px, py) = parsed.get.forward(121.5, -33.25)
    assert(math.abs(px - mx) < 1e-6 && math.abs(py - my) < 1e-6)
  }

  test("54012 World Eckert IV: published constants, equal-area Jacobian, pole roundtrip") {
    import graft.crs.CrsTransform
    val fwd = CrsTransform.chain(4326, 54012)
    val r = 6378137.0
    // published constants: x(180°,0) = 0.4222382·R·π·(1+cos 0) — θ(0)=0 so
    // the equator is the widest parallel at 2·0.4222382·R·π; total
    // width/height = 2 exactly (the Eckert IV aspect)
    val (xMax, _) = fwd.forward(180.0, 0.0)
    assert(math.abs(xMax - 2 * 0.42223820031577120150 * r * math.Pi) < 1e-3, s"xmax=$xMax")
    assert(math.abs(xMax / (1.32650042817700232040 * r) - 2.0) < 1e-9, "aspect 2")
    // Eckert IV poles are LINES at half the equator width: θ(90°) = π/2 so
    // x = 0.4222382·R·λ·(1 + cos π/2) = half the equatorial x at the same λ
    val (xp, yTop) = fwd.forward(12.0, 90.0)
    assert(math.abs(yTop - 1.32650042817700232040 * r) < 1e-3, s"ytop=$yTop")
    assert(math.abs(xp - 0.42223820031577120150 * r * math.toRadians(12.0)) < 1e-3, s"xpole=$xp")
    // the defining equation θ + sinθcosθ + 2sinθ = (2+π/2)sinφ holds for
    // the θ the forward actually used (recovered from y)
    for (lat <- Seq(-89.99, -45.0, 0.0, 33.3, 67.0, 89.9)) {
      val (_, y) = fwd.forward(0.0, lat)
      val th = math.asin(y / (1.32650042817700232040 * r))
      assert(math.abs(th + math.sin(th) * math.cos(th) + 2 * math.sin(th) -
        (2 + math.Pi / 2) * math.sin(math.toRadians(lat))) < 1e-9, s"defining equation at $lat")
    }
    // spherical equal-area: |det J| = R² cosφ
    for ((lon, lat) <- Seq((0.0, 0.0), (90.0, 51.0), (-140.0, -72.0))) {
      val h = 1e-6
      val (x1, y1) = fwd.forward(lon - h, lat); val (x2, y2) = fwd.forward(lon + h, lat)
      val (x3, y3) = fwd.forward(lon, lat - h); val (x4, y4) = fwd.forward(lon, lat + h)
      val det = ((x2 - x1) * (y4 - y3) - (x4 - x3) * (y2 - y1)) /
        (4 * h * h * math.pow(math.toRadians(1), 2))
      assert(math.abs(det / (r * r * math.cos(math.toRadians(lat))) - 1) < 1e-6, s"($lon,$lat)")
    }
    // roundtrip incl. the quadratically-degenerate pole (√-gap seed)
    for (lat <- Seq(-90.0, -89.9999, -60.0, 0.0, 41.9, 89.99, 89.9999, 90.0);
         lon <- Seq(-179.5, 0.0, 88.8)) {
      val (x, y) = fwd.forward(lon, lat)
      val (lo, la) = fwd.inverse(x, y)
      // pole LINES: (1+cosθ) >= 1 everywhere, so longitude recovers even
      // at ±90° (unlike the pointy-pole Mollweide)
      assert(math.abs(lo - lon) < 1e-7 && math.abs(la - lat) < 1e-7,
        s"($lon,$lat)->($lo,$la)")
    }
  }

  test("54009 World Mollweide: closed-form extents, defining equation, pole") {
    val t = CrsTransform.chainStr("ESRI:54009", "EPSG:4326")
    val inv = t // 54009 -> 4326
    val fwd = CrsTransform.chain(4326, 54009)
    val r = 6378137.0
    // closed-form published extents: x(180,0) = 2√2·R, y(90) = √2·R
    val (xMax, _) = fwd.forward(180.0, 0.0)
    assert(math.abs(xMax - 2 * math.sqrt(2.0) * r) < 1e-4, s"xmax=$xMax")
    val (xp, yTop) = fwd.forward(12.0, 90.0)
    assert(math.abs(yTop - math.sqrt(2.0) * r) < 1e-4 && math.abs(xp) < 1e-6)
    // the defining equation 2θ + sin2θ = π·sinφ holds for the θ the
    // forward actually used (recovered from y)
    for (lat <- Seq(-89.99, -45.0, 0.0, 33.3, 67.0, 89.9)) {
      val (_, y) = fwd.forward(0.0, lat)
      val th = math.asin(y / (math.sqrt(2.0) * r))
      assert(math.abs(2 * th + math.sin(2 * th) - math.Pi * math.sin(math.toRadians(lat))) < 1e-9,
        s"defining equation at $lat")
    }
    // spherical equal-area: |det J| = R² cosφ
    for ((lon, lat) <- Seq((0.0, 0.0), (90.0, 51.0), (-140.0, -72.0))) {
      val h = 1e-6
      val (x1, y1) = fwd.forward(lon - h, lat); val (x2, y2) = fwd.forward(lon + h, lat)
      val (x3, y3) = fwd.forward(lon, lat - h); val (x4, y4) = fwd.forward(lon, lat + h)
      val det = ((x2 - x1) * (y4 - y3) - (x4 - x3) * (y2 - y1)) /
        (4 * h * h * math.pow(math.toRadians(1), 2))
      assert(math.abs(det / (r * r * math.cos(math.toRadians(lat))) - 1) < 1e-6, s"($lon,$lat)")
    }
    // 89.9999 exercises the cube-root near-pole seed (the φ seed alone
    // crawls on the cubic-degenerate root). Longitude recovery divides by
    // cosθ (~1.5e-4 there), so its floating-point conditioning scales as
    // 1/cosθ — tolerate eps/cosθ² in degrees (metrically sub-mm); φ stays
    // tight everywhere.
    for (lat <- Seq(-90.0, -89.9999, -60.0, 0.0, 41.9, 89.99, 89.9999, 90.0);
         lon <- Seq(-179.5, 0.0, 88.8)) {
      val (x, y) = fwd.forward(lon, lat)
      val (lo, la) = fwd.inverse(x, y)
      val u = math.max(math.toRadians(90.0 - math.abs(lat)), 1e-12)
      val lonTol = math.max(1e-8, 1e-14 / (u * u))
      val lonOk = math.abs(lat) == 90.0 || math.abs(lo - lon) < lonTol
      assert(lonOk && math.abs(la - lat) < 1e-8, s"($lon,$lat)->($lo,$la) lonTol=$lonTol")
    }
    // ESRI:54009 resolves through the string path too
    assert(inv ne null)
  }

  test("authalic-q inverses converge at the exact pole (6933 pole row, high lat)") {
    // The q->phi Newton step degenerates on the pole's double root (corr
    // proportional to cos phi): a fixed iteration stalls ~13 m short of
    // +-90. EASE-Grid 2.0 legitimately spans to the pole row, so |q| >=
    // q(pi/2) must map straight to the pole.
    val t = CrsTransform.chain(4326, 6933)
    for (lat <- Seq(90.0, -90.0)) {
      val (x, y) = t.forward(12.3, lat)
      val (lo, la) = t.inverse(x, y)
      assert(la == lat, s"6933 pole inverse: lat $lat -> $la")
      assert(math.abs(lo - 12.3) < 1e-9)
    }
    // just short of the pole the iteration must still converge tightly
    // (89.999 is the practical resolution floor: q loses quadratically
    // many bits approaching the pole, so sub-meter lats are unresolvable
    // in double precision by ANY q-based inverse)
    for (lat <- Seq(89.999, -89.999, 89.9, -89.9)) {
      val (x, y) = t.forward(0.0, lat)
      val la = t.inverse(x, y)._2
      assert(math.abs(la - lat) < 1e-9, s"6933 near-pole: $lat -> $la")
    }
    // the shared iteration also serves LAEA (3035): its Europe domain has
    // no pole, but high-lat roundtrips go through the same phiFromQ
    val laea = CrsTransform.chain(4326, 3035)
    for (lat <- Seq(70.9, 84.5)) {
      val (x, y) = laea.forward(19.0, lat)
      val (lo, la) = laea.inverse(x, y)
      assert(math.abs(la - lat) < 1e-9 && math.abs(lo - 19.0) < 1e-9, s"3035 $lat -> ($lo,$la)")
    }
  }
}

class GeoJsonSpec extends AnyFunSuite {
  test("geojson write/parse roundtrip") {
    val geoms = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1)",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
      "MULTIPOINT ((0 0), (1 1))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))")
    geoms.foreach { w =>
      val g = Wkb.readWkt(w)
      val rt = GeoJson.parse(GeoJson.write(g))
      assert(rt.equalsExact(g), s"roundtrip failed for $w")
    }
  }

  test("parses Feature wrapper") {
    val f = """{"type":"Feature","properties":{"a":1},"geometry":{"type":"Point","coordinates":[3,4]}}"""
    assert(GeoJson.parse(f).equalsExact(Wkb.readWkt("POINT (3 4)")))
  }
}

class GeoDataFrameSpec extends SparkSuite {
  import spark.implicits._

  private def gdf = {
    val df = Seq((1, 0.0, 0.0), (2, 5.0, 5.0), (3, 50.0, 50.0)).toDF("id", "x", "y")
    GeoDataFrame.pointsFromXy(df, "x", "y", crs = Some("EPSG:4326"))
  }

  test("pointsFromXy + area/length accessors") {
    assert(gdf.df.count() == 3)
    assert(gdf.area.select("area").as[Double].collect().forall(_ == 0.0))
  }

  test("cx bbox filter") {
    assert(gdf.cx(-1, -1, 10, 10).count() == 2)
  }

  test("countInteriorRings / interiors accessors mirror the SQL functions") {
    val donut = Wkb.write(Wkb.readWkt(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"))
    val solid = Wkb.write(Wkb.readWkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    val pt = Wkb.write(GeomOps.point(1, 2))
    val g = GeoDataFrame(Seq((1, donut), (2, solid), (3, pt)).toDF("id", "geometry"))
    val counts = g.countInteriorRings.select(col("id"), col("count_interior_rings"))
      .as[(Int, Int)].collect().toMap
    assert(counts == Map(1 -> 1, 2 -> 0, 3 -> 0))
    val ringCount = g.interiors.select(col("id"), size(col("interiors")))
      .as[(Int, Int)].collect().toMap
    assert(ringCount(1) == 1 && ringCount(2) == 0)
  }

  test("setCrs refuses silent override; toCrs transforms") {
    intercept[IllegalArgumentException](gdf.setCrs("EPSG:3857"))
    val m = gdf.toCrs("EPSG:3857")
    assert(m.activeCrs.contains("EPSG:3857"))
    val xs = m.df.select(st_x(col("geometry"))).as[Double].collect().sorted
    assert(math.abs(xs(1) - 556597.45) < 1.0) // 5° lon in web mercator
  }

  test("dissolve unions per group with aggfunc") {
    val df = Seq(
      ("a", 10, Wkb.write(GeomOps.makeBox(0, 0, 1, 1))),
      ("a", 20, Wkb.write(GeomOps.makeBox(1, 0, 2, 1))),
      ("b", 5, Wkb.write(GeomOps.makeBox(5, 5, 6, 6)))).toDF("k", "v", "geometry")
    val d = GeoDataFrame(df).dissolve(Seq("k"), Map("v" -> "sum")).df
    val rows = d.select(col("k"), st_area(col("geometry")), col("v")).as[(String, Double, Long)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq(("a", 2.0, 30L), ("b", 1.0, 5L)))
  }

  test("dissolve with no keys = global union") {
    val d = gdf.dissolve()
    assert(d.df.count() == 1)
  }

  test("explodeParts emits part_index") {
    val df = Seq((1, Wkb.write(Wkb.readWkt("MULTIPOINT ((0 0), (1 1))")))).toDF("id", "geometry")
    val e = GeoDataFrame(df).explodeParts().df
    assert(e.count() == 2)
    assert(e.select("part_index").as[Int].collect().sorted.toSeq == Seq(0, 1))
  }

  test("totalBounds and spatialPartition") {
    val (x0, y0, x1, y1) = gdf.totalBounds
    assert((x0, y0, x1, y1) == (0.0, 0.0, 50.0, 50.0))
    assert(gdf.spatialPartition(2).df.rdd.getNumPartitions == 2)
  }

  test("toCrs through the state-plane LCC (4326 -> 2263) round-trips") {
    val nyc = GeoDataFrame.pointsFromXy(
      Seq((1, -73.9857, 40.7484)).toDF("id", "x", "y"), "x", "y", crs = Some("EPSG:4326"))
    val sp = nyc.toCrs("EPSG:2263")
    assert(sp.activeCrs.contains("EPSG:2263"))
    val (e, n) = sp.df.select(st_x(col("geometry")), st_y(col("geometry"))).as[(Double, Double)].head()
    assert(e > 970000 && e < 1000000 && n > 200000 && n < 225000, s"($e, $n)")
    val back = sp.toCrs("EPSG:4326").df
      .select(st_x(col("geometry")), st_y(col("geometry"))).as[(Double, Double)].head()
    assert(math.abs(back._1 - -73.9857) < 1e-8 && math.abs(back._2 - 40.7484) < 1e-8)
  }

  test("estimateUtmCrs picks the zone of the bounds centre (incl. datum_name=NAD83)") {
    val nyc = GeoDataFrame.pointsFromXy(
      Seq((1, -74.0, 40.7), (2, -73.9, 40.8)).toDF("id", "x", "y"), "x", "y",
      crs = Some("EPSG:4326"))
    assert(nyc.estimateUtmCrs() == "EPSG:32618")
    assert(nyc.estimateUtmCrs("NAD83") == "EPSG:26918")
    val sydney = GeoDataFrame.pointsFromXy(
      Seq((1, 151.2, -33.9)).toDF("id", "x", "y"), "x", "y", crs = Some("EPSG:4326"))
    assert(sydney.estimateUtmCrs() == "EPSG:32756")
    intercept[IllegalArgumentException](sydney.estimateUtmCrs("NAD83"))
  }

  test("sjoin CRS mismatch raises") {
    val other = GeoDataFrame.pointsFromXy(Seq((1, 0.0, 0.0)).toDF("id", "x", "y"), "x", "y",
      crs = Some("EPSG:3857"))
    intercept[IllegalArgumentException](gdf.sjoin(other))
  }

  test("sjoin how=right carries the RIGHT frame's CRS map") {
    // the right geometry column has a different NAME, so the left crs map
    // cannot resolve it — the result must carry other.crs (like sjoinNearest)
    val right = GeoDataFrame.pointsFromXy(Seq((10, 0.0, 0.0)).toDF("rid", "x", "y"),
      "x", "y", geomName = "g2", crs = Some("EPSG:4326"))
    val joined = gdf.sjoin(right, how = "right")
    assert(joined.activeGeometryName == "g2")
    assert(joined.activeCrs.contains("EPSG:4326"))
    // inner/left keep the left frame's map
    assert(gdf.sjoin(right, how = "inner").activeCrs.contains("EPSG:4326"))
  }

  test("normalizeOpt recovers EPSG from WKT AUTHORITY/ID clauses; null for authority-free WKT") {
    import graft.crs.CrsTransform
    val wkt1 = """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563,
      |AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0],
      |UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]""".stripMargin.replace("\n", "")
    assert(CrsTransform.normalizeOpt(wkt1).contains(4326)) // LAST authority wins, not 7030
    assert(CrsTransform.normalizeOpt("EPSG:3857").contains(3857))
    // authority-free ESRI names resolve via the well-known-name table
    assert(CrsTransform.normalizeOpt("""GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]""").contains(4326))
    assert(CrsTransform.normalizeOpt("""PROJCS["WGS_1984_UTM_Zone_18N",GEOGCS["GCS_WGS_1984"]]""").contains(32618))
    assert(CrsTransform.normalizeOpt("""GEOGCS["Unknown_Custom_Datum_XYZ"]""").isEmpty)
    assert(CrsTransform.isGeographic("""GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]"""))
    assert(!CrsTransform.isGeographic("""PROJCS["NAD83 / New York Long Island"]"""))
  }

  test("fromWkt/fromWkb on_invalid: raise (default), warn, ignore, fix") {
    val df = Seq(
      (1, "POINT (1 2)"),
      (2, "POINT (garbage"),
      (3, "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))") // bowtie: parseable, invalid
    ).toDF("id", "wkt")
    // raise (reference default): unparseable input fails the job
    val raised = intercept[org.apache.spark.SparkException](
      GeoDataFrame.fromWkt(df, "wkt").df.collect())
    assert(raised.getMessage.contains("Invalid WKT") ||
      Option(raised.getCause).exists(_.getMessage.contains("Invalid WKT")))
    // warn / ignore: unparseable becomes NULL, the rest parse
    for (mode <- Seq("warn", "ignore")) {
      val out = GeoDataFrame.fromWkt(df, "wkt", onInvalid = mode).df
      assert(out.filter(col("geometry").isNull).select("id").as[Int].collect().toSeq == Seq(2))
    }
    // fix: the bowtie is repaired to a valid geometry, garbage still NULL
    val fixed = GeoDataFrame.fromWkt(df, "wkt", onInvalid = "fix").df
    assert(fixed.filter(col("geometry").isNull).select("id").as[Int].collect().toSeq == Seq(2))
    val bowtie = fixed.filter(col("id") === 3).select(st_isvalid(col("geometry"))).as[Boolean].head()
    assert(bowtie, "fix mode must repair the self-intersecting polygon")
    assert(GeoDataFrame.fromWkt(df.filter(col("id") === 1), "wkt").df.count() == 1)
    // WKB route: corrupt bytes behave the same
    val wdf = Seq((1, Wkb.write(GeomOps.point(5, 6))), (2, Array[Byte](1, 2, 3)))
      .toDF("id", "wkb")
    intercept[org.apache.spark.SparkException](GeoDataFrame.fromWkb(wdf, "wkb").df.collect())
    val wOk = GeoDataFrame.fromWkb(wdf, "wkb", onInvalid = "ignore").df
    assert(wOk.filter(col("geometry").isNull).select("id").as[Int].collect().toSeq == Seq(2))
    intercept[IllegalArgumentException](GeoDataFrame.fromWkt(df, "wkt", onInvalid = "nope"))
  }

  test("getCoordinates flattens vertices") {
    val df = Seq((1, Wkb.write(Wkb.readWkt("LINESTRING (0 0, 1 1, 2 2)")))).toDF("id", "geometry")
    assert(GeoDataFrame(df).getCoordinates.count() == 3)
  }

  test("aligned binary ops: key alignment, NaN-style nulls, dup-key fanout, CRS check") {
    import spark.implicits._
    def pt(x: Double, y: Double) = Wkb.write(GeomOps.point(x, y))
    val left = GeoDataFrame(Seq((1L, pt(0, 0)), (2L, pt(10, 0)), (3L, pt(5, 5)))
      .toDF("k", "geometry"))
    val right = GeoDataFrame(Seq((1L, pt(3, 4)), (2L, pt(10, 2)), (2L, pt(10, 7)))
      .toDF("k", "geometry"))
    val d = left.alignedDistance(right, Seq("k"))
      .select(col("k"), col("distance")).as[(Long, Option[Double])].collect().toSeq.sorted
    // key 2 duplicated on the right -> pairwise fanout (pandas dup-label
    // semantics); key 3 unmatched -> NULL (pandas NaN alignment)
    assert(d == Seq((1L, Some(5.0)), (2L, Some(2.0)), (2L, Some(7.0)), (3L, None)))
    val inter = left.alignedIntersects(right, Seq("k"))
      .select(col("k"), col("intersects")).as[(Long, Option[Boolean])].collect().toSeq
    assert(inter.contains((3L, None)) && inter.contains((1L, Some(false))))
    // geometric variant keeps the frame geometry column
    val g = left.alignedIntersection(right, Seq("k"))
    assert(g.df.columns.contains("geometry") && g.df.count() == 4)
    // CRS mismatch rejected like every cross-frame op
    val wgs = left.setCrs("EPSG:4326")
    val merc = right.setCrs("EPSG:3857")
    intercept[IllegalArgumentException](wgs.alignedDistance(merc, Seq("k")))
  }
}

class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  test("approx BPE token count: words + punctuation runs counted separately") {
    import graft.functions.TextFunctions
    val df = Seq("hello, world!  it's fine").toDF("text")
    val n = df.select(TextFunctions.approxBpeTokenCount(col("text"))).as[Int].head()
    // hello , world ! it ' s fine -> 8 non-blank pieces
    assert(n == 8)
    assert(df.select(TextFunctions.tokenCount(col("text"))).as[Int].head() == 4)
  }

  test("exact dedup keeps one representative with count") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "unique")).toDF("id", "text")
    val d = graft.ops.Dedup.exact(df, "id", "text")
    val rows = d.select("id", "dup_count").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash pairs finds near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different content about spark distributed query engines"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.minhashPairs(df, "doc_id", "text", k = 2, numHashes = 16, bands = 8, threshold = 0.3)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("simhash near-dup pairs") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, base + " thirteen"), (3L, "zz yy xx ww vv uu tt ss rr qq pp oo")).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got.contains((1L, 2L)) && !got.exists(p => p._2 == 3L))
  }

  test("brute-force topk is self-first; ann with full probe matches brute force") {
    val rng = new scala.util.Random(3)
    val df = (0 until 100).map(i => (i.toLong, Array.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 7).select("embedding").as[Array[Float]].head().toSeq
    val brute = graft.ops.Similarity.bruteForceTopK(df, "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(brute.head == 7L)
    val ann = graft.ops.Similarity.annTopK(df, "embedding", q, 5, planes = 8, probeHamming = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ann == brute)
  }

  test("multimodal plumbing: meta struct + features + frame sampling") {
    val df = Seq((1L, "some fake image bytes".getBytes("UTF-8"))).toDF("id", "media")
    val meta = graft.ops.Multimodal.withImageMeta(df, "media")
    val r = meta.select("image_meta.format", "image_meta.width", "image_meta.size_bytes")
      .as[(String, Int, Long)].head()
    assert(r._1 == "raw" && r._3 == 21L)
    val feats = graft.ops.Multimodal.extractFeatures(df, "media", dim = 4)
    assert(feats.select("features").as[Array[Float]].head().length == 4)
    val frames = graft.ops.Multimodal.sampleFrames(df, "media", everyN = 8)
    assert(frames.count() == 4)
  }

  test("streaming: windowed count over events parquet via readStream") {
    import org.apache.spark.sql.streaming.Trigger
    // FileStreamSource needs a directory
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val events = spark.readStream.schema(schema).parquet(dir)
    // ts is long nanos under nanosAsLong, else a (NTZ) timestamp — ANSI
    // forbids timestamp→double, so cast timestamps straight to TimestampType
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (col("ts").cast("double") / 1e9).cast("timestamp")
      case _ => col("ts").cast("timestamp")
    }
    val agg = events
      .withColumn("sec", tsCol)
      .withWatermark("sec", "10 minutes")
      .groupBy(window(col("sec"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("ev_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.sql("select sum(n) from ev_out").as[Long].head()
    assert(n == spark.read.parquet(s"$dir/events.parquet").count())
  }
}
