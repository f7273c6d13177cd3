package graft

import graft.crs.{CrsTransform, ProjParse}
import graft.crs.CrsTransform._
import org.scalatest.funsuite.AnyFunSuite

/** Parameter-driven CRS resolution (crs/ProjParse.scala) against published
  * worked examples — EPSG Guidance Note 7-2 and Snyder 1987 give exact
  * (lon,lat)->(E,N) vectors for each projection family, so the generalized
  * ellipsoid/parameter handling is oracle-checked, not just round-tripped. */
class ProjParseSpec extends AnyFunSuite {

  private val Clarke1866A = 6378206.4
  private val Clarke1866F = 1.0 / 294.9786982

  test("LCC 2SP worked example (EPSG GN7-2: NAD27 / Texas South Central, Clarke 1866, ftUS)") {
    val t = Lcc2Sp(lat0 = 27.0 + 50.0 / 60, lon0 = -99.0,
      sp1 = 28.0 + 23.0 / 60, sp2 = 30.0 + 17.0 / 60,
      fe = 2000000.0, fn = 0.0, unit = FtUs, flattening = Clarke1866F, a = Clarke1866A)
    val (e, n) = t.forward(-96.0, 28.5)
    assert(math.abs(e - 2963503.91) < 0.05, s"easting $e")
    assert(math.abs(n - 254759.80) < 0.05, s"northing $n")
    val (lon, lat) = t.inverse(e, n)
    assert(math.abs(lon + 96.0) < 1e-9 && math.abs(lat - 28.5) < 1e-9)
  }

  test("TM worked example (EPSG GN7-2: OSGB36 / British National Grid, Airy 1830)") {
    val t = Tm(lat0 = 49.0, lonCm = -2.0, k0 = 0.9996012717,
      fe = 400000.0, fn = -100000.0, a = 6377563.396, flattening = 1.0 / 299.3249646)
    val (e, n) = t.forward(0.5, 50.5)
    assert(math.abs(e - 577274.99) < 0.05, s"easting $e")
    assert(math.abs(n - 69740.50) < 0.05, s"northing $n")
    val (lon, lat) = t.inverse(e, n)
    // series-form inverse truncation at 2.5 deg from the CM is ~2e-9 deg (~0.2 um)
    assert(math.abs(lon - 0.5) < 1e-8 && math.abs(lat - 50.5) < 1e-8)
  }

  test("Albers worked example (Snyder 1987 App. A: Clarke 1866, CONUS parallels)") {
    val t = Albers2Sp(lat0 = 23.0, lon0 = -96.0, sp1 = 29.5, sp2 = 45.5,
      fe = 0.0, fn = 0.0, flattening = Clarke1866F, a = Clarke1866A)
    val (x, y) = t.forward(-75.0, 35.0)
    assert(math.abs(x - 1885472.7) < 1.0, s"x $x")
    assert(math.abs(y - 1535925.0) < 1.0, s"y $y")
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon + 75.0) < 1e-9 && math.abs(lat - 35.0) < 1e-9)
  }

  // ESRI WKT1 as a .prj file carries it: no AUTHORITY clause, ESRI parameter
  // names; EPSG:2263 definition so we can check against the hand-wired chain.
  private val esriWkt2263 =
    """PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",
      |GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",
      |SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],
      |UNIT["Degree",0.0174532925199433]],
      |PROJECTION["Lambert_Conformal_Conic"],
      |PARAMETER["False_Easting",984250.0],PARAMETER["False_Northing",0.0],
      |PARAMETER["Central_Meridian",-74.0],
      |PARAMETER["Standard_Parallel_1",40.66666666666666],
      |PARAMETER["Standard_Parallel_2",41.03333333333333],
      |PARAMETER["Latitude_Of_Origin",40.16666666666666],
      |UNIT["Foot_US",0.3048006096012192]]""".stripMargin.replace("\n", "")

  test("ESRI WKT1 parameters build the same transform as the hand-wired EPSG:2263") {
    val parsed = ProjParse.parse(esriWkt2263).getOrElse(fail("WKT1 did not parse"))
    val wired = CrsTransform.chain(4326, 2263)
    for ((lon, lat) <- Seq((-74.01, 40.71), (-73.7, 40.6), (-73.9857, 40.7484))) {
      val (xp, yp) = parsed.forward(lon, lat)
      val (xw, yw) = wired.forward(lon, lat)
      assert(math.abs(xp - xw) < 1e-5 && math.abs(yp - yw) < 1e-5, s"($xp,$yp) vs ($xw,$yw)")
    }
  }

  // WKT2 with per-parameter LENGTHUNITs (the GeoParquet/PROJ dialect).
  private val wkt2_2263 =
    """PROJCRS["NAD83 / New York Long Island (ftUS)",
      |BASEGEOGCRS["NAD83",DATUM["North American Datum 1983",
      |ELLIPSOID["GRS 1980",6378137,298.257222101,LENGTHUNIT["metre",1]]]],
      |CONVERSION["SPCS83 New York Long Island zone (US survey foot)",
      |METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],
      |PARAMETER["Latitude of false origin",40.1666666666667,
      |ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8821]],
      |PARAMETER["Longitude of false origin",-74,
      |ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8822]],
      |PARAMETER["Latitude of 1st standard parallel",41.0333333333333,
      |ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8823]],
      |PARAMETER["Latitude of 2nd standard parallel",40.6666666666667,
      |ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8824]],
      |PARAMETER["Easting at false origin",984250,
      |LENGTHUNIT["US survey foot",0.304800609601219],ID["EPSG",8826]],
      |PARAMETER["Northing at false origin",0,
      |LENGTHUNIT["US survey foot",0.304800609601219],ID["EPSG",8827]]],
      |CS[Cartesian,2],
      |AXIS["easting (X)",east,ORDER[1],LENGTHUNIT["US survey foot",0.304800609601219]],
      |AXIS["northing (Y)",north,ORDER[2],LENGTHUNIT["US survey foot",0.304800609601219]]]"""
      .stripMargin.replace("\n", "")

  test("WKT2 parameters (per-parameter LENGTHUNIT) build the same transform") {
    val parsed = ProjParse.parse(wkt2_2263).getOrElse(fail("WKT2 did not parse"))
    val wired = CrsTransform.chain(4326, 2263)
    val (xp, yp) = parsed.forward(-73.9857, 40.7484)
    val (xw, yw) = wired.forward(-73.9857, 40.7484)
    assert(math.abs(xp - xw) < 1e-4 && math.abs(yp - yw) < 1e-4, s"($xp,$yp) vs ($xw,$yw)")
  }

  // PROJJSON as GeoParquet stores it (Maryland = EPSG:26985, meters).
  private val projJson26985 =
    """{"type": "ProjectedCRS", "name": "NAD83 / Maryland",
      |"base_crs": {"type": "GeographicCRS", "name": "NAD83",
      |"datum": {"type": "GeodeticReferenceFrame", "name": "North American Datum 1983",
      |"ellipsoid": {"name": "GRS 1980", "semi_major_axis": 6378137,
      |"inverse_flattening": 298.257222101}}},
      |"conversion": {"name": "SPCS83 Maryland zone",
      |"method": {"name": "Lambert Conic Conformal (2SP)", "id": {"authority": "EPSG", "code": 9802}},
      |"parameters": [
      |{"name": "Latitude of false origin", "value": 37.6666666666667, "unit": "degree"},
      |{"name": "Longitude of false origin", "value": -77, "unit": "degree"},
      |{"name": "Latitude of 1st standard parallel", "value": 39.45, "unit": "degree"},
      |{"name": "Latitude of 2nd standard parallel", "value": 38.3, "unit": "degree"},
      |{"name": "Easting at false origin", "value": 400000, "unit": "metre"},
      |{"name": "Northing at false origin", "value": 0, "unit": "metre"}]},
      |"coordinate_system": {"subtype": "Cartesian", "axis": [
      |{"name": "Easting", "abbreviation": "X", "direction": "east", "unit": "metre"},
      |{"name": "Northing", "abbreviation": "Y", "direction": "north", "unit": "metre"}]}}"""
      .stripMargin.replace("\n", "")

  test("PROJJSON parameters build the same transform as the EPSG:26985 registry entry") {
    val parsed = ProjParse.parse(projJson26985).getOrElse(fail("PROJJSON did not parse"))
    val wired = CrsTransform.chain(4326, 26985)
    val (xp, yp) = parsed.forward(-76.6122, 39.2904) // Baltimore
    val (xw, yw) = wired.forward(-76.6122, 39.2904)
    assert(math.abs(xp - xw) < 1e-6 && math.abs(yp - yw) < 1e-6, s"($xp,$yp) vs ($xw,$yw)")
  }

  test("EPSG:26985 (outside the original allowlist): false origin exact + roundtrip") {
    val t = CrsTransform.chain(4326, 26985)
    val (x0, y0) = t.forward(-77.0, 37.0 + 40.0 / 60)
    assert(math.abs(x0 - 400000.0) < 1e-6 && math.abs(y0) < 1e-6)
    val (x, y) = t.forward(-76.6122, 39.2904)
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon + 76.6122) < 1e-9 && math.abs(lat - 39.2904) < 1e-9)
    // ftUS twin differs only by the axis unit
    val tf = CrsTransform.chain(4326, 2248)
    val (xf, yf) = tf.forward(-76.6122, 39.2904)
    assert(math.abs(xf * FtUs - x) < 1e-6 && math.abs(yf * FtUs - y) < 1e-6)
  }

  test("EPSG:3435 (Illinois East TM, ftUS): false origin exact + roundtrip") {
    val t = CrsTransform.chain(4326, 3435)
    val (x0, y0) = t.forward(-(88.0 + 20.0 / 60), 36.0 + 40.0 / 60)
    assert(math.abs(x0 - 300000.0 / FtUs) < 1e-6 && math.abs(y0) < 1e-6)
    val (x, y) = t.forward(-87.6298, 41.8781) // Chicago
    val (lon, lat) = t.inverse(x, y)
    assert(math.abs(lon + 87.6298) < 1e-9 && math.abs(lat - 41.8781) < 1e-9)
  }

  test("Mercator variant B: k0 derived from the standard parallel") {
    val wkt =
      """PROJCS["World_Mercator_SP2",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",
        |SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],
        |UNIT["Degree",0.0174532925199433]],PROJECTION["Mercator"],
        |PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],
        |PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",0.0],
        |UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).getOrElse(fail("Mercator WKT did not parse"))
    // sp1 = 0 means k0 = 1: identical to EPSG:3395 world mercator
    val (x, y) = parsed.forward(10.0, 10.0)
    val (xr, yr) = WorldMercator.forward(10.0, 10.0)
    assert(math.abs(x - xr) < 1e-6 && math.abs(y - yr) < 1e-6)
  }

  test("WKT1 Oblique_Stereographic (Dutch RD) parses to the wired projection") {
    val wkt =
      """PROJCS["Amersfoort / RD New", GEOGCS["Amersfoort",
        | DATUM["Amersfoort", SPHEROID["Bessel 1841",6377397.155,299.1528128]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Oblique_Stereographic"],
        | PARAMETER["latitude_of_origin",52.1561605555556],
        | PARAMETER["central_meridian",5.38763888888889],
        | PARAMETER["scale_factor",0.9999079],
        | PARAMETER["false_easting",155000], PARAMETER["false_northing",463000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).get
    val wired = CrsTransform.ObliqueStereo(lat0 = 52.1561605555556, lon0 = 5.38763888888889,
      k0 = 0.9999079, fe = 155000.0, fn = 463000.0,
      a = CrsTransform.BESSEL_A, flattening = CrsTransform.BESSEL_F)
    // same forward surface (projection only — the datum step is the
    // registry's job, ProjParse resolves to the geographic base)
    for (lon <- Seq(4.5, 5.5, 6.5); lat <- Seq(51.5, 52.5)) {
      val (x1, y1) = parsed.forward(lon, lat)
      val (x2, y2) = wired.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6, s"($lon,$lat)")
    }
  }

  test("round-18 families from WKT match the registry-wired transforms") {
    // each WKT is the published definition of an allowlisted EPSG code, so
    // chain(4326, code) is the oracle (all on WGS84/GRS80 — null datum)
    val laea3035 =
      """PROJCS["ETRS89-extended / LAEA Europe", GEOGCS["ETRS89",
        | DATUM["European_Terrestrial_Reference_System_1989",
        | SPHEROID["GRS 1980",6378137,298.257222101]], PRIMEM["Greenwich",0],
        | UNIT["degree",0.0174532925199433]],
        | PROJECTION["Lambert_Azimuthal_Equal_Area"],
        | PARAMETER["latitude_of_center",52], PARAMETER["longitude_of_center",10],
        | PARAMETER["false_easting",4321000], PARAMETER["false_northing",3210000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val cea6933 =
      """PROJCS["WGS 84 / NSIDC EASE-Grid 2.0 Global", GEOGCS["WGS 84",
        | DATUM["WGS_1984", SPHEROID["WGS 84",6378137,298.257223563]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Cylindrical_Equal_Area"],
        | PARAMETER["standard_parallel_1",30], PARAMETER["central_meridian",0],
        | PARAMETER["false_easting",0], PARAMETER["false_northing",0],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val psb3413 =
      """PROJCS["WGS 84 / NSIDC Sea Ice Polar Stereographic North",
        | GEOGCS["WGS 84", DATUM["WGS_1984",
        | SPHEROID["WGS 84",6378137,298.257223563]], PRIMEM["Greenwich",0],
        | UNIT["degree",0.0174532925199433]],
        | PROJECTION["Polar_Stereographic_variant_B"],
        | PARAMETER["latitude_of_standard_parallel",70],
        | PARAMETER["longitude_of_origin",-45],
        | PARAMETER["false_easting",0], PARAMETER["false_northing",0],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val psa32661 =
      """PROJCS["WGS 84 / UPS North (N,E)", GEOGCS["WGS 84",
        | DATUM["WGS_1984", SPHEROID["WGS 84",6378137,298.257223563]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Polar_Stereographic_variant_A"],
        | PARAMETER["latitude_of_natural_origin",90],
        | PARAMETER["longitude_of_natural_origin",0],
        | PARAMETER["scale_factor_at_natural_origin",0.994],
        | PARAMETER["false_easting",2000000], PARAMETER["false_northing",2000000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val ee8857 =
      """PROJCS["WGS 84 / Equal Earth Greenwich", GEOGCS["WGS 84",
        | DATUM["WGS_1984", SPHEROID["WGS 84",6378137,298.257223563]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Equal_Earth"], PARAMETER["central_meridian",0],
        | PARAMETER["false_easting",0], PARAMETER["false_northing",0],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val cases = Seq(
      (laea3035, 3035, Seq((10.0, 52.0), (-8.0, 38.0), (25.0, 60.0))),
      (cea6933, 6933, Seq((0.0, 0.0), (77.0, -60.0), (-120.0, 48.0))),
      (psb3413, 3413, Seq((-45.0, 70.0), (10.0, 80.0), (-100.0, 65.0))),
      (psa32661, 32661, Seq((0.0, 90.0), (30.0, 75.0), (-120.0, 80.0))),
      (ee8857, 8857, Seq((0.0, 0.0), (120.0, 45.0), (-60.0, -30.0))))
    for ((wkt, code, pts) <- cases) {
      val parsed = ProjParse.parse(wkt).getOrElse(fail(s"EPSG:$code WKT did not parse"))
      val wired = CrsTransform.chain(4326, code)
      for ((lon, lat) <- pts) {
        val (x1, y1) = parsed.forward(lon, lat)
        val (x2, y2) = wired.forward(lon, lat)
        assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6,
          s"EPSG:$code ($lon,$lat): parsed=($x1,$y1) wired=($x2,$y2)")
        val (lo, la) = parsed.inverse(x1, y1)
        assert(math.abs(lo - lon) < 1e-7 && math.abs(la - lat) < 1e-7,
          s"EPSG:$code roundtrip ($lon,$lat) -> ($lo,$la)")
      }
    }
    // variant A outside its UPS shape (rotated meridian) must refuse, not
    // silently project about the wrong meridian
    val rotatedA = psa32661.replace("\"longitude_of_natural_origin\",0", "\"longitude_of_natural_origin\",15")
    assert(ProjParse.parse(rotatedA).isEmpty, "rotated variant A must be unsupported")
  }

  test("ESRI Mollweide and stereographic-pole spellings parse") {
    val moll =
      """PROJCS["World_Mollweide", GEOGCS["GCS_WGS_1984", DATUM["D_WGS_1984",
        | SPHEROID["WGS_1984",6378137.0,298.257223563]], PRIMEM["Greenwich",0.0],
        | UNIT["Degree",0.0174532925199433]], PROJECTION["Mollweide"],
        | PARAMETER["False_Easting",0.0], PARAMETER["False_Northing",0.0],
        | PARAMETER["Central_Meridian",0.0], UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsedM = ProjParse.parse(moll).getOrElse(fail("Mollweide WKT did not parse"))
    val wiredM = CrsTransform.chainStr("EPSG:4326", "ESRI:54009")
    for ((lon, lat) <- Seq((0.0, 0.0), (100.0, 40.0), (-70.0, -35.0))) {
      val (x1, y1) = parsedM.forward(lon, lat)
      val (x2, y2) = wiredM.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6, s"($lon,$lat)")
    }
    val esriPole =
      """PROJCS["North_Pole_Stereographic_70", GEOGCS["GCS_WGS_1984",
        | DATUM["D_WGS_1984", SPHEROID["WGS_1984",6378137.0,298.257223563]],
        | PRIMEM["Greenwich",0.0], UNIT["Degree",0.0174532925199433]],
        | PROJECTION["Stereographic_North_Pole"],
        | PARAMETER["False_Easting",0.0], PARAMETER["False_Northing",0.0],
        | PARAMETER["Central_Meridian",-45.0], PARAMETER["Standard_Parallel_1",70.0],
        | UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsedP = ProjParse.parse(esriPole).getOrElse(fail("ESRI pole WKT did not parse"))
    val wiredP = CrsTransform.chain(4326, 3413) // same parameters as 3413
    for ((lon, lat) <- Seq((-45.0, 70.0), (10.0, 80.0))) {
      val (x1, y1) = parsedP.forward(lon, lat)
      val (x2, y2) = wiredP.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6, s"($lon,$lat)")
    }
  }

  test("TOWGS84 clause composes the datum Helmert; compound CRS unwrap to the horizontal") {
    // the Swiss .prj as GDAL writes it, WITH the GRANIT87 TOWGS84 — the
    // parsed chain must match the registry-wired 21781 (Helmert included)
    val swiss =
      """PROJCS["CH1903 / LV03", GEOGCS["CH1903",
        | DATUM["CH1903", SPHEROID["Bessel 1841",6377397.155,299.1528128],
        | TOWGS84[674.374,15.056,405.346,0,0,0,0]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],
        | PARAMETER["latitude_of_center",46.9524055555556],
        | PARAMETER["longitude_of_center",7.43958333333333],
        | PARAMETER["azimuth",90], PARAMETER["rectified_grid_angle",90],
        | PARAMETER["scale_factor",1],
        | PARAMETER["false_easting",600000], PARAMETER["false_northing",200000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(swiss).getOrElse(fail("Swiss TOWGS84 WKT did not parse"))
    val wired = CrsTransform.chain(4326, 21781)
    for ((lon, lat) <- Seq((7.44, 46.95), (8.55, 47.37))) {
      val (x1, y1) = parsed.forward(lon, lat)
      val (x2, y2) = wired.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-3 && math.abs(y1 - y2) < 1e-3,
        s"($lon,$lat): parsed=($x1,$y1) wired=($x2,$y2)")
      val (lo, la) = parsed.inverse(x1, y1)
      assert(math.abs(lo - lon) < 5e-8 && math.abs(la - lat) < 5e-8)
    }
    // all-zero TOWGS84 stays the null shift (no spurious Helmert wrap)
    val zeroed = swiss.replace("TOWGS84[674.374,15.056,405.346,0,0,0,0]",
      "TOWGS84[0,0,0,0,0,0,0]")
    val pz = ProjParse.parse(zeroed).get
    val bare = HotineOM(latC = 46.9524055555556, lonC = 7.43958333333333,
      alphaC = 90.0, gammaC = 90.0, k0 = 1.0, fe = 600000.0, fn = 200000.0,
      variantB = true, a = BESSEL_A, flattening = BESSEL_F)
    val (zx, zy) = pz.forward(8.55, 47.37)
    val (bx, by) = bare.forward(8.55, 47.37)
    assert(math.abs(zx - bx) < 1e-6 && math.abs(zy - by) < 1e-6)
    // geographic CRS with TOWGS84: the datum shift alone (OSGB36-style)
    val geogTow =
      """GEOGCS["OSGB 1936", DATUM["OSGB_1936",
        | SPHEROID["Airy 1830",6377563.396,299.3249646],
        | TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]]"""
        .stripMargin.replace("\n", "")
    val pg = ProjParse.parse(geogTow).getOrElse(fail("GEOGCS TOWGS84 did not parse"))
    val wiredOsgb = CrsTransform.forEpsg(4277).get
    val (gx, gy) = pg.forward(-0.1278, 51.5074)
    val (wx, wy) = wiredOsgb.forward(-0.1278, 51.5074)
    // the published TOWGS84 set differs from the OS sign convention set by
    // rounding only; metres-scale datum, agreement within ~1e-6 deg
    assert(math.abs(gx - wx) < 1e-5 && math.abs(gy - wy) < 1e-5, s"($gx,$gy) vs ($wx,$wy)")
    // compound CRS unwraps to the horizontal member
    val compound = s"""COMPD_CS["Swiss LV03 + LN02 height", $swiss,
      | VERT_CS["LN02 height", VERT_DATUM["LN02", 2005], UNIT["metre",1],
      | AXIS["Gravity-related height", UP]]]""".stripMargin.replace("\n", "")
    val pc = ProjParse.parse(compound).getOrElse(fail("compound CRS did not parse"))
    val (cx, cy) = pc.forward(8.55, 47.37)
    val (sx, sy) = parsed.forward(8.55, 47.37)
    assert(math.abs(cx - sx) < 1e-9 && math.abs(cy - sy) < 1e-9)
  }

  test("COMPD_CS with ftUS horizontal + metre vertical keeps the ftUS axis unit") {
    // state-plane-style LCC in US survey feet; the VERT_CS metre unit must
    // NOT be mistaken for the projected axis unit (would skew by ~3.28x)
    val horiz =
      """PROJCS["NAD83 / Texas North Central (ftUS)",
        | GEOGCS["NAD83", DATUM["North_American_Datum_1983",
        |  SPHEROID["GRS 1980",6378137,298.257222101]],
        |  PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Lambert_Conformal_Conic_2SP"],
        | PARAMETER["standard_parallel_1",32.13333333333333],
        | PARAMETER["standard_parallel_2",33.96666666666667],
        | PARAMETER["latitude_of_origin",31.66666666666667],
        | PARAMETER["central_meridian",-98.5],
        | PARAMETER["false_easting",1968500],
        | PARAMETER["false_northing",6561666.666666666],
        | UNIT["US survey foot",0.3048006096012192]]""".stripMargin.replace("\n", "")
    val compound = s"""COMPD_CS["TX NC ftUS + NAVD88 height", $horiz,
      | VERT_CS["NAVD88 height", VERT_DATUM["NAVD88", 2005], UNIT["metre",1],
      | AXIS["Gravity-related height", UP]]]""".stripMargin.replace("\n", "")
    val ph = ProjParse.parse(horiz).getOrElse(fail("ftUS PROJCS did not parse"))
    val pc = ProjParse.parse(compound).getOrElse(fail("ftUS COMPD_CS did not parse"))
    val (hx, hy) = ph.forward(-97.0, 32.8)
    val (cx, cy) = pc.forward(-97.0, 32.8)
    assert(math.abs(cx - hx) < 1e-6 && math.abs(cy - hy) < 1e-6,
      s"compound ($cx,$cy) diverged from horizontal member ($hx,$hy)")
    // and the unit really is feet: the same LCC in metres differs by 3.28x
    val metric = horiz.replace("""UNIT["US survey foot",0.3048006096012192]""",
      """UNIT["metre",1]""").replace("1968500", "600000").replace("6561666.666666666", "2000000")
    val pm = ProjParse.parse(metric).get
    val (mx, _) = pm.forward(-97.0, 32.8)
    assert(math.abs((hx - 1968500.0) / (mx - 600000.0) - 1 / 0.3048006096012192) < 1e-6)
  }

  test("PROJJSON BoundCRS composes the transformation Helmert (Dutch RD, pyproj shape)") {
    val bound =
      """{"type": "BoundCRS",
        |"source_crs": {"type": "ProjectedCRS", "name": "Amersfoort / RD New",
        | "base_crs": {"type": "GeographicCRS", "name": "Amersfoort",
        |  "datum": {"type": "GeodeticReferenceFrame", "name": "Amersfoort",
        |   "ellipsoid": {"name": "Bessel 1841", "semi_major_axis": 6377397.155,
        |    "inverse_flattening": 299.1528128}}},
        | "conversion": {"name": "RD New",
        |  "method": {"name": "Oblique Stereographic", "id": {"authority": "EPSG", "code": 9809}},
        |  "parameters": [
        |   {"name": "Latitude of natural origin", "value": 52.1561605555556, "unit": "degree"},
        |   {"name": "Longitude of natural origin", "value": 5.38763888888889, "unit": "degree"},
        |   {"name": "Scale factor at natural origin", "value": 0.9999079, "unit": "unity"},
        |   {"name": "False easting", "value": 155000, "unit": "metre"},
        |   {"name": "False northing", "value": 463000, "unit": "metre"}]},
        | "coordinate_system": {"subtype": "Cartesian", "axis": [
        |  {"name": "Easting", "abbreviation": "X", "direction": "east", "unit": "metre"},
        |  {"name": "Northing", "abbreviation": "Y", "direction": "north", "unit": "metre"}]}},
        |"target_crs": {"type": "GeographicCRS", "name": "WGS 84"},
        |"transformation": {"name": "Amersfoort to WGS 84 (4)",
        | "method": {"name": "Position Vector transformation (geog2D domain)",
        |  "id": {"authority": "EPSG", "code": 9606}},
        | "parameters": [
        |  {"name": "X-axis translation", "value": 565.2369, "unit": "metre"},
        |  {"name": "Y-axis translation", "value": 50.0087, "unit": "metre"},
        |  {"name": "Z-axis translation", "value": 465.658, "unit": "metre"},
        |  {"name": "X-axis rotation", "value": -0.406857,
        |   "unit": {"type": "AngularUnit", "name": "arc-second", "conversion_factor": 4.84813681109536e-06}},
        |  {"name": "Y-axis rotation", "value": 0.350733,
        |   "unit": {"type": "AngularUnit", "name": "arc-second", "conversion_factor": 4.84813681109536e-06}},
        |  {"name": "Z-axis rotation", "value": -1.87035,
        |   "unit": {"type": "AngularUnit", "name": "arc-second", "conversion_factor": 4.84813681109536e-06}},
        |  {"name": "Scale difference", "value": 4.0812,
        |   "unit": {"type": "ScaleUnit", "name": "parts per million", "conversion_factor": 1e-06}}]}}"""
        .stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(bound).getOrElse(fail("BoundCRS did not parse"))
    val wired = CrsTransform.chain(4326, 28992)
    for ((lon, lat) <- Seq((4.9, 52.37), (5.5, 51.44))) {
      val (x1, y1) = parsed.forward(lon, lat)
      val (x2, y2) = wired.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-3 && math.abs(y1 - y2) < 1e-3,
        s"($lon,$lat): parsed=($x1,$y1) wired=($x2,$y2)")
      val (lo, la) = parsed.inverse(x1, y1)
      // ObliqueStereo's Newton inverse + the h=0 Helmert roundtrip: ~1e-7 deg
      assert(math.abs(lo - lon) < 2e-7 && math.abs(la - lat) < 2e-7)
    }
  }

  test("geographic WKT resolves to identity (null datum shift)") {
    val wkt =
      """GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",
        |SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],
        |UNIT["Degree",0.0174532925199433]]""".stripMargin.replace("\n", "")
    val t = ProjParse.parse(wkt).getOrElse(fail("GEOGCS did not parse"))
    assert(t.forward(12.5, -33.25) == ((12.5, -33.25)))
  }

  test("unsupported projection method returns None, not garbage") {
    val wkt = """PROJCS["X",GEOGCS["G",DATUM["D",SPHEROID["S",6378137.0,298.257]],
                |PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
                |PROJECTION["Bonne"],PARAMETER["False_Easting",0.0],
                |UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    assert(ProjParse.parse(wkt).isEmpty)
    // Laborde parses to its OWN math (round 20), never the Hotine family:
    // the name overlap must not route it to HotineOM. Azimuth is REQUIRED
    // (r21, r20 advice) — the routing WKT must carry one
    val laborde = wkt
      .replace("\"Bonne\"", "\"Laborde_Oblique_Mercator\"")
      .replace("PARAMETER[\"False_Easting\",0.0],",
        "PARAMETER[\"False_Easting\",0.0],PARAMETER[\"azimuth\",18.9],")
    assert(ProjParse.parse(laborde).exists(_.isInstanceOf[LabordeOM]))
  }

  test("Hotine Oblique Mercator variant B worked example (EPSG GN7-2: Timbalai 1948 / RSO Borneo)") {
    val t = HotineOM(latC = 4.0, lonC = 115.0,
      alphaC = 53.0 + 18.0 / 60 + 56.9537 / 3600,
      gammaC = 53.0 + 7.0 / 60 + 48.3685 / 3600,
      k0 = 0.99984, fe = 590476.87, fn = 442857.65, variantB = true,
      a = 6377298.556, flattening = 1.0 / 300.8017) // Everest 1830 (1967)
    val lon = 115.0 + 48.0 / 60 + 19.8196 / 3600
    val lat = 5.0 + 23.0 / 60 + 14.1129 / 3600
    val (e, n) = t.forward(lon, lat)
    assert(math.abs(e - 679245.73) < 0.05, s"easting $e")
    assert(math.abs(n - 596562.78) < 0.05, s"northing $n")
    val (lo, la) = t.inverse(e, n)
    assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"roundtrip ($lo,$la)")
  }

  test("Swiss LV03/LV95 (alpha = 90 variant B): Bern origin exact, roundtrip, LV95 offset") {
    val bernLon = 7.0 + 26.0 / 60 + 22.50 / 3600
    val bernLat = 46.0 + 57.0 / 60 + 8.66 / 3600
    val lv03 = HotineOM(latC = bernLat, lonC = bernLon, alphaC = 90.0, gammaC = 90.0,
      k0 = 1.0, fe = 600000.0, fn = 200000.0, variantB = true,
      a = BESSEL_A, flattening = BESSEL_F)
    val (e0, n0) = lv03.forward(bernLon, bernLat)
    assert(math.abs(e0 - 600000.0) < 1e-3 && math.abs(n0 - 200000.0) < 1e-3,
      s"Bern origin ($e0,$n0)")
    for ((lon, lat) <- Seq((8.55, 47.37), (6.15, 46.2), (9.84, 46.5))) {
      val (e, n) = lv03.forward(lon, lat)
      val (lo, la) = lv03.inverse(e, n)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"roundtrip ($lon,$lat)")
    }
    // LV95 (2056) differs from LV03 (21781) by exactly +2,000,000 / +1,000,000
    val c03 = CrsTransform.chain(4326, 21781)
    val c95 = CrsTransform.chain(4326, 2056)
    val (x3, y3) = c03.forward(8.55, 47.37)
    val (x9, y9) = c95.forward(8.55, 47.37)
    assert(math.abs(x9 - x3 - 2000000.0) < 1e-6 && math.abs(y9 - y3 - 1000000.0) < 1e-6)
    // independent oracle: swisstopo's published approximate formulas for
    // WGS84 -> LV03 (accuracy ~1 m) evaluated at a Rigi-area point give
    // E=679602.74, N=212421.91; the rigorous chain (GRANIT87 Helmert +
    // exact HOM) must land within that formula's own error budget
    val (re, rn) = c95.forward(8.0 + 29.0 / 60 + 11.11127154 / 3600,
      47.0 + 3.0 / 60 + 28.95659233 / 3600)
    assert(math.abs(re - 2679602.74) < 1.0 && math.abs(rn - 1212421.91) < 1.0,
      s"Rigi ($re,$rn)")
  }

  test("Krovak worked example (EPSG GN7-2: S-JTSK, Bessel) + East North orientation") {
    val t = Krovak(latC = 49.5, lonO = 24.0 + 50.0 / 60,
      alphaC = 30.0 + 17.0 / 60 + 17.3031 / 3600, latP1 = 78.5, kP = 0.9999,
      fe = 0.0, fn = 0.0, eastNorth = false)
    val lon = 16.0 + 50.0 / 60 + 59.1790 / 3600
    val lat = 50.0 + 12.0 / 60 + 32.4416 / 3600
    val (xSouth, yWest) = t.forward(lon, lat)
    assert(math.abs(xSouth - 1050538.63) < 0.05, s"southing $xSouth")
    assert(math.abs(yWest - 568991.00) < 0.05, s"westing $yWest")
    val (lo, la) = t.inverse(xSouth, yWest)
    // the oblique-sphere asin chain carries ~1e-8 deg (sub-mm) of rounding
    assert(math.abs(lo - lon) < 1e-8 && math.abs(la - lat) < 1e-8, s"roundtrip ($lo,$la)")
    // 5514 East North = both axes negated; full chain roundtrips
    val en = Krovak(latC = 49.5, lonO = 24.0 + 50.0 / 60,
      alphaC = 30.0 + 17.0 / 60 + 17.3031 / 3600, latP1 = 78.5, kP = 0.9999,
      fe = 0.0, fn = 0.0, eastNorth = true)
    val (xe, yn) = en.forward(lon, lat)
    assert(math.abs(xe + yWest) < 1e-9 && math.abs(yn + xSouth) < 1e-9)
    val c = CrsTransform.chain(4326, 5514)
    val (px, py) = c.forward(14.42, 50.09) // Prague
    assert(px < -500000 && px > -1000000 && py < -900000 && py > -1300000, s"Prague ($px,$py)")
    val (plo, pla) = c.inverse(px, py)
    assert(math.abs(plo - 14.42) < 1e-8 && math.abs(pla - 50.09) < 1e-8)
  }

  test("NZMG (EPSG 9811): series vs closed-form isometric latitude, worked example, WKT") {
    val nz = Nzmg()
    // the defining origin maps to the false origin exactly
    assert(nz.forward(173.0, -41.0) == ((2510000.0, 6023150.0)))
    // the 10-term psi series IS the Taylor fit of the true isometric
    // latitude on International 1924 about 41S — validate every coefficient
    // against the closed form across the grid's latitude domain (a single
    // wrong digit shows up orders of magnitude above this tolerance)
    val e = math.sqrt((1.0 / 297) * (2 - 1.0 / 297))
    def iso(latDeg: Double): Double = {
      val p = math.toRadians(latDeg); val es = e * math.sin(p)
      math.log(math.tan(math.Pi / 4 + p / 2) * math.pow((1 - es) / (1 + es), e / 2))
    }
    for (k <- 0 to 60) {
      val latD = -48.0 + k * 0.25
      val truth = iso(latD) - iso(-41.0)
      assert(math.abs(nz.poly(nz.tpsi, (latD + 41.0) * 0.036) - truth) < 5e-9,
        s"tpsi series diverges from the closed-form isometric latitude at $latD")
      // 5e-9 = the published series' own fit residual over the domain; a
      // single wrong digit would miss by >= 1e-6
      assert(math.abs(nz.poly(nz.tphi, truth) - (latD + 41.0) * 0.036) < 5e-9,
        s"tphi series is not the inverse of the isometric latitude at $latD")
    }
    // published test point (LINZ conversion example, NZGD49 lat/lon):
    // 0.5 m tolerance = the point's 1e-6-degree quantization (~0.11 m)
    // plus transcription headroom; measured agreement is ~0.04 m
    val (we, wn) = nz.forward(172.739194, -34.444066)
    assert(math.abs(we - 2487100.64) < 0.5, s"easting $we")
    assert(math.abs(wn - 6751049.72) < 0.5, s"northing $wn")
    // Newton inverse round-trips across the grid's domain
    for ((lon, lat) <- Seq((172.739194, -34.444066), (174.777, -41.289),
      (168.0, -46.5), (178.0, -37.5), (166.5, -45.9))) {
      val (x, y) = nz.forward(lon, lat)
      val (lo, la) = nz.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"roundtrip ($lon,$lat)")
    }
    // WKT1 parse reaches the same transform; a non-NZMG origin raises
    val wkt =
      """PROJCS["NZGD49 / New Zealand Map Grid", GEOGCS["NZGD49",
        | DATUM["New_Zealand_Geodetic_Datum_1949",
        | SPHEROID["International 1924",6378388,297]], PRIMEM["Greenwich",0],
        | UNIT["degree",0.0174532925199433]],
        | PROJECTION["New_Zealand_Map_Grid"],
        | PARAMETER["latitude_of_origin",-41], PARAMETER["central_meridian",173],
        | PARAMETER["false_easting",2510000], PARAMETER["false_northing",6023150],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).get
    assert(parsed.forward(174.777, -41.289) == nz.forward(174.777, -41.289))
    val badWkt = wkt.replace("\"central_meridian\",173", "\"central_meridian\",170")
    intercept[IllegalArgumentException](ProjParse.parse(badWkt))
    // registry code: 27200 chains (WGS84 round-trip through the NZGD49 Helmert)
    val c = CrsTransform.chain(4326, 27200)
    val (ax, ay) = c.forward(174.76, -36.85) // Auckland
    assert(ax > 2600000 && ax < 2700000 && ay > 6400000 && ay < 6550000, s"($ax,$ay)")
    val (alo, ala) = c.inverse(ax, ay)
    // 1e-7 deg (~1 cm): the Helmert XYZ<->geodetic legs carry their own
    // iteration residual on top of the projection's exact Newton inverse
    assert(math.abs(alo - 174.76) < 1e-7 && math.abs(ala + 36.85) < 1e-7)
  }

  test("Laborde (EPSG 9813): GN7-2 worked example, Hotine agreement near centre, WKT") {
    val lamC = 44.1 + (2.0 + 20.0 / 60 + 14.025 / 3600) // 49 grads E of Paris
    val lab = LabordeOM(latC = -18.9, lonC = lamC, azimuthDeg = 18.9, k0 = 0.9995,
      fe = 400000.0, fn = 800000.0)
    // projection centre -> false origin
    val (c0e, c0n) = lab.forward(lamC, -18.9)
    assert(math.abs(c0e - 400000.0) < 1e-3 && math.abs(c0n - 800000.0) < 1e-3)
    // EPSG GN7-2 worked example (Tananarive / Laborde Grid):
    // 16d11'23.28"S, 44d27'27.26"E -> E 188333.848, N 1098841.091
    val la = -(16 + 11.0 / 60 + 23.28 / 3600)
    val lo = 44 + 27.0 / 60 + 27.26 / 3600
    val (we, wn) = lab.forward(lo, la)
    assert(math.abs(we - 188333.848) < 0.01, s"easting $we")
    assert(math.abs(wn - 1098841.091) < 0.01, s"northing $wn")
    // Newton inverse round-trips
    for ((lonT, latT) <- Seq((lo, la), (lamC, -18.9), (49.3, -12.3), (47.1, -25.0))) {
      val (x, y) = lab.forward(lonT, latT)
      val (rlo, rla) = lab.inverse(x, y)
      assert(math.abs(rlo - lonT) < 1e-8 && math.abs(rla - latT) < 1e-8, s"roundtrip ($lonT,$latT)")
    }
    // independent cross-check: near the centre Laborde agrees with the
    // repo's Hotine OM (same centre/azimuth/k0) to sub-mm — both are
    // conformal oblique Mercators matching scale along the initial line —
    // while the cubic G H^3 term makes them diverge farther out
    val hom = HotineOM(latC = -18.9, lonC = lamC, alphaC = 18.9, gammaC = 18.9,
      k0 = 0.9995, fe = 400000.0, fn = 800000.0, variantB = true,
      a = INTL_A, flattening = 1.0 / 297)
    def diffAt(d: Double): Double = {
      val (lx, ly) = lab.forward(lamC + d, -18.9 + d / 2)
      val (hx, hy) = hom.forward(lamC + d, -18.9 + d / 2)
      math.hypot(lx - hx, ly - hy)
    }
    assert(diffAt(0.05) < 1e-3 && diffAt(0.25) < 1e-3,
      s"near-centre Hotine disagreement: ${diffAt(0.25)} m")
    assert(diffAt(3.0) > diffAt(0.25), "the cubic term must separate the projections away from centre")
    // WKT1 (ESRI Laborde_Oblique_Mercator spelling) parses to the same math
    val wkt =
      """PROJCS["Tananarive 1925 / Laborde Grid", GEOGCS["Tananarive 1925",
        | DATUM["Tananarive_1925", SPHEROID["International 1924",6378388,297]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Laborde_Oblique_Mercator"],
        | PARAMETER["latitude_of_center",-18.9],
        | PARAMETER["longitude_of_center",46.43722916666667],
        | PARAMETER["azimuth",18.9], PARAMETER["scale_factor",0.9995],
        | PARAMETER["false_easting",400000], PARAMETER["false_northing",800000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).get
    val (pe, pn) = parsed.forward(lo, la)
    assert(math.abs(pe - we) < 1e-6 && math.abs(pn - wn) < 1e-6)
    // registry codes 29701/29702 chain through the Tananarive datum shift
    val c = CrsTransform.chain(4326, 29701)
    val (tx, ty) = c.forward(47.52, -18.91) // Antananarivo
    assert(tx > 480000 && tx < 560000 && ty > 780000 && ty < 820000, s"($tx,$ty)")
    val (tlo, tla) = c.inverse(tx, ty)
    assert(math.abs(tlo - 47.52) < 1e-7 && math.abs(tla + 18.91) < 1e-7)
    // a Laborde definition WITHOUT an azimuth must raise loudly (r20
    // advice) — never silently assume the Madagascar 18.9
    val noAz = wkt.replace("""PARAMETER["azimuth",18.9], """, "")
    val err = intercept[IllegalArgumentException] { ProjParse.parse(noAz) }
    assert(err.getMessage.contains("azimuth"))
  }

  test("Cassini-Soldner worked example (EPSG GN7-2: Trinidad 1903, Clarke 1858, links)") {
    // a = 20,926,348 ft = 31,706,587.88 Clarke's links; grid in links
    val t = Cassini(lat0 = 10.0 + 26.0 / 60 + 30.0 / 3600, lon0 = -(61.0 + 20.0 / 60),
      fe = 430000.0, fn = 325000.0, a = 31706587.88, flattening = 1.0 / 294.2606764)
    val (e, n) = t.forward(-62.0, 10.0)
    assert(math.abs(e - 66644.94) < 0.05, s"easting $e")
    assert(math.abs(n - 82536.22) < 0.05, s"northing $n")
    val (lo, la) = t.inverse(e, n)
    assert(math.abs(lo + 62.0) < 1e-8 && math.abs(la - 10.0) < 1e-8, s"roundtrip ($lo,$la)")
    // WKT spelling resolves to the same surface
    val wkt =
      """PROJCS["Trinidad 1903 / Trinidad Grid", GEOGCS["Trinidad 1903",
        | DATUM["Trinidad_1903", SPHEROID["Clarke 1858",6378293.645208759,294.2606764]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Cassini_Soldner"],
        | PARAMETER["latitude_of_origin",10.44166666666667],
        | PARAMETER["central_meridian",-61.33333333333334],
        | PARAMETER["false_easting",430000], PARAMETER["false_northing",325000],
        | UNIT["Clarke's link",0.201166195164]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).getOrElse(fail("Cassini WKT did not parse"))
    val (xp, yp) = parsed.forward(-62.0, 10.0)
    // meters-spheroid + link axis unit reproduce the links-native grid
    assert(math.abs(xp - e) < 0.01 && math.abs(yp - n) < 0.01, s"parsed ($xp,$yp)")
  }

  test("Equidistant Cylindrical (EPSG:4087/32662): exact parallel/meridian arcs, roundtrip") {
    val t = CrsTransform.chain(4326, 4087)
    // equator easting is the exact parallel arc: a * lambda
    val (e0, n0) = t.forward(10.0, 0.0)
    assert(math.abs(e0 - 6378137.0 * math.toRadians(10.0)) < 1e-6 && math.abs(n0) < 1e-9)
    // EPSG GN7-2 worked-example shape: 10E 55N on WGS84
    val (e, n) = t.forward(10.0, 55.0)
    assert(math.abs(e - 1113194.91) < 0.05, s"easting $e")
    assert(math.abs(n - 6097230.31) < 0.05, s"northing $n")
    val (lo, la) = t.inverse(e, n)
    // footpoint-latitude series truncation is ~4e-9 deg (sub-mm)
    assert(math.abs(lo - 10.0) < 1e-8 && math.abs(la - 55.0) < 1e-8)
    // 32662 Plate Carree is the same surface; ESRI WKT spelling parses
    val t2 = CrsTransform.chain(4326, 32662)
    assert(t2.forward(10.0, 55.0) == ((e, n)))
    val esri =
      """PROJCS["World_Equidistant_Cylindrical", GEOGCS["GCS_WGS_1984",
        | DATUM["D_WGS_1984", SPHEROID["WGS_1984",6378137.0,298.257223563]],
        | PRIMEM["Greenwich",0.0], UNIT["Degree",0.0174532925199433]],
        | PROJECTION["Equidistant_Cylindrical"],
        | PARAMETER["False_Easting",0.0], PARAMETER["False_Northing",0.0],
        | PARAMETER["Central_Meridian",0.0], PARAMETER["Standard_Parallel_1",0.0],
        | UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(esri).getOrElse(fail("EqCyl WKT did not parse"))
    val (xp, yp) = parsed.forward(10.0, 55.0)
    assert(math.abs(xp - e) < 1e-6 && math.abs(yp - n) < 1e-6)
  }

  test("Azimuthal Equidistant (54032): centre distance/azimuth exact (self-oracle), roundtrip") {
    def gc(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      // great-circle angular distance (haversine)
      val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
      val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
      2 * math.asin(math.sqrt(math.pow(math.sin(dp / 2), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl / 2), 2)))
    }
    val centres = Seq((0.0, 0.0), (8.54, 47.37), (-70.0, -33.45))
    for ((c0lon, c0lat) <- centres) {
      val t = AzimuthalEquidistant(lat0 = c0lat, lon0 = c0lon)
      for ((lon, lat) <- Seq((10.0, 50.0), (-120.0, 35.0), (151.2, -33.87), (c0lon, c0lat))) {
        val (x, y) = t.forward(lon, lat)
        val want = WGS84_A * gc(c0lat, c0lon, lat, lon)
        assert(math.abs(math.sqrt(x * x + y * y) - want) < 1e-6,
          s"centre ($c0lon,$c0lat) -> ($lon,$lat): rho=${math.sqrt(x * x + y * y)} want=$want")
        val (lo, la) = t.inverse(x, y)
        assert(math.abs(lo - lon) < 1e-9 && math.abs(la - lat) < 1e-9, s"roundtrip ($lo,$la)")
      }
    }
    // ESRI WKT spelling resolves to the wired 54032
    val esri =
      """PROJCS["World_Azimuthal_Equidistant", GEOGCS["GCS_WGS_1984",
        | DATUM["D_WGS_1984", SPHEROID["WGS_1984",6378137.0,298.257223563]],
        | PRIMEM["Greenwich",0.0], UNIT["Degree",0.0174532925199433]],
        | PROJECTION["Azimuthal_Equidistant"],
        | PARAMETER["False_Easting",0.0], PARAMETER["False_Northing",0.0],
        | PARAMETER["Central_Meridian",0.0], PARAMETER["Latitude_Of_Origin",0.0],
        | UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(esri).getOrElse(fail("AEQD WKT did not parse"))
    val wired = CrsTransform.chainStr("EPSG:4326", "ESRI:54032")
    for ((lon, lat) <- Seq((10.0, 50.0), (-60.0, -20.0))) {
      val (x1, y1) = parsed.forward(lon, lat)
      val (x2, y2) = wired.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6)
    }
    // the ellipsoidal Modified Azimuthal Equidistant (EPSG 9832) must raise
    val modified = esri.replace("\"Azimuthal_Equidistant\"", "\"Modified_Azimuthal_Equidistant\"")
    assert(ProjParse.parse(modified).isEmpty)
  }

  test("Polyconic (29101 Brazil): defining properties as self-oracle, roundtrip") {
    val aG = 6378160.0; val fG = 1.0 / 298.25
    val t = Polyconic(lat0 = 0.0, lon0 = -54.0, fe = 5000000.0, fn = 10000000.0,
      a = aG, flattening = fG)
    val e2 = fG * (2 - fG)
    def mArc(latDeg: Double): Double = {
      val phi = math.toRadians(latDeg)
      aG * ((1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * math.pow(e2, 3) / 256) * phi
        - (3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * math.pow(e2, 3) / 1024) * math.sin(2 * phi)
        + (15 * e2 * e2 / 256 + 45 * math.pow(e2, 3) / 1024) * math.sin(4 * phi)
        - (35 * math.pow(e2, 3) / 3072) * math.sin(6 * phi))
    }
    // 1) central meridian exact: x = FE, y = FN + M(phi)
    for (lat <- Seq(-30.0, -15.5, 0.0, 5.0)) {
      val (x, y) = t.forward(-54.0, lat)
      assert(math.abs(x - 5000000.0) < 1e-6 && math.abs(y - (10000000.0 + mArc(lat))) < 1e-6,
        s"CM at $lat: ($x,$y)")
    }
    // 2) every parallel is a circle of radius nu*cot(phi) centered on the
    //    CM at y = FN + M(phi) + nu*cot(phi); 3) true to scale along it
    //    (arc angle E = dl*sin(phi))
    for (lat <- Seq(-25.0, -10.0); lonOff <- Seq(-8.0, 3.0, 12.0)) {
      val phi = math.toRadians(lat)
      val nuCot = aG / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi)) / math.tan(phi)
      val cy = 10000000.0 + mArc(lat) + nuCot
      val (x, y) = t.forward(-54.0 + lonOff, lat)
      val r = math.sqrt((x - 5000000.0) * (x - 5000000.0) + (y - cy) * (y - cy))
      assert(math.abs(r - math.abs(nuCot)) < 1e-5, s"radius at ($lonOff,$lat): $r vs $nuCot")
      val ang = math.atan2(x - 5000000.0, -(y - cy) * math.signum(nuCot))
      assert(math.abs(math.abs(ang) - math.abs(math.toRadians(lonOff) * math.sin(phi))) < 1e-9,
        s"arc angle at ($lonOff,$lat)")
      val (lo, la) = t.inverse(x, y)
      assert(math.abs(lo - (-54.0 + lonOff)) < 1e-8 && math.abs(la - lat) < 1e-8)
    }
    // the wired chain (SAD69 Helmert) roundtrips; Brasilia lands in-grid
    val c = CrsTransform.chain(4326, 29101)
    val (bx, by) = c.forward(-47.88, -15.79)
    assert(bx > 5000000 && bx < 6000000 && by > 8000000 && by < 8500000, s"($bx,$by)")
    val (blo, bla) = c.inverse(bx, by)
    assert(math.abs(blo + 47.88) < 1e-7 && math.abs(bla + 15.79) < 1e-7)
    // WKT spelling parses to the same projection surface
    val wkt =
      """PROJCS["SAD69 / Brazil Polyconic", GEOGCS["SAD69",
        | DATUM["South_American_Datum_1969",
        | SPHEROID["GRS 1967 Modified",6378160,298.25]],
        | PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Polyconic"],
        | PARAMETER["latitude_of_origin",0], PARAMETER["central_meridian",-54],
        | PARAMETER["false_easting",5000000], PARAMETER["false_northing",10000000],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).getOrElse(fail("Polyconic WKT did not parse"))
    val (px, py) = parsed.forward(-47.88, -15.79)
    val (wx, wy) = t.forward(-47.88, -15.79)
    assert(math.abs(px - wx) < 1e-6 && math.abs(py - wy) < 1e-6)
  }

  test("HOM/Krovak WKT spellings parse to the wired projections (incl. Ferro prime meridian)") {
    val esriSwiss =
      """PROJCS["CH1903_LV03", GEOGCS["GCS_CH1903", DATUM["D_CH1903",
        | SPHEROID["Bessel_1841",6377397.155,299.1528128]], PRIMEM["Greenwich",0.0],
        | UNIT["Degree",0.0174532925199433]],
        | PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],
        | PARAMETER["False_Easting",600000.0], PARAMETER["False_Northing",200000.0],
        | PARAMETER["Scale_Factor",1.0], PARAMETER["Azimuth",90.0],
        | PARAMETER["Longitude_Of_Center",7.43958333333333],
        | PARAMETER["Latitude_Of_Center",46.9524055555556],
        | UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")
    val parsedSwiss = ProjParse.parse(esriSwiss).getOrElse(fail("Swiss WKT did not parse"))
    val wiredSwiss = HotineOM(latC = 46.9524055555556, lonC = 7.43958333333333,
      alphaC = 90.0, gammaC = 90.0, k0 = 1.0, fe = 600000.0, fn = 200000.0,
      variantB = true, a = BESSEL_A, flattening = BESSEL_F)
    for ((lon, lat) <- Seq((8.55, 47.37), (6.6, 46.5))) {
      val (x1, y1) = parsedSwiss.forward(lon, lat)
      val (x2, y2) = wiredSwiss.forward(lon, lat)
      assert(math.abs(x1 - x2) < 1e-6 && math.abs(y1 - y2) < 1e-6, s"Swiss ($lon,$lat)")
    }
    // WKT2 Krovak (East North), Greenwich longitudes — the EPSG:5514 shape
    val wkt2Krovak =
      """PROJCRS["S-JTSK / Krovak East North", BASEGEOGCRS["S-JTSK",
        | DATUM["System of the Unified Trigonometrical Cadastral Network",
        | ELLIPSOID["Bessel 1841",6377397.155,299.1528128,LENGTHUNIT["metre",1]]]],
        | CONVERSION["Krovak East North",
        | METHOD["Krovak (East North)",ID["EPSG",1041]],
        | PARAMETER["Latitude of projection centre",49.5,ANGLEUNIT["degree",0.0174532925199433]],
        | PARAMETER["Longitude of origin",24.8333333333333,ANGLEUNIT["degree",0.0174532925199433]],
        | PARAMETER["Co-latitude of cone axis",30.2881397527778,ANGLEUNIT["degree",0.0174532925199433]],
        | PARAMETER["Latitude of pseudo standard parallel",78.5,ANGLEUNIT["degree",0.0174532925199433]],
        | PARAMETER["Scale factor on pseudo standard parallel",0.9999,SCALEUNIT["unity",1]],
        | PARAMETER["False easting",0,LENGTHUNIT["metre",1]],
        | PARAMETER["False northing",0,LENGTHUNIT["metre",1]],
        | CS[Cartesian,2],
        | AXIS["easting (X)",east,ORDER[1],LENGTHUNIT["metre",1]],
        | AXIS["northing (Y)",north,ORDER[2],LENGTHUNIT["metre",1]]]"""
        .stripMargin.replace("\n", "")
    val parsedK = ProjParse.parse(wkt2Krovak).getOrElse(fail("Krovak WKT2 did not parse"))
    val wiredK = Krovak(latC = 49.5, lonO = 24.0 + 50.0 / 60,
      alphaC = 30.0 + 17.0 / 60 + 17.3031 / 3600, latP1 = 78.5, kP = 0.9999,
      fe = 0.0, fn = 0.0, eastNorth = true)
    // WKT1 with a FERRO prime meridian: longitudes shift by -17°40'
    val ferroKrovak =
      """PROJCS["S-JTSK (Ferro) / Krovak East North", GEOGCS["S-JTSK (Ferro)",
        | DATUM["System_Jednotne_Trigonometricke_Site_Katastralni_Ferro",
        | SPHEROID["Bessel 1841",6377397.155,299.1528128]],
        | PRIMEM["Ferro",-17.66666666666667], UNIT["degree",0.0174532925199433]],
        | PROJECTION["Krovak_East_North"],
        | PARAMETER["latitude_of_center",49.5],
        | PARAMETER["longitude_of_center",42.5],
        | PARAMETER["azimuth",30.2881397527778],
        | PARAMETER["pseudo_standard_parallel_1",78.5],
        | PARAMETER["scale_factor",0.9999],
        | PARAMETER["false_easting",0], PARAMETER["false_northing",0],
        | UNIT["metre",1]]""".stripMargin.replace("\n", "")
    val parsedF = ProjParse.parse(ferroKrovak).getOrElse(fail("Ferro Krovak WKT did not parse"))
    for ((lon, lat) <- Seq((14.42, 50.09), (17.1, 48.15))) {
      val (x1, y1) = parsedK.forward(lon, lat)
      val (x2, y2) = wiredK.forward(lon, lat)
      val (x3, y3) = parsedF.forward(lon, lat)
      // the WKT literals carry decimal-truncated angles (~1e-9 deg), so the
      // surfaces agree to micrometres, not machine epsilon
      assert(math.abs(x1 - x2) < 1e-3 && math.abs(y1 - y2) < 1e-3, s"Krovak WKT2 ($lon,$lat)")
      assert(math.abs(x3 - x2) < 1e-3 && math.abs(y3 - y2) < 1e-3, s"Krovak Ferro ($lon,$lat)")
    }
  }
}

/** End-to-end: toCrs over a frame whose CRS is a full definition with no
  * recoverable EPSG code — the shape a shapefile .prj or GeoParquet PROJJSON
  * arrives in (ref to_crs accepts any pyproj CRS, geoseries.py:1185). */
class ToCrsParamDrivenSpec extends SparkSuite {
  import spark.implicits._

  private val esriWktMd =
    """PROJCS["NAD_1983_StatePlane_Maryland_FIPS_1900",
      |GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",
      |SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],
      |UNIT["Degree",0.0174532925199433]],
      |PROJECTION["Lambert_Conformal_Conic"],
      |PARAMETER["False_Easting",400000.0],PARAMETER["False_Northing",0.0],
      |PARAMETER["Central_Meridian",-77.0],
      |PARAMETER["Standard_Parallel_1",38.3],
      |PARAMETER["Standard_Parallel_2",39.45],
      |PARAMETER["Latitude_Of_Origin",37.66666666666666],
      |UNIT["Meter",1.0]]""".stripMargin.replace("\n", "")

  test("toCrs from a codeless ESRI WKT reprojects via parsed parameters") {
    // the Maryland FIPS name is NOT in the ESRI-name table, so no EPSG code
    assert(CrsTransform.normalizeOpt(esriWktMd).isEmpty)
    val (xw, yw) = CrsTransform.chain(26985, 4326).forward(433000.0, 180000.0)
    val md = graft.api.GeoDataFrame.pointsFromXy(
      Seq((1, 433000.0, 180000.0)).toDF("id", "x", "y"), "x", "y", crs = Some(esriWktMd))
    val out = md.toCrs("EPSG:4326")
    assert(out.activeCrs.contains("EPSG:4326"))
    val (lon, lat) = out.df
      .select(graft.functions.GeoFunctions.st_x(org.apache.spark.sql.functions.col("geometry")),
        graft.functions.GeoFunctions.st_y(org.apache.spark.sql.functions.col("geometry")))
      .as[(Double, Double)].head()
    assert(math.abs(lon - xw) < 1e-9 && math.abs(lat - yw) < 1e-9, s"($lon,$lat) vs ($xw,$yw)")
  }

  test("toCrs INTO a codeless ESRI WKT target keeps the target string as the CRS label") {
    val pt = graft.api.GeoDataFrame.pointsFromXy(
      Seq((1, -76.6122, 39.2904)).toDF("id", "x", "y"), "x", "y", crs = Some("EPSG:4326"))
    val sp = pt.toCrs(esriWktMd)
    assert(sp.activeCrs.contains(esriWktMd))
    val (x, y) = sp.df
      .select(graft.functions.GeoFunctions.st_x(org.apache.spark.sql.functions.col("geometry")),
        graft.functions.GeoFunctions.st_y(org.apache.spark.sql.functions.col("geometry")))
      .as[(Double, Double)].head()
    val (xw, yw) = CrsTransform.chain(4326, 26985).forward(-76.6122, 39.2904)
    assert(math.abs(x - xw) < 1e-6 && math.abs(y - yw) < 1e-6, s"($x,$y) vs ($xw,$yw)")
  }
  test("Two-Point Equidistant: distances from both base points are true (closed-form oracle)") {
    // spherical great-circle distance on R = a — the projection's defining
    // property, so it doubles as the oracle
    def gc(a1: Double, o1: Double, a2: Double, o2: Double): Double = {
      val (p1, l1, p2, l2) = (math.toRadians(a1), math.toRadians(o1),
        math.toRadians(a2), math.toRadians(o2))
      WGS84_A * math.acos(math.max(-1.0, math.min(1.0,
        math.sin(p1) * math.sin(p2) + math.cos(p1) * math.cos(p2) * math.cos(l2 - l1))))
    }
    val t = TwoPointEquidistant(lat1 = 34.0, lon1 = -118.0, lat2 = 40.7, lon2 = -74.0)
    // Sydney sits near the EXTENDED baseline great circle, where the two
    // distance circles meet near-tangentially — the projection's inherent
    // fold (Snyder notes the indeterminacy along that line), so it checks
    // the distance property only, not the inverse
    val probes = Seq((41.9, -87.6), (29.8, -95.4), (47.6, -122.3), (25.8, -80.2),
      (64.8, -147.7), (19.4, -99.1), (-33.9, 151.2))
    val foldProbes = Set((-33.9, 151.2))
    for ((la, lo) <- probes) {
      val (x, y) = t.forward(lo, la)
      val dA = math.hypot(x + WGS84_A * angC(t) / 2, y)
      val dB = math.hypot(x - WGS84_A * angC(t) / 2, y)
      assert(math.abs(dA - gc(la, lo, 34.0, -118.0)) < 1e-6,
        s"($la,$lo): dist to point 1 off by ${dA - gc(la, lo, 34.0, -118.0)}")
      assert(math.abs(dB - gc(la, lo, 40.7, -74.0)) < 1e-6,
        s"($la,$lo): dist to point 2 off by ${dB - gc(la, lo, 40.7, -74.0)}")
      // inverse roundtrip (skipped on the fold line, where the inverse is
      // ill-conditioned by the projection's own geometry)
      if (!foldProbes((la, lo))) {
        val (lo2, la2) = t.inverse(x, y)
        assert(math.abs(lo2 - lo) < 1e-7 && math.abs(la2 - la) < 1e-7, s"roundtrip ($la,$lo) -> ($la2,$lo2)")
      }
    }
    // base points land on the x axis at -c/2 and +c/2; north side has y > 0.
    // y = sqrt(a^2 za^2 - xa^2) cancels catastrophically AT y = 0, leaving
    // ~ a*c*sqrt(ulp) ≈ centimetres of phantom y — inherent to doubles, so
    // the base-point tolerance is 25 cm (world-scale projection)
    val (xa, ya) = t.forward(-118.0, 34.0)
    val (xb, yb) = t.forward(-74.0, 40.7)
    assert(math.abs(ya) < 0.25 && math.abs(yb) < 0.25 && xa < 0 && xb > 0, s"($xa,$ya) ($xb,$yb)")
    // ESRI WKT spelling parses to the same transform (ESRI 54031 layout)
    val wkt =
      """PROJCS["World_Two_Point_Equidistant",
        | GEOGCS["GCS_WGS_1984", DATUM["D_WGS_1984",
        |  SPHEROID["WGS_1984",6378137,298.257223563]],
        |  PRIMEM["Greenwich",0], UNIT["Degree",0.0174532925199433]],
        | PROJECTION["Two_Point_Equidistant"],
        | PARAMETER["False_Easting",10000],
        | PARAMETER["False_Northing",-5000],
        | PARAMETER["Latitude_Of_1st_Point",34],
        | PARAMETER["Longitude_Of_1st_Point",-118],
        | PARAMETER["Latitude_Of_2nd_Point",40.7],
        | PARAMETER["Longitude_Of_2nd_Point",-74],
        | UNIT["Meter",1]]""".stripMargin.replace("\n", "")
    val parsed = ProjParse.parse(wkt).getOrElse(fail("tpeqd WKT did not parse"))
    val (px, py) = parsed.forward(-87.6, 41.9)
    val (tx, ty) = t.forward(-87.6, 41.9)
    assert(math.abs(px - (tx + 10000)) < 1e-6 && math.abs(py - (ty - 5000)) < 1e-6)
    // degenerate base points raise loudly
    intercept[IllegalArgumentException](TwoPointEquidistant(10, 20, 10, 20))
    intercept[IllegalArgumentException](TwoPointEquidistant(10, 20, -10, -160))
  }

  // angular distance between the two base points (mirrors the transform's
  // internal c, recomputed here so the oracle stays independent)
  private def angC(t: TwoPointEquidistant): Double = {
    def v(lo: Double, la: Double) = {
      val p = math.toRadians(la); val l = math.toRadians(lo)
      (math.cos(p) * math.cos(l), math.cos(p) * math.sin(l), math.sin(p))
    }
    val a = v(t.lon1, t.lat1); val b = v(t.lon2, t.lat2)
    math.acos(math.max(-1.0, math.min(1.0, a._1 * b._1 + a._2 * b._2 + a._3 * b._3)))
  }

}
