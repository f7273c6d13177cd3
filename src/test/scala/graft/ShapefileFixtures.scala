package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}

/** Shapefile test fixtures, generated at test time so the suite needs no
  * file outside the repo. The layers stand in for the reference corpus
  * (FIXTURES.md §1-3): a `countries` polygon layer (naturalearth_lowres's
  * schema), a `cities` point layer (naturalearth_cities') and a zipped
  * five-borough `nybb` layer in EPSG:2263. Geometries are axis-aligned
  * rectangles, so every expectation follows from the definitions below.
  *
  * The byte-level .shp/.shx/.dbf writer here follows the published ESRI
  * and dBASE layouts and shares no code with `graft.io.Shapefile`, so a
  * reader bug cannot be cancelled by the same bug in the writer. */
object ShapefileFixtures {

  final case class Rect(x0: Double, y0: Double, x1: Double, y1: Double) {
    def area: Double = (x1 - x0) * (y1 - y0)
    def perimeter: Double = 2 * ((x1 - x0) + (y1 - y0))
  }
  final case class Part(shell: Rect, holes: Seq[Rect] = Nil)
  final case class Country(name: String, continent: String, iso: String,
                           pop: Double, gdp: Double, parts: Seq[Part])
  final case class City(name: String, x: Double, y: Double)
  final case class Borough(code: Long, name: String, parts: Seq[Rect]) {
    def area: Double = parts.map(_.area).sum
    def length: Double = parts.map(_.perimeter).sum
  }

  // ------------------------------------------------------------ the layers

  /** naturalearth_lowres's ESRI .prj: geographic WGS 84, no AUTHORITY. */
  val WgsPrj: String =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],""" +
      """PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""

  /** nybb's ESRI .prj: NAD83 / New York Long Island (ftUS), EPSG:2263. */
  val NyPrj: String =
    """PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",""" +
      """GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",""" +
      """SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],""" +
      """UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],""" +
      """PARAMETER["False_Easting",984250.0],PARAMETER["False_Northing",0.0],""" +
      """PARAMETER["Central_Meridian",-74.0],PARAMETER["Standard_Parallel_1",40.66666666666666],""" +
      """PARAMETER["Standard_Parallel_2",41.03333333333333],""" +
      """PARAMETER["Latitude_Of_Origin",40.16666666666666],UNIT["Foot_US",0.3048006096012192]]"""

  /** A 12 x 7 grid of 28° x 18° countries, one per 30° x 20° cell with a 1°
    * margin (so the equator, y = 0, runs through sea), plus Lesotho filling
    * a hole in South Africa and a small Faroe Islands in the gap above
    * row 5. Cells with (col + 2 row) % 7 == 3 are two-part MultiPolygons. */
  def cell(i: Int, j: Int): Rect =
    Rect(-180 + 30 * i + 1, -60 + 20 * j + 1, -180 + 30 * i + 29, -60 + 20 * j + 19)
  def twoPart(i: Int, j: Int): Boolean = (i + 2 * j) % 7 == 3

  private def continentOf(i: Int, j: Int): String =
    if (j == 0) "Antarctica"
    else if (i <= 3) (if (j <= 2) "South America" else "North America")
    else if (i <= 7) (if (j <= 3) "Africa" else "Europe")
    else if (i >= 9 && j <= 2) "Oceania"
    else "Asia"

  val lesothoHole: Rect = { val c = cell(6, 1); Rect(c.x0 + 4, c.y0 + 4, c.x0 + 10, c.y0 + 10) }
  val faroe: Rect = Rect(-9, 59.3, -7, 59.8)

  val countries: Seq[Country] = {
    val grid = for (j <- 0 until 7; i <- 0 until 12) yield {
      val c = cell(i, j)
      val parts =
        if (twoPart(i, j)) Seq(Part(c.copy(x1 = c.x0 + 12)), Part(c.copy(x0 = c.x0 + 16)))
        else if ((i, j) == (6, 1)) Seq(Part(c, Seq(lesothoHole)))
        else Seq(Part(c))
      val (name, iso) = (i, j) match {
        case (6, 5)  => ("France", "FRA")
        case (10, 1) => ("Australia", "AUS")
        case (6, 1)  => ("South Africa", "ZAF")
        case _       => (s"Country $i-$j", s"${('A' + i).toChar}${('A' + j).toChar}X")
      }
      val pop = if (name == "France") 67059887.0 else (7 * i + 3 * j + 1) * 1.5e6
      Country(name, continentOf(i, j), iso, pop, math.rint(pop / 1000), parts)
    }
    grid ++ Seq(
      Country("Lesotho", "Africa", "LSO", 2125268.0, 2376.0, Seq(Part(lesothoHole))),
      Country("Faroe Islands", "Europe", "FRO", 52110.0, 3100.0, Seq(Part(faroe))))
  }

  /** One capital inside every country (Paris for France), and one city per
    * column on the equator, which lies in no country. */
  val cities: Seq[City] = {
    val capitals = for (j <- 0 until 7; i <- 0 until 12) yield {
      val c = cell(i, j)
      (i, j) match {
        case (6, 5) => City("Paris", 2.35, 48.85)
        case (6, 1) => City("Pretoria", c.x0 + 20, c.y0 + 12) // clear of the hole
        case _ if twoPart(i, j) => City(s"Capital $i-$j", c.x0 + 6, c.y0 + 9)
        case _ => City(s"Capital $i-$j", c.x0 + 14, c.y0 + 9)
      }
    }
    capitals ++ Seq(
      City("Maseru", (lesothoHole.x0 + lesothoHole.x1) / 2, (lesothoHole.y0 + lesothoHole.y1) / 2),
      City("Torshavn", -8, 59.5)) ++
      (0 until 12).map(i => City(s"Equator $i", -165 + 30 * i, 0.0))
  }

  /** Five disjoint two-part boroughs in state-plane feet. */
  val boroughs: Seq[Borough] =
    Seq("Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island").zipWithIndex.map { case (n, k) =>
      val x = 913000.0 + 20000.0 * k
      Borough(k + 1L, n, Seq(Rect(x, 120000, x + 15000, 140000), Rect(x, 145000, x + 8000, 150000)))
    }

  // --------------------------------------------- JTS twins for expectations

  private val gf = new GeometryFactory()
  private def ring(r: Rect): Array[Coordinate] = Array(
    new Coordinate(r.x0, r.y0), new Coordinate(r.x1, r.y0), new Coordinate(r.x1, r.y1),
    new Coordinate(r.x0, r.y1), new Coordinate(r.x0, r.y0))
  def geometry(c: Country): Geometry = {
    val polys = c.parts.map(p => gf.createPolygon(gf.createLinearRing(ring(p.shell)),
      p.holes.map(h => gf.createLinearRing(ring(h))).toArray))
    if (polys.size == 1) polys.head else gf.createMultiPolygon(polys.toArray)
  }
  def point(c: City): Geometry = gf.createPoint(new Coordinate(c.x, c.y))

  // -------------------------------------------------------------- the files

  /** Directory holding countries.{shp,shx,dbf,prj}, cities.* and
    * nybb_16a.zip; written once per JVM, removed at exit. */
  lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_shp_fixtures")
    writeLayer(d.resolve("countries"), 5, countries.map(c => polygonRecord(c.parts)),
      Seq(Field("pop_est", 'N', 20, 1), Field("continent", 'C', 24, 0), Field("name", 'C', 40, 0),
        Field("iso_a3", 'C', 3, 0), Field("gdp_md_est", 'N', 20, 1)),
      countries.map(c => Seq(c.pop, c.continent, c.name, c.iso, c.gdp)), Some(WgsPrj))
    writeLayer(d.resolve("cities"), 1, cities.map(c => pointRecord(c.x, c.y)),
      Seq(Field("name", 'C', 40, 0)), cities.map(c => Seq(c.name)), Some(WgsPrj))
    val nybb = Files.createTempDirectory("graft_shp_nybb")
    writeLayer(nybb.resolve("nybb"), 5, boroughs.map(b => polygonRecord(b.parts.map(Part(_)))),
      Seq(Field("BoroCode", 'N', 10, 0), Field("BoroName", 'C', 32, 0),
        Field("Shape_Leng", 'N', 24, 6), Field("Shape_Area", 'N', 24, 6)),
      boroughs.map(b => Seq(b.code, b.name, b.length, b.area)), Some(NyPrj))
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(d.resolve("nybb_16a.zip")))
    try Seq("shp", "shx", "dbf", "prj").foreach { ext =>
      zip.putNextEntry(new java.util.zip.ZipEntry(s"nybb_16a/nybb.$ext"))
      zip.write(Files.readAllBytes(nybb.resolve(s"nybb.$ext")))
      zip.closeEntry()
    } finally zip.close()
    Runtime.getRuntime.addShutdownHook(new Thread(() => Seq(d, nybb).foreach(deleteTree)))
    d
  }
  def countriesPath: String = dir.resolve("countries.shp").toString
  def citiesPath: String = dir.resolve("cities.shp").toString
  def nybbZip: String = dir.resolve("nybb_16a.zip").toString

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(c => deleteTree(c.asInstanceOf[Path]))
    Files.deleteIfExists(p)
  }

  final case class Field(name: String, typ: Char, len: Int, dec: Int)

  /** A record's content: shape type, then the shape's body. */
  private final case class Record(shapeType: Int, bounds: Rect, body: Array[Byte])

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def pointRecord(x: Double, y: Double): Record =
    Record(1, Rect(x, y, x, y), le(20).putInt(1).putDouble(x).putDouble(y).array())

  /** Polygon record: shells clockwise, holes counter-clockwise (ESRI spec). */
  private def polygonRecord(parts: Seq[Part]): Record = {
    def cw(r: Rect) = Seq((r.x0, r.y0), (r.x0, r.y1), (r.x1, r.y1), (r.x1, r.y0), (r.x0, r.y0))
    def ccw(r: Rect) = cw(r).reverse
    val rings = parts.flatMap(p => cw(p.shell) +: p.holes.map(ccw))
    val nPts = rings.map(_.size).sum
    val b = Rect(parts.map(_.shell.x0).min, parts.map(_.shell.y0).min,
      parts.map(_.shell.x1).max, parts.map(_.shell.y1).max)
    val buf = le(44 + 4 * rings.size + 16 * nPts)
    buf.putInt(5).putDouble(b.x0).putDouble(b.y0).putDouble(b.x1).putDouble(b.y1)
    buf.putInt(rings.size).putInt(nPts)
    rings.scanLeft(0)(_ + _.size).init.foreach(buf.putInt)
    rings.flatten.foreach { case (x, y) => buf.putDouble(x).putDouble(y) }
    Record(5, b, buf.array())
  }

  /** The 100-byte main-file header, shared by .shp and .shx. */
  private def header(fileBytes: Int, shapeType: Int, recs: Seq[Record]): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, fileBytes / 2)
    b.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, shapeType)
      .putDouble(36, recs.map(_.bounds.x0).min).putDouble(44, recs.map(_.bounds.y0).min)
      .putDouble(52, recs.map(_.bounds.x1).max).putDouble(60, recs.map(_.bounds.y1).max)
    b.array()
  }

  private def writeLayer(base: Path, shapeType: Int, recs: Seq[Record], fields: Seq[Field],
                         rows: Seq[Seq[Any]], prj: Option[String]): Unit = {
    val shpBytes = 100 + recs.map(8 + _.body.length).sum
    val shp = ByteBuffer.allocate(shpBytes).order(ByteOrder.BIG_ENDIAN)
    val shx = ByteBuffer.allocate(100 + 8 * recs.size).order(ByteOrder.BIG_ENDIAN)
    shp.put(header(shpBytes, shapeType, recs))
    shx.put(header(100 + 8 * recs.size, shapeType, recs))
    recs.zipWithIndex.foreach { case (r, i) =>
      shx.putInt(shp.position() / 2).putInt(r.body.length / 2)
      shp.putInt(i + 1).putInt(r.body.length / 2).put(r.body)
    }
    def file(ext: String) = Path.of(s"$base.$ext")
    Files.write(file("shp"), shp.array())
    Files.write(file("shx"), shx.array())
    Files.write(file("dbf"), dbf(fields, rows))
    prj.foreach(p => Files.write(file("prj"), p.getBytes("UTF-8")))
  }

  /** dBASE III table: numerics right-aligned, text left-aligned, blank padded. */
  private def dbf(fields: Seq[Field], rows: Seq[Seq[Any]]): Array[Byte] = {
    val headerLen = 32 + 32 * fields.size + 1
    val recordLen = 1 + fields.map(_.len).sum
    val b = le(headerLen + recordLen * rows.size + 1)
    b.put(0x03.toByte).put(126.toByte).put(10.toByte).put(18.toByte)
      .putInt(rows.size).putShort(headerLen.toShort).putShort(recordLen.toShort)
    b.position(32)
    fields.foreach { f =>
      val at = b.position()
      b.put(f.name.getBytes("US-ASCII")).position(at + 11)
      b.put(f.typ.toByte).position(at + 16)
      b.put(f.len.toByte).put(f.dec.toByte).position(at + 32)
    }
    b.put(0x0d.toByte)
    rows.foreach { row =>
      b.put(' '.toByte)
      fields.zip(row).foreach { case (f, v) =>
        val s = (f.typ, v) match {
          case ('N', d: Double) => String.format(java.util.Locale.ROOT, s"%${f.len}.${f.dec}f", Double.box(d))
          case ('N', n)         => String.format(java.util.Locale.ROOT, s"%${f.len}s", n.toString)
          case (_, s)           => String.format(java.util.Locale.ROOT, s"%-${f.len}s", s.toString)
        }
        require(s.length == f.len, s"value '$v' does not fit ${f.name}")
        b.put(s.getBytes("US-ASCII"))
      }
    }
    b.put(0x1a.toByte)
    b.array()
  }
}
