package graftbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}
import org.locationtech.jts.io.WKBWriter

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id), hashed with the splitmix64 finalizer, so a frame
  * has the same rows whatever its partitioning and wherever it is built. */
object Gen {
  val gf = new GeometryFactory()

  /** Input streams: one per independent quantity, so that adding a stream
    * never shifts the values of another. */
  object S {
    val Kind = 1; val Uniform = 2; val Cluster = 3; val Gauss = 4
    val ClusterCenter = 5; val ClusterSpread = 6
    val JitterA = 10; val JitterB = 11; val Star = 12
    val Points = 20; val Probes = 21; val Sites = 22
    val Blob = 30; val Window = 31
  }

  /** Seed of the parts of the inputs that are fixed for every run seed:
    * cluster layout, mask shape and query windows. */
  val LayoutSeed = 0x5EEDL

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Int, id: Long, k: Int): Long =
    mix64(mix64(mix64(seed) ^ (stream.toLong << 16 | k)) + id)

  /** Uniform on the open interval (0, 1). */
  def unit(seed: Long, stream: Int, id: Long, k: Int = 0): Double =
    ((hash(seed, stream, id, k) >>> 11) + 0.5) * (1.0 / (1L << 53))

  def wkb(g: org.locationtech.jts.geom.Geometry): Array[Byte] = new WKBWriter(2).write(g)

  /** Shoelace area of a closed ring given as coordinate arrays. */
  def ringArea(xs: Array[Double], ys: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < xs.length - 1) { s += xs(k) * ys(k + 1) - xs(k + 1) * ys(k); k += 1 }
    math.abs(s) / 2
  }

  def polygon(xs: Array[Double], ys: Array[Double]): Polygon =
    gf.createPolygon(Array.tabulate(xs.length)(k => new Coordinate(xs(k), ys(k))))

  /** Reflect `v` into the open interval (0, size). */
  private def fold(v: Double, size: Double): Double = {
    val m = math.abs(v) % (2 * size)
    val r = if (m > size) 2 * size - m else m
    math.min(math.max(r, size * 1e-9), size * (1 - 1e-9))
  }

  /** Points in (0, size)²: half uniform, half in Gaussian clusters whose
    * sizes follow a Zipf(1.1) law, so a few grid cells hold most points.
    * The cluster layout is fixed and the seed draws the points from it, so
    * every seed skews the same cells equally and run times stay comparable
    * across seeds. */
  final case class PointSet(n: Long, size: Double, seed: Long, stream: Int, clusters: Int = 256) {
    @transient private lazy val cum: Array[Double] = {
      val w = Array.tabulate(clusters)(c => 1.0 / math.pow(c + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }

    def xy(id: Long): (Double, Double) = {
      def u(s: Int, k: Int = 0) = unit(seed, stream * 64 + s, id, k)
      if (u(S.Kind) < 0.5) (size * u(S.Uniform, 0), size * u(S.Uniform, 1))
      else {
        val c = math.min(java.util.Arrays.binarySearch(cum, u(S.Cluster)) match {
          case i if i >= 0 => i
          case i => -i - 1
        }, clusters - 1)
        val cx = size * (0.05 + 0.9 * unit(LayoutSeed, stream * 64 + S.ClusterCenter, c, 0))
        val cy = size * (0.05 + 0.9 * unit(LayoutSeed, stream * 64 + S.ClusterCenter, c, 1))
        val sigma = size * 0.02 * (1 + unit(LayoutSeed, stream * 64 + S.ClusterSpread, c))
        val r = sigma * math.sqrt(-2 * math.log(u(S.Gauss, 0)))
        val a = 2 * math.Pi * u(S.Gauss, 1)
        (fold(cx + r * math.cos(a), size), fold(cy + r * math.sin(a), size))
      }
    }

    def frame(spark: SparkSession, idCol: String, parts: Int): DataFrame = {
      val self = this
      spark.range(0, n, 1, parts).map { id =>
        val (x, y) = self.xy(id)
        (id.longValue, wkb(gf.createPoint(new Coordinate(x, y))))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).toDF(idCol, "geometry")
    }
  }

  /** An n×n jittered-grid coverage of [x0, x0+size]². Interior grid nodes
    * move by up to `jitter` of a cell; each edge carries `dens` interpolated
    * vertices computed in one canonical direction, so the two tiles that
    * share an edge hold bit-identical vertices. Tile id = j·n + i. */
  final case class Coverage(n: Int, x0: Double, size: Double, jitter: Double, dens: Int,
                            seed: Long, stream: Int) {
    def cell: Double = size / n

    def node(i: Int, j: Int): (Double, Double) = {
      val id = j.toLong * (n + 1) + i
      val dx = if (i == 0 || i == n) 0.0 else (2 * unit(seed, stream, id, 0) - 1) * jitter * cell
      val dy = if (j == 0 || j == n) 0.0 else (2 * unit(seed, stream, id, 1) - 1) * jitter * cell
      (x0 + i * cell + dx, x0 + j * cell + dy)
    }

    /** Ring coordinates of tile (i, j), counter-clockwise, closed. */
    def ring(i: Int, j: Int): (Array[Double], Array[Double]) = {
      val corners = Array((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1))
      val xs = new Array[Double](4 * (dens + 1) + 1)
      val ys = new Array[Double](xs.length)
      var k = 0
      for (e <- 0 until 4) {
        val a = corners(e)
        val b = corners((e + 1) % 4)
        val (lo, hi) = if (Ordering[(Int, Int)].lt(a, b)) (a, b) else (b, a)
        val (lx, ly) = node(lo._1, lo._2)
        val (hx, hy) = node(hi._1, hi._2)
        val pts = Array.tabulate(dens) { m =>
          val t = (m + 1).toDouble / (dens + 1)
          (lx + (hx - lx) * t, ly + (hy - ly) * t)
        }
        val inner = if (lo == a) pts else pts.reverse
        val (ax, ay) = node(a._1, a._2)
        xs(k) = ax; ys(k) = ay; k += 1
        for ((px, py) <- inner) { xs(k) = px; ys(k) = py; k += 1 }
      }
      xs(k) = xs(0); ys(k) = ys(0)
      (xs, ys)
    }

    def tile(i: Int, j: Int): Polygon = { val (xs, ys) = ring(i, j); polygon(xs, ys) }
    def tileArea(i: Int, j: Int): Double = { val (xs, ys) = ring(i, j); ringArea(xs, ys) }

    /** (tile id, region id, WKB) rows; regions are `block`×`block` tiles. */
    def frame(spark: SparkSession, idCol: String, block: Int, parts: Int): DataFrame = {
      val self = this
      spark.range(0, n.toLong * n, 1, parts).map { id =>
        val (i, j) = ((id % self.n).toInt, (id / self.n).toInt)
        (id.longValue, region(i, j, block), wkb(self.tile(i, j)))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.BINARY))
        .toDF(idCol, "region", "geometry")
    }

    def region(i: Int, j: Int, block: Int): Long = (j / block).toLong * (n / block) + i / block
  }

  /** A star-shaped polygon of `m` vertices around (cx, cy): each vertex
    * sits at its own angle with a radius in [0.55, 1]·rMax drawn from the
    * fixed layout, so a clip by it costs the same for every seed. */
  final case class Star(m: Int, cx: Double, cy: Double, rMax: Double) {
    def ring: (Array[Double], Array[Double]) = {
      val r = Array.tabulate(m)(k => rMax * (0.55 + 0.45 * unit(LayoutSeed, S.Star, k)))
      val xs = Array.tabulate(m + 1)(k => cx + r(k % m) * math.cos(2 * math.Pi * (k % m) / m))
      val ys = Array.tabulate(m + 1)(k => cy + r(k % m) * math.sin(2 * math.Pi * (k % m) / m))
      (xs, ys)
    }
    def area: Double = { val (xs, ys) = ring; ringArea(xs, ys) }
    def polygon: Polygon = { val (xs, ys) = ring; Gen.polygon(xs, ys) }
  }

  /** Small 32-gons in lon/lat over Great Britain (EPSG:4326), laid out in
    * row-major cells of a g×g grid in id order, as tiled ingest data is. */
  final case class Blobs(n: Long, seed: Long, g: Int = 64) {
    val lon0 = -5.0; val lat0 = 50.5; val span = 6.0
    def center(id: Long): (Double, Double) = {
      val c = id * g * g / n
      val cw = span / g
      (lon0 + (c % g + unit(seed, S.Blob, id, 0)) * cw, lat0 + (c / g + unit(seed, S.Blob, id, 1)) * cw)
    }
    def ring(id: Long): (Array[Double], Array[Double]) = {
      val (cx, cy) = center(id)
      val r0 = 0.002 + 0.004 * unit(seed, S.Blob, id, 2)
      val r = Array.tabulate(32)(k => r0 * (0.8 + 0.4 * unit(seed, S.Blob, id, 3 + k)))
      (Array.tabulate(33)(k => cx + r(k % 32) * math.cos(2 * math.Pi * (k % 32) / 32)),
        Array.tabulate(33)(k => cy + r(k % 32) * math.sin(2 * math.Pi * (k % 32) / 32)))
    }
    def polygon(id: Long): Polygon = { val (xs, ys) = ring(id); Gen.polygon(xs, ys) }

    def frame(spark: SparkSession, parts: Int): DataFrame = {
      val self = this
      spark.range(0, n, 1, parts).map { id =>
        (id.longValue, unit(self.seed, S.Blob, id, 40), wkb(self.polygon(id)))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.BINARY))
        .toDF("id", "val", "geometry")
    }

    /** Query windows of `w` degrees inside the data's extent, at places
    * fixed by the layout so every seed reads about as many rows. */
    def windows(k: Int, w: Double): Seq[(Double, Double, Double, Double)] = (0 until k).map { i =>
      val x = lon0 + (span - w) * unit(LayoutSeed, S.Window, i, 0)
      val y = lat0 + (span - w) * unit(LayoutSeed, S.Window, i, 1)
      (x, y, x + w, y + w)
    }
  }
}
