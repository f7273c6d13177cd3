package graftbench

import graft.api.GeoDataFrame
import graft.crs.CrsTransform
import graft.functions.GeoFunctions.st_area
import graft.io.GeoParquet
import graft.join.{Clip, Overlay, SJoinNearest, SpatialJoin}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.{Coordinate, Envelope}
import org.locationtech.jts.io.WKBReader

/** What an op call returns: its output digest and the query executions it
  * ran itself (for plan-phase and scan counters). */
final case class OpResult(digest: Digest, qes: Seq[QueryExecution])

/** A fixed list of op calls over seeded inputs that `setup` caches. The
  * runner calls `run` (timed) and then `check` (untimed) for each op. */
trait Workload {
  def name: String
  def ops: IndexedSeq[String]
  def setup(): Unit
  def release(): Unit
  def run(op: Int): OpResult
  /** Failed checks of an op's output; empty when it is correct. */
  def check(op: Int, r: OpResult): Seq[String]

  protected def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.queryExecution.toRdd.count()
    c
  }

  protected def digest(df: DataFrame, spec: Digest.Spec): OpResult = {
    val (d, qe) = Digest.run(df, spec)
    OpResult(d, Seq(qe))
  }

  protected def expect(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)

  protected def near(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(b), 1.0)
}

object Workload {
  val names: Seq[String] = Seq("join_overlay", "ingest_scan")

  def apply(name: String, spark: SparkSession, seed: Long, smoke: Boolean, parts: Int,
            workDir: java.io.File): Workload = name match {
    case "join_overlay" => new JoinOverlay(spark, seed, if (smoke) JoinOverlay.Smoke else JoinOverlay.Full, parts)
    case "ingest_scan" =>
      new IngestScan(spark, seed, if (smoke) IngestScan.Smoke else IngestScan.Full, parts, workDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }
}

/** Joins and aggregation over in-memory frames: clustered points in a
  * polygon coverage (broadcast and grid sjoin), nearest sites within a
  * distance (broadcast path), overlay of two coverages and dissolve into
  * regions.
  * Candidate generation, exact refine, the cell-key and group-by shuffles
  * and the JTS overlay and union kernels do the work. */
final class JoinOverlay(spark: SparkSession, seed: Long, sz: JoinOverlay.Size, parts: Int) extends Workload {
  import Gen._
  val name = "join_overlay"
  val ops = Vector("sjoin_broadcast", "sjoin_grid", "sjoin_nearest", "overlay", "dissolve")
  private val extent = 1000.0
  private val cov = Coverage(sz.tiles, 0, extent, 0.2, 7, seed, S.JitterA)
  private val gridCov = Coverage(sz.gridTiles, 0, extent, 0.2, 7, seed, S.JitterB)
  private val points = PointSet(sz.points, extent, seed, S.Points)
  private val gridPoints = points.copy(n = sz.gridPoints)
  private val probes = PointSet(sz.probes, extent, seed, S.Probes)
  private val sites = PointSet(sz.sites, extent, seed, S.Sites)
  private val a = Coverage(sz.overlayA, 0, extent, 0.2, 7, seed, S.JitterA + 100)
  private val b = Coverage(sz.overlayB, sz.offset, extent, 0.2, 7, seed, S.JitterB + 100)
  private val sampleEvery = math.max(1L, sz.probes / 1000)
  private var tiles, gridTiles, pts, gridPts, probeDf, siteDf, aDf, bDf: DataFrame = _

  def setup(): Unit = {
    tiles = cached(cov.frame(spark, "tid", 1, parts).drop("region"))
    gridTiles = cached(gridCov.frame(spark, "tid", 1, parts).drop("region"))
    pts = cached(points.frame(spark, "pid", parts))
    gridPts = cached(gridPoints.frame(spark, "pid", parts))
    probeDf = cached(probes.frame(spark, "pid", parts))
    siteDf = cached(sites.frame(spark, "sid", parts))
    aDf = cached(a.frame(spark, "tid", sz.block, parts))
    bDf = cached(b.frame(spark, "tid2", 1, parts).drop("region"))
  }

  def release(): Unit =
    Seq(tiles, gridTiles, pts, gridPts, probeDf, siteDf, aDf, bDf).foreach(_.unpersist(true))

  private val joinSpec = Digest.Spec("pid", key2 = Some("tid"))

  def run(op: Int): OpResult = op match {
    case 0 => digest(SpatialJoin.sjoin(pts, tiles), joinSpec)
    case 1 => digest(SpatialJoin.sjoin(gridPts, gridTiles, broadcastThreshold = -1), joinSpec)
    // the broadcast-tree path: on the grid path (broadcastThreshold = -1)
    // a JVM's warm calls all ran ~0.7 s or all ~1.5 s, whatever the seed,
    // a split that no number of passes in one run averages out
    case 2 => digest(SJoinNearest.sjoinNearest(probeDf, siteDf, maxDistance = Some(sz.maxDistance),
      distanceCol = Some("dist")),
      Digest.Spec("pid", key2 = Some("sid"), value = Some("dist"), keepEvery = sampleEvery))
    case 3 => digest(Overlay.overlay(aDf, bDf, "intersection"), Digest.Spec("tid", Some("tid2"), Some("geometry")))
    case 4 => digest(GeoDataFrame(aDf).dissolve(by = Seq("region")).df,
      Digest.Spec("region", geom = Some("geometry"), keepEvery = 1))
  }

  /** Pair-hash sum of each point's containing tile, located exactly among
    * the tiles around it; computed on the executors. */
  private def locatedPairs(c: Coverage, n: PointSet): Long =
    spark.range(0, n.n, 1, spark.sparkContext.defaultParallelism).mapPartitions { ids =>
      var h = 0L
      ids.foreach { id =>
        val (x, y) = n.xy(id)
        val p = gf.createPoint(new Coordinate(x, y))
        val (i0, j0) = ((x / c.cell).toInt, (y / c.cell).toInt)
        for (j <- j0 - 1 to j0 + 1; i <- i0 - 1 to i0 + 1
             if i >= 0 && j >= 0 && i < c.n && j < c.n && c.tile(i, j).intersects(p))
          h += Digest.pair(id, j.toLong * c.n + i)
      }
      Iterator.single(h)
    }(Encoders.scalaLong).collect().sum

  private lazy val broadcastPairs = locatedPairs(cov, points)
  private lazy val gridPairs = locatedPairs(gridCov, gridPoints)

  private def everyPointOnce(d: Digest, n: Long): Seq[String] = {
    val keyHash = (0L until n).foldLeft(0L)((h, id) => h + mix64(id))
    expect(d.rows == n, s"${d.rows} rows for $n points") ++
      expect(d.keySum == n * (n - 1) / 2 && d.keyHash == keyHash, "some point matched twice or never")
  }

  /** Exact nearest site (id, distance) of every probe, by brute force. */
  private lazy val nearest: Array[(Long, Double)] = {
    val site = Array.tabulate(sz.sites.toInt)(i => sites.xy(i))
    Array.tabulate(sz.probes.toInt) { p =>
      val (x, y) = probes.xy(p)
      var best, bestD2 = -1.0
      var i = 0
      while (i < site.length) {
        val (dx, dy) = (site(i)._1 - x, site(i)._2 - y)
        val d2 = dx * dx + dy * dy
        if (bestD2 < 0 || d2 < bestD2) { bestD2 = d2; best = i }
        i += 1
      }
      (best.toLong, math.sqrt(bestD2))
    }
  }

  /** Rows, pair hash and sampled distances against the exact nearest sites
    * of the probes whose nearest site lies within the maximum distance. */
  private def nearestExact(d: Digest): Seq[String] = {
    val within = nearest.indices.filter(p => nearest(p)._2 <= sz.maxDistance)
    val pairs = within.foldLeft(0L)((h, p) => h + Digest.pair(p, nearest(p)._1))
    val sample = within.map(_.toLong).filter(Digest.keeps(_, sampleEvery))
    val wrong = d.kept.count(k => math.abs(k.value - nearest(k.key.toInt)._2) > 1e-9 * extent)
    expect(d.rows == within.size, s"${d.rows} nearest rows for ${within.size} probes") ++
      expect(d.pairHash == pairs, "nearest pairs differ from brute force") ++
      expect(d.kept.map(_.key).sorted == sample, "sampled probes missing or repeated") ++
      expect(wrong == 0, s"$wrong of ${d.kept.size} sampled nearest distances differ from brute force")
  }

  private lazy val regionAreas: Map[Long, Double] =
    (for (j <- 0 until a.n; i <- 0 until a.n) yield (a.region(i, j, sz.block), a.tileArea(i, j)))
      .groupMapReduce(_._1)(_._2)(_ + _)

  def check(op: Int, r: OpResult): Seq[String] = {
    val d = r.digest
    op match {
      case 0 => everyPointOnce(d, sz.points) ++
        expect(d.pairHash == broadcastPairs, "broadcast sjoin pairs differ from exact point location")
      case 1 => everyPointOnce(d, sz.gridPoints) ++
        expect(d.pairHash == gridPairs, "grid sjoin pairs differ from exact point location")
      case 2 => nearestExact(d)
      case 3 =>
        val overlap = (extent - sz.offset) * (extent - sz.offset)
        expect(near(d.area, overlap, 1e-9), s"overlay area ${d.area} != overlap $overlap")
      case 4 =>
        val bad = d.kept.filterNot(k => regionAreas.get(k.key).exists(near(k.area, _, 1e-9)))
        expect(d.rows == regionAreas.size && d.kept.map(_.key).toSet == regionAreas.keySet,
          s"${d.rows} dissolved regions for ${regionAreas.size}") ++
          expect(bad.isEmpty, s"${bad.size} regions' areas differ from their tiles' sum")
    }
  }
}

object JoinOverlay {
  final case class Size(tiles: Int, points: Long, gridTiles: Int, gridPoints: Long, probes: Long, sites: Long,
                        maxDistance: Double, overlayA: Int, overlayB: Int, offset: Double, block: Int)
  val Full = Size(tiles = 100, points = 60000, gridTiles = 32, gridPoints = 10000, probes = 8000, sites = 1000,
    maxDistance = 40, overlayA = 40, overlayB = 28, offset = 137, block = 2)
  val Smoke = Size(tiles = 20, points = 4000, gridTiles = 10, gridPoints = 2000, probes = 2000, sites = 500,
    maxDistance = 60, overlayA = 16, overlayB = 11, offset = 137, block = 4)
}

/** GeoParquet write and read, bbox-pushdown reads, a CRS change and a clip
  * by a star-shaped mask: IO, the CRS and clip kernels and the per-row UDF
  * path do the work, with no join shuffle. */
final class IngestScan(spark: SparkSession, seed: Long, sz: IngestScan.Size, parts: Int,
                       workDir: java.io.File) extends Workload {
  val name = "ingest_scan"
  val ops = Vector("write", "read", "read_bbox", "to_crs", "clip")
  private val blobs = Gen.Blobs(sz.rows, seed)
  private val extent = 1000.0
  private val cov = Gen.Coverage(sz.clipTiles, 0, extent, 0.2, 7, seed, Gen.S.JitterA)
  private val star = Gen.Star(sz.maskVertices, extent / 2, extent / 2, extent * 0.45)
  private val windows = blobs.windows(sz.windows, sz.windowDeg)
  private val path = new java.io.File(workDir, "ingest.parquet").getAbsolutePath
  private val sourceSpec = Digest.Spec("id", geom = Some("geometry"), hashGeom = true)
  private val crsEvery = math.max(1L, sz.crsRows / 200)
  private var frame, crsFrame, tiles, mask: DataFrame = _
  private var source = Digest.empty

  def setup(): Unit = {
    frame = blobs.frame(spark, parts).cache()
    source = Digest.run(frame, sourceSpec)._1
    crsFrame = cached(frame.where(col("id") < sz.crsRows))
    tiles = cached(cov.frame(spark, "tid", 1, parts))
    mask = cached(spark.createDataFrame(Seq(Tuple1(Gen.wkb(star.polygon)))).toDF("geometry"))
  }

  def release(): Unit = Seq(crsFrame, frame, tiles, mask).foreach(_.unpersist(true))

  private def geo(df: DataFrame) = GeoDataFrame(df, "geometry", Map("geometry" -> "EPSG:4326"))

  def run(op: Int): OpResult = op match {
    case 0 =>
      GeoParquet.write(geo(frame), path, coveringBbox = true)
      OpResult(Digest.empty.copy(rows = sz.rows), Nil)
    case 1 =>
      val g = GeoParquet.read(spark, path)
      digest(g.df.withColumn("area", st_area(col(g.geometryCol))),
        sourceSpec.copy(geomArea = false, value = Some("area")))
    case 2 =>
      val rs = windows.map { case (x0, y0, x1, y1) =>
        digest(GeoParquet.readBbox(spark, path, x0, y0, x1, y1).df, Digest.Spec("id"))
      }
      OpResult(rs.map(_.digest).reduce(_ + _), rs.flatMap(_.qes))
    case 3 =>
      digest(geo(crsFrame).toCrs("EPSG:27700").df,
        Digest.Spec("id", geom = Some("geometry"), geomArea = false, keepEvery = crsEvery, keepGeom = true))
    case 4 => digest(Clip.clip(tiles, mask), Digest.Spec("tid", geom = Some("geometry")))
  }

  /** Rows of the windows by an exact JTS filter of the generated polygons
    * (a blob reaches at most 0.0072° from its center, hence the 0.01° pad). */
  private lazy val windowRows: Digest = {
    val boxes = windows.map { case (x0, y0, x1, y1) => new Envelope(x0, x1, y0, y1) }
    (0L until sz.rows).foldLeft(Digest.empty) { (d, id) =>
      val (cx, cy) = blobs.center(id)
      val hits = boxes.count { e =>
        cx > e.getMinX - 0.01 && cx < e.getMaxX + 0.01 && cy > e.getMinY - 0.01 && cy < e.getMaxY + 0.01 &&
          Gen.gf.toGeometry(e).intersects(blobs.polygon(id))
      }
      if (hits == 0) d
      else d.copy(rows = d.rows + hits, keySum = d.keySum + hits * id, keyHash = d.keyHash + hits * Gen.mix64(id),
        pairHash = d.pairHash + hits * Digest.pair(id, 0))
    }
  }

  private lazy val toWgs84 = CrsTransform.chainStr("EPSG:27700", "EPSG:4326")

  private def roundTripError(k: Kept): Double = {
    val back = new WKBReader().read(k.wkb).getCoordinates.map { c =>
      val (x, y) = toWgs84.forward(c.x, c.y); new Coordinate(x, y)
    }
    val (xs, ys) = blobs.ring(k.key)
    if (back.length != xs.length) Double.PositiveInfinity
    else back.indices.map(i => math.max(math.abs(back(i).x - xs(i)), math.abs(back(i).y - ys(i)))).max
  }

  def check(op: Int, r: OpResult): Seq[String] = {
    val d = r.digest
    op match {
      case 0 =>
        val written = spark.read.parquet(path).count()
        expect(written == sz.rows, s"$written rows written for ${sz.rows}")
      case 1 =>
        expect(d.rows == source.rows && d.keySum == source.keySum && d.pairHash == source.pairHash,
          "read-back checksum differs from the written frame") ++
          expect(near(d.value, source.area, 1e-9), s"read area ${d.value} != written ${source.area}")
      case 2 =>
        expect(d.rows == windowRows.rows && d.keySum == windowRows.keySum && d.keyHash == windowRows.keyHash,
          s"readBbox returned ${d.rows} rows, exact filter ${windowRows.rows}")
      case 3 =>
        val sample = (0L until sz.crsRows).filter(Digest.keeps(_, crsEvery))
        val worst = if (d.kept.isEmpty) 0.0 else d.kept.map(roundTripError).max
        expect(d.rows == sz.crsRows && d.keySum == sz.crsRows * (sz.crsRows - 1) / 2,
          s"toCrs returned ${d.rows} rows for ${sz.crsRows}") ++
          expect(d.kept.map(_.key).sorted == sample, "sampled toCrs rows missing") ++
          expect(worst <= 1e-6, s"toCrs round trip off by $worst degrees")
      case 4 => expect(near(d.area, star.area, 1e-9), s"clip area ${d.area} != mask area ${star.area}")
    }
  }
}

object IngestScan {
  final case class Size(rows: Long, crsRows: Long, windows: Int, windowDeg: Double, clipTiles: Int,
                        maskVertices: Int)
  val Full = Size(rows = 80000, crsRows = 10000, windows = 3, windowDeg = 0.2, clipTiles = 64, maskVertices = 300)
  val Smoke = Size(rows = 4000, crsRows = 1000, windows = 2, windowDeg = 0.5, clipTiles = 16, maskVertices = 60)
}
