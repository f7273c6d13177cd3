package graftbench

import graft.crs.CrsTransform
import graft.geom.{GeomOps, Wkb}
import graft.join.BroadcastTreeCache
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** Spark-free, single-thread timings of the engine's kernel functions on
  * the benchmark's own generated geometry. */
object Kernels {
  @volatile private var sink = 0L

  /** Median time per call, in ns, over `reps` batches of `batch` calls
    * (after two untimed warm-up batches). */
  def nsPerCall(batch: Int, reps: Int = 7)(f: Int => Long): Double = {
    def once(): Long = { var acc = 0L; var i = 0; while (i < batch) { acc += f(i); i += 1 }; acc }
    sink += once() + once()
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      sink += once()
      (System.nanoTime() - t0).toDouble / batch
    })
  }

  /** Kernel metric names and units, in report order. */
  val names: Seq[(String, String)] = Seq(
    "geom.wkb_read_point_ns" -> "ns", "geom.wkb_read_poly_ns" -> "ns", "geom.wkb_write_poly_ns" -> "ns",
    "join.strtree_build_ms" -> "ms", "join.strtree_query_ns" -> "ns", "join.prepared_pip_ns" -> "ns",
    "geom.intersection_us" -> "us", "geom.union_100_ms" -> "ms", "geom.clip_mask_us" -> "us",
    "crs.transform_vertex_ns" -> "ns")

  /** (metric name, value, unit) for every kernel, each under its own span. */
  def measure(seed: Long, tracer: Option[Tracer], parent: Long): Seq[(String, Double, String)] = {
    val size = 1000.0
    val pointSet = Gen.PointSet(4096, size, seed, Gen.S.Points)
    val points: Array[Geometry] = Array.tabulate(4096) { i =>
      val (x, y) = pointSet.xy(i); Gen.gf.createPoint(new Coordinate(x, y))
    }
    val pointWkb = points.map(Wkb.write)
    val blobs = Gen.Blobs(2048, seed)
    val polys: Array[Geometry] = Array.tabulate(2048)(i => blobs.polygon(i))
    val polyWkb = polys.map(Wkb.write)
    val cov = Gen.Coverage(64, 0, size, 0.2, 7, seed, Gen.S.JitterA)
    val tiles: Array[Geometry] = Array.tabulate(64 * 64)(t => cov.tile(t % 64, t / 64))
    val rows = tiles.zipWithIndex.map { case (g, i) => (i.toLong, Wkb.write(g)) }
    lazy val index = new BroadcastTreeCache.IndexData(rows)
    lazy val pipPairs: Array[(Int, Geometry)] = points.flatMap { p =>
      index.tree.query(p.getEnvelopeInternal).toArray.map(c => (c.asInstanceOf[Integer].intValue, p))
    }
    val other = Gen.Coverage(45, 7.0, size, 0.2, 7, seed, Gen.S.JitterB)
    val others: Array[Geometry] = Array.tabulate(45 * 45)(t => other.tile(t % 45, t / 45))
    lazy val overlapPairs: Array[(Geometry, Geometry)] = tiles.flatMap { a =>
      others.filter(b => a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)).map(b => (a, b))
    }
    val mask = Gen.Star(500, size / 2, size / 2, size * 0.45).polygon
    lazy val preparedMask = PreparedGeometryFactory.prepare(mask)
    val blocks: Array[Seq[Geometry]] = Array.tabulate(16) { b =>
      for (j <- 0 until 10; i <- 0 until 10) yield tiles((b / 4 * 16 + j) * 64 + b % 4 * 16 + i)
    }
    lazy val toBng = CrsTransform.chainStr("EPSG:4326", "EPSG:27700")
    lazy val vertices: Array[Coordinate] = polys.flatMap(_.getCoordinates)

    def n(v: Int): Long = v.toLong
    def g(x: Geometry): Long = n(x.getNumPoints)
    val kernels: Map[String, () => Double] = Map(
      ("geom.wkb_read_point_ns", () => nsPerCall(4096)(i => g(Wkb.read(pointWkb(i))))),
      ("geom.wkb_read_poly_ns", () => nsPerCall(2048)(i => g(Wkb.read(polyWkb(i))))),
      ("geom.wkb_write_poly_ns", () => nsPerCall(2048)(i => n(Wkb.write(polys(i)).length))),
      ("join.strtree_build_ms",
        () => nsPerCall(1, 5)(_ => n(new BroadcastTreeCache.IndexData(rows).tree.size())) / 1e6),
      ("join.strtree_query_ns",
        () => nsPerCall(4096)(i => n(index.tree.query(points(i).getEnvelopeInternal).size()))),
      ("join.prepared_pip_ns", () => nsPerCall(pipPairs.length) { i =>
        val (t, p) = pipPairs(i); if (index.prepared(t).intersects(p)) 1L else 0L
      }),
      ("geom.intersection_us",
        () => nsPerCall(math.min(overlapPairs.length, 2000), 5) { i =>
          val (a, b) = overlapPairs(i); g(GeomOps.intersection(a, b))
        } / 1e3),
      ("geom.union_100_ms", () => nsPerCall(16, 5)(b => g(GeomOps.unionAll(blocks(b)))) / 1e6),
      ("geom.clip_mask_us", () => nsPerCall(tiles.length, 5) { i =>
        if (preparedMask.intersects(tiles(i))) g(GeomOps.intersection(tiles(i), mask)) else 0L
      } / 1e3),
      ("crs.transform_vertex_ns", () => nsPerCall(vertices.length) { i =>
        val (x, y) = toBng.forward(vertices(i).x, vertices(i).y); java.lang.Double.doubleToLongBits(x + y)
      })
    )
    names.map { case (name, unit) =>
      val f = kernels(name)
      val v = tracer match {
        case Some(t) => t.span("kernel", name, parent)(_ => f())
        case None => f()
      }
      (name, v, unit)
    }
  }
}
