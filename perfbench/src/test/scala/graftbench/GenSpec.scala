package graftbench

import graft.geom.GeomOps
import org.locationtech.jts.geom.Coordinate
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  import Gen._

  test("the generators are deterministic per seed") {
    val a = PointSet(1000, 1000, 7, S.Points)
    val b = PointSet(1000, 1000, 7, S.Points)
    assert((0L until 1000).forall(i => a.xy(i) == b.xy(i)))
    val ca = Coverage(6, 0, 100, 0.2, 7, 7, S.JitterA)
    val cb = Coverage(6, 0, 100, 0.2, 7, 7, S.JitterA)
    for (j <- 0 until 6; i <- 0 until 6) {
      assert(ca.ring(i, j)._1.sameElements(cb.ring(i, j)._1))
      assert(ca.ring(i, j)._2.sameElements(cb.ring(i, j)._2))
    }
    assert(Blobs(500, 7).ring(123)._1.sameElements(Blobs(500, 7).ring(123)._1))
  }

  test("different seeds give different inputs") {
    val a = PointSet(1000, 1000, 1, S.Points)
    val b = PointSet(1000, 1000, 2, S.Points)
    assert((0L until 1000).count(i => a.xy(i) == b.xy(i)) == 0)
    assert(!Coverage(6, 0, 100, 0.2, 7, 1, S.JitterA).ring(2, 2)._1
      .sameElements(Coverage(6, 0, 100, 0.2, 7, 2, S.JitterA).ring(2, 2)._1))
    assert(Blobs(500, 1).center(9) != Blobs(500, 2).center(9))
  }

  test("points stay strictly inside the extent, and about half are clustered") {
    val p = PointSet(20000, 1000, 3, S.Points)
    val xy = (0L until 20000).map(p.xy)
    assert(xy.forall { case (x, y) => x > 0 && x < 1000 && y > 0 && y < 1000 })
    val uniform = (0L until 20000).count(i => unit(3, S.Points * 64 + S.Kind, i) < 0.5)
    assert(math.abs(uniform - 10000) < 500)
  }

  test("coverage tiles are valid and shared edges are bit-identical") {
    val c = Coverage(8, 10, 80, 0.2, 7, 11, S.JitterA)
    for (j <- 0 until 8; i <- 0 until 8) {
      val t = c.tile(i, j)
      assert(t.isValid, s"tile ($i,$j) invalid")
      assert(t.getNumPoints == 33)
    }
    def pts(i: Int, j: Int): Set[(Double, Double)] = {
      val (xs, ys) = c.ring(i, j); xs.indices.map(k => (xs(k), ys(k))).toSet
    }
    for (j <- 0 until 8; i <- 0 until 7) assert((pts(i, j) intersect pts(i + 1, j)).size == 9)
    for (j <- 0 until 7; i <- 0 until 8) assert((pts(i, j) intersect pts(i, j + 1)).size == 9)
  }

  test("the coverage's union is its extent, and tile areas sum to it") {
    val c = Coverage(8, 10, 80, 0.2, 7, 11, S.JitterA)
    val tiles = for (j <- 0 until 8; i <- 0 until 8) yield c.tile(i, j)
    val union = GeomOps.unionAll(tiles)
    assert(union.getGeometryType == "Polygon")
    assert(math.abs(union.getArea - 6400) < 1e-9 * 6400)
    assert(union.getEnvelopeInternal.getMinX == 10 && union.getEnvelopeInternal.getMaxY == 90)
    val sum = (for (j <- 0 until 8; i <- 0 until 8) yield c.tileArea(i, j)).sum
    assert(math.abs(sum - 6400) < 1e-9 * 6400)
    assert(tiles.zip(for (j <- 0 until 8; i <- 0 until 8) yield c.tileArea(i, j))
      .forall { case (t, a) => math.abs(t.getArea - a) < 1e-9 * a })
  }

  test("the star mask is a valid polygon with the closed-form area") {
    val s = Star(300, 500, 500, 450)
    assert(s.polygon.isValid)
    assert(math.abs(s.polygon.getArea - s.area) < 1e-9 * s.area)
    assert(s.polygon.getEnvelopeInternal.getMinX > 50)
  }

  test("ingest polygons are valid 32-gons inside their cells") {
    val b = Blobs(4096, 9)
    for (id <- 0L until 4096 by 37) {
      val p = b.polygon(id)
      assert(p.isValid && p.getNumPoints == 33)
      assert(p.contains(gf.createPoint(new Coordinate(b.center(id)._1, b.center(id)._2))))
    }
  }
}
