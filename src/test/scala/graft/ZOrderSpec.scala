package graft

import graft.functions.ZOrder
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  private def refZ2(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zorder2 matches the bit-interleave reference over a random matrix") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 500).map(_ => (rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zorder2(col("x"), col("y"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == refZ2(x, y, 16), s"($x,$y)") }
    // known corner values
    val known = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (0b1010L, 0b0101L, 0b01100110L), ((1L << 16) - 1, 0L, 0x55555555L))
    known.foreach { case (x, y, w) =>
      val z = Seq((x, y)).toDF("x", "y")
        .select(ZOrder.zorder2(col("x"), col("y"), 16)).as[Long].head()
      assert(z == w, s"($x,$y)")
    }
  }

  test("zorder2 locality: sorting by z clusters both dimensions' ranges") {
    // 32x32 grid; after z-sort, any contiguous run of 64 rows spans at
    // most a bounded sub-rectangle (z-curve property: run of 4^k cells
    // covers a 2^k x 2^k tile). Checks the layout claim, not just the math.
    val rows = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val sorted = rows.toDF("x", "y")
      .orderBy(ZOrder.zorder2(col("x"), col("y"), 5))
      .as[(Long, Long)].collect()
    sorted.grouped(64).foreach { tile =>
      val xs = tile.map(_._1); val ys = tile.map(_._2)
      assert(xs.max - xs.min <= 8 && ys.max - ys.min <= 8,
        s"64-run spans ${xs.min}..${xs.max} x ${ys.min}..${ys.max}")
    }
  }

  test("interleave generalizes: 3 columns, round-robin bit positions") {
    val z = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .select(ZOrder.interleave(Seq(col("a"), col("b"), col("c")), 2)).as[Long].head()
    assert(z == 7L) // bits 0,1,2 set
    val z2 = Seq((2L, 0L, 0L)).toDF("a", "b", "c")
      .select(ZOrder.interleave(Seq(col("a"), col("b"), col("c")), 2)).as[Long].head()
    assert(z2 == 8L) // a bit 1 -> position 3
  }

  test("z-ordered parquet layout prunes scans on EITHER dimension (measured)") {
    // 64k rows over a 256x256 grid, written as 16 files two ways: sorted by
    // the Morton key vs shuffled. A range filter on ONE dimension must scan
    // far fewer rows from the z-ordered layout (file/row-group min-max
    // pruning) — this is the layout claim behind ZOrder, measured, not
    // asserted. (Row counts come from the scan node's numOutputRows, i.e.
    // rows surviving pushed filters at row-group granularity.)
    import graft.functions.ZOrder
    val n = 1 << 16
    val df = spark.range(n).select(
      (col("id") % 256).as("x"),
      ((col("id") * 2654435761L) % 256).as("y"),
      col("id").as("payload"))
    val zdir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    val udir = java.nio.file.Files.createTempDirectory("graft_unord").toString
    df.withColumn("z", ZOrder.zorder2(col("x"), col("y"), 8))
      .repartitionByRange(64, col("z")).sortWithinPartitions("z")
      .drop("z").write.mode("overwrite").parquet(zdir)
    df.repartition(16).write.mode("overwrite").parquet(udir)
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("x") >= 10 && col("x") <= 20)
      q.collect() // run it so metrics populate
      val scans = q.queryExecution.executedPlan.collectLeaves()
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    }
    val matched = spark.read.parquet(zdir).filter(col("x") >= 10 && col("x") <= 20).count()
    assert(matched == spark.read.parquet(udir).filter(col("x") >= 10 && col("x") <= 20).count())
    val zRows = scannedRows(zdir); val uRows = scannedRows(udir)
    // the unsorted layout cannot prune (every file spans the full x range);
    // the z-ordered one reads only row groups whose x tiles intersect
    assert(uRows >= n * 9 / 10, s"unsorted should scan ~everything, got $uRows")
    // 64 files of ~1024 z-cells = 32x32 tiles: the 11-wide x slice touches
    // ~1-2 of 8 tile columns; file-boundary straddle and range-partition
    // sampling keep this conservative at 1/2
    assert(zRows <= uRows / 2, s"z-ordered should scan <1/2: z=$zRows u=$uRows")
    // and the same layout also prunes on the OTHER dimension
    def scannedRowsY(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("y") >= 100 && col("y") <= 110)
      q.collect()
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    }
    assert(scannedRowsY(zdir) <= scannedRowsY(udir) / 2,
      s"y-dim: z=${scannedRowsY(zdir)} u=${scannedRowsY(udir)}")
  }

  test("quantize clamps and bins deterministically") {
    val vals = Seq(-5.0, 0.0, 0.5, 9.999, 10.0, 25.0).toDF("v")
      .select(ZOrder.quantize(col("v"), 0.0, 10.0, 4)).as[Long].collect().toSeq
    assert(vals == Seq(0L, 0L, 0L, 15L, 15L, 15L))
    val mid = Seq(2.5).toDF("v").select(ZOrder.quantize(col("v"), 0.0, 10.0, 4)).as[Long].head()
    assert(mid == 4L)
  }
}
