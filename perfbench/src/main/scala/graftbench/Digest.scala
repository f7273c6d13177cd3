package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.locationtech.jts.io.WKBReader

/** A row kept whole by a digest, for checks that need individual rows. */
final case class Kept(key: Long, key2: Long, value: Double, area: Double, wkb: Array[Byte])

/** Order-independent summary of an op's output: enough for the closed-form
  * checks, small enough to bring back to the driver. All sums wrap. */
final case class Digest(rows: Long, keySum: Long, keyHash: Long, pairHash: Long,
                        area: Double, value: Double, kept: Vector[Kept]) {
  def +(o: Digest): Digest = Digest(rows + o.rows, keySum + o.keySum, keyHash + o.keyHash,
    pairHash + o.pairHash, area + o.area, value + o.value, kept ++ o.kept)
}

object Digest {
  val empty: Digest = Digest(0, 0, 0, 0, 0.0, 0.0, Vector.empty)

  /** Which output columns feed the digest. `key` is a long column; `key2`
    * (long) and the WKB bytes of `geom` (when `hashGeom`) enter the pair
    * hash; `geom` also feeds the area sum (when `geomArea`); `value`
    * (double) is summed.
    * Rows whose key hash is divisible by `keepEvery` are kept whole. */
  final case class Spec(key: String, key2: Option[String] = None, geom: Option[String] = None,
                        hashGeom: Boolean = false, geomArea: Boolean = true, value: Option[String] = None,
                        keepEvery: Long = 0, keepGeom: Boolean = false)

  def pair(key: Long, key2: Long): Long = Gen.mix64(key * 0x9E3779B97F4A7C15L + key2)

  def bytesHash(b: Array[Byte]): Long = java.util.Arrays.hashCode(b).toLong

  def keeps(key: Long, every: Long): Boolean = every > 0 && Math.floorMod(Gen.mix64(key), every) == 0

  /** Execute the full physical plan of `df` (no column pruning, unlike a
    * plain count()) and fold every row into a digest. */
  def run(df: DataFrame, spec: Spec): (Digest, QueryExecution) = {
    val fields = df.schema.fieldNames
    def ord(c: String): Int = {
      val i = fields.indexOf(c)
      require(i >= 0, s"digest column $c not in ${fields.mkString(",")}")
      i
    }
    val k = ord(spec.key)
    val k2 = spec.key2.map(ord).getOrElse(-1)
    val g = spec.geom.map(ord).getOrElse(-1)
    val v = spec.value.map(ord).getOrElse(-1)
    val hashGeom = spec.hashGeom
    val geomArea = spec.geomArea
    val keepEvery = spec.keepEvery
    val keepGeom = spec.keepGeom
    val qe = df.queryExecution
    val parts = qe.toRdd.mapPartitions { it =>
      val reader = new WKBReader()
      var rows, keySum, keyHash, pairHash = 0L
      var area, value = 0.0
      val kept = Vector.newBuilder[Kept]
      it.foreach { (r: InternalRow) =>
        val key = r.getLong(k)
        val key2 = if (k2 >= 0) r.getLong(k2) else 0L
        val bytes = if (g >= 0 && !r.isNullAt(g)) r.getBinary(g) else null
        val a = if (bytes != null && geomArea) reader.read(bytes).getArea else 0.0
        val x = if (v >= 0 && !r.isNullAt(v)) r.getDouble(v) else 0.0
        rows += 1; keySum += key; keyHash += Gen.mix64(key)
        pairHash += pair(key, key2 + (if (hashGeom && bytes != null) bytesHash(bytes) else 0L))
        area += a; value += x
        if (keeps(key, keepEvery)) kept += Kept(key, key2, x, a, if (keepGeom) bytes.clone() else null)
      }
      Iterator.single(Digest(rows, keySum, keyHash, pairHash, area, value, kept.result()))
    }.collect()
    (parts.foldLeft(empty)(_ + _), qe)
  }
}
