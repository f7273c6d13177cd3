package graft


/** Pre-gate sanity for the round's NEW oracle-gated queries: run each
  * query at sf0.001 and compare (rows, column names, values) against its
  * `oracleSql` executed by Spark over the same parquet tables. Catches the
  * two classic gate failures — column-name drift and value drift — before
  * the driver's DuckDB compare does. Only ANSI-portable oracles can be
  * checked this way (DuckDB-specific functions like strlen would not
  * parse), which all roundtrip/decode oracles are. */
class NewQueryOracleSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val checked = Seq("q75_audio_decode_real", "q76_gml_roundtrip",
    "q77_gpx_roundtrip", "q79_repetition_stats", "q81_stratified_sample",
    "q87_interior_rings")

  private def registerTables(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val p = s"$sfDir/$t.parquet"
      if (new java.io.File(p).exists())
        spark.read.parquet(p).createOrReplaceTempView(t)
    }

  for (name <- checked) test(s"$name matches its oracle SQL run by Spark") {
    assume(new java.io.File(sfDir).exists(), s"driver testdata absent at $sfDir")
    registerTables()
    val got = SparkEntry.queries(name)(spark, sfDir)
    val want =
      try spark.sql(SparkEntry.oracleSql(name))
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          cancel(s"oracle SQL uses DuckDB-only syntax (covered by the DuckDB gate): ${e.getMessage.takeWhile(_ != '\n')}")
      }
    assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq,
      s"column names diverge: ${got.columns.toSeq} vs ${want.columns.toSeq}")
    val cols = got.columns.sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
        .sorted.toSeq
    val g = canon(got)
    val w = canon(want)
    assert(g.length == w.length, s"row counts diverge: ${g.length} vs ${w.length}")
    assert(g == w, s"values diverge; first diff: ${g.zip(w).find(p => p._1 != p._2)}")
  }
}
