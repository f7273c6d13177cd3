package graft

import graft.io.Warc
import org.apache.spark.sql.functions._

/** WARC reader against HAND-WRITTEN record bytes (independent of our own
  * writer), gzip multi-member decode, and the partitioned export. */
class WarcSpec extends SparkSuite {
  import spark.implicits._

  private def rec(tpe: String, uri: String, ctype: String, payload: String): String = {
    val p = payload.getBytes("UTF-8")
    s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Record-ID: <urn:test:$uri>\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Type: $ctype\r\nContent-Length: ${p.length}\r\n\r\n" + payload + "\r\n\r\n"
  }

  test("parses hand-written records: types, headers, payload boundaries, http body") {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhello warc body"
    val bytes = (rec("warcinfo", "urn:info", "application/warc-fields", "robots: classic\r\n") +
      rec("response", "http://a.example/1", "application/http; msgtype=response", http) +
      rec("request", "http://a.example/1", "application/http; msgtype=request",
        "GET /1 HTTP/1.1\r\nHost: a.example\r\n\r\n")).getBytes("UTF-8")
    val rows = Warc.parseRecords(bytes).toSeq
    assert(rows.map(_.getString(0)) == Seq("warcinfo", "response", "request"))
    val resp = rows(1)
    assert(resp.getString(3) == "http://a.example/1")
    assert(resp.getLong(5) == http.getBytes("UTF-8").length.toLong)
    assert(resp.getString(7) == "hello warc body")
    // payload bytes are the exact content-length slice
    assert(new String(resp.getAs[Array[Byte]](6), "UTF-8") == http)
    // warcinfo is not application/http -> no body
    assert(rows(0).getString(7) == null)
  }

  test("gzip multi-member files decode as one stream (the Common Crawl layout)") {
    val dir = java.nio.file.Files.createTempDirectory("warc_gz").toString
    val f = new java.io.FileOutputStream(s"$dir/two.warc.gz")
    // two INDEPENDENT gzip members concatenated
    for (i <- 1 to 2) {
      val g = new java.util.zip.GZIPOutputStream(f)
      g.write(rec("response", s"http://m.example/$i",
        "application/http; msgtype=response", s"HTTP/1.1 200 OK\r\n\r\nbody $i").getBytes("UTF-8"))
      g.finish()
    }
    f.close()
    val got = Warc.read(spark, s"$dir/two.warc.gz")
      .select("target_uri", "http_body").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("http://m.example/1" -> "body 1", "http://m.example/2" -> "body 2"))
  }

  test("partitioned export reads back as one corpus, bytes identical per record") {
    val dir = java.nio.file.Files.createTempDirectory("warc_parts").toString + "/out"
    val df = (0 until 50).map(i => (s"http://p.example/$i", s"text of $i")).toDF("uri", "text")
      .repartition(4)
    Warc.writePartitioned(df, dir, "uri", "text")
    val back = Warc.read(spark, s"$dir/part-*.warc")
      .select(col("target_uri"), col("http_body")).as[(String, String)].collect().toMap
    assert(back.size == 50 && back("http://p.example/7") == "text of 7")
  }

  test("Warc.write refuses an over-cap frame instead of collecting it") {
    val df = (0 until 50).map(i => (s"http://c.example/$i", s"body $i")).toDF("uri", "text")
    val out = java.nio.file.Files.createTempDirectory("warc_cap").toString + "/cap.warc"
    val e = intercept[IllegalArgumentException] {
      Warc.write(df, out, "uri", "text", maxRows = 10L)
    }
    assert(e.getMessage.contains("writePartitioned"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
  }

  test("htmlToText: script/style/comment drop, block newlines, entities, collapse") {
    val df = Seq(
      ("<p>a  b</p><script>ignore < this</script><b>c</b>", "a b\nc"),
      ("x<br/>y<!-- no -->z", "x\ny z"), // dropped nodes leave a space — no accidental word-joins
      ("&lt;kept&gt; &amp;&nbsp;&quot;q&#39;", "<kept> & \"q'"),
      ("<ul><li>one</li><li>two</li></ul>", "one\ntwo"),
      ("plain text", "plain text")).toDF("html", "expected")
    val bad = df.select(graft.functions.TextFunctions.htmlToText(col("html")).as("got"),
      col("expected")).filter(col("got") =!= col("expected"))
    assert(bad.isEmpty, bad.collect().mkString(";"))
  }
}
