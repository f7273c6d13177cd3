package graft

import graft.functions.TextFunctions
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Training-pipeline text operators: normalization, PII redaction,
  * repetition (Gopher-style) line stats, benchmark decontamination. */
class TextPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("compressionRatio: repetitive < prose < high-entropy; edge cases pinned") {
    val rep = ("spam and eggs " * 200).trim                     // highly repetitive
    val prose = "The quick brown fox jumps over the lazy dog. " +
      "A different sentence follows with mostly new words, then another " +
      "one about rivers, mountains, and the slow drift of clouds overhead."
    var x = 0x9e3779b97f4a7c15L
    val rand = (1 to 400).map { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x & 0x7fffffffL) % 94 + 33).toChar
    }.mkString
    val got = Seq((1L, rep), (2L, prose), (3L, rand), (4L, ""), (5L, null: String))
      .toDF("id", "t")
      .select(col("id"), TextFunctions.compressionRatio(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).get < 0.1, s"repetitive text must crush: ${got(1L)}")
    assert(got(2L).get > got(1L).get && got(2L).get < 1.0, s"prose in between: ${got(2L)}")
    assert(got(3L).get > got(2L).get, s"high-entropy compresses worst: ${got(3L)}")
    assert(got(4L).contains(1.0) && got(5L).isEmpty)
    // deterministic across invocations (fixed level, raw deflate)
    val again = Seq(prose).toDF("t")
      .select(TextFunctions.compressionRatio(col("t"))).head().getDouble(0)
    assert(Some(again) == got(2L))
  }

  test("normalizeText lowercases, trims, collapses whitespace") {
    val df = Seq("  Mixed   CASE\t\ttext \n here  ").toDF("t")
    val got = df.select(TextFunctions.normalizeText(col("t"))).as[String].head()
    assert(got == "mixed case text here")
  }

  test("redactPii replaces URLs then emails then phones, counts match") {
    val s = "mail a.user+x@sub.ex-ample.org or http://h.io/p?a=1#f and https://x.y " +
      "call 555-123-4567 or +1 212.555.9999 done"
    val df = Seq(s).toDF("t")
    val row = df.select(
      TextFunctions.redactPii(col("t")),
      TextFunctions.piiUrlCount(col("t")),
      TextFunctions.piiEmailCount(col("t")),
      TextFunctions.piiPhoneCount(col("t"))).head()
    assert(row.getString(0) ==
      "mail <EMAIL> or <URL> and <URL> call <PHONE> or +1 <PHONE> done")
    assert((row.getInt(1), row.getInt(2), row.getInt(3)) == ((2, 1, 2)))
  }

  test("pii patterns leave plain text untouched") {
    val df = Seq("no pii here just words and 12 numbers 345").toDF("t")
    assert(df.select(TextFunctions.redactPii(col("t"))).as[String].head() ==
      "no pii here just words and 12 numbers 345")
  }

  test("urlHosts extracts lowercased hosts in order; blocklist matches exactly") {
    val df = Seq(
      "visit https://WWW.Example.COM/a then http://sub.Bad.org/x?q=1 end",
      "no urls at all",
      "edge https://host-only.io").toDF("t")
    val hosts = df.select(TextFunctions.urlHosts(col("t"))).as[Seq[String]].collect()
    assert(hosts(0) == Seq("www.example.com", "sub.bad.org"))
    assert(hosts(1) == Seq())
    assert(hosts(2) == Seq("host-only.io"))
    val blocked = df.select(TextFunctions.hasBlockedDomain(col("t"), Seq("sub.bad.org")))
      .as[Boolean].collect().toSeq
    assert(blocked == Seq(true, false, false))
    // blocklist is exact-host: a parent domain does not match a subdomain
    assert(df.select(TextFunctions.hasBlockedDomain(col("t"), Seq("bad.org")))
      .as[Boolean].collect().toSeq == Seq(false, false, false))
  }

  test("line stats drop blanks, count distinct, compute dup fraction") {
    val doc = "alpha\n x \n\nalpha\nbeta\n  \nx"
    val df = Seq(doc, "").toDF("t")
    val rows = df.select(
      TextFunctions.lineCount(col("t")),
      TextFunctions.distinctLineCount(col("t")),
      TextFunctions.dupLineFraction(col("t"))).collect()
    // lines: alpha, x, alpha, beta, x -> 5 total, 3 distinct
    assert((rows(0).getInt(0), rows(0).getInt(1), rows(0).getDouble(2)) == ((5, 3, 0.4)))
    assert((rows(1).getInt(0), rows(1).getInt(1), rows(1).getDouble(2)) == ((0, 0, 0.0)))
  }

  test("dupNgramFraction: looping text scores high, varied text scores 0") {
    val df = Seq(
      "a b c a b c a b c",  // 8 bigrams, 3 distinct -> 0.625
      "all words here are different ones", // 5 bigrams all distinct -> 0.0
      "x").toDF("t")        // no bigrams -> 0.0
    val got = df.select(TextFunctions.dupNgramFraction(col("t"), 2)).as[Double].collect().toSeq
    assert(got == Seq(0.625, 0.0, 0.0))
  }

  test("paragraph dedup drops corpus-repeated spans, keeps structure and order") {
    val corpus = Seq(
      (1L, "keep1\nDUP\n\nkeep2"),
      (2L, "DUP\nother"),
      (3L, "solo")).toDF("doc_id", "text")
    val cleaned = Dedup.dropRepeatedParagraphs(corpus, "doc_id", "text", maxOccurrences = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // "DUP" occurs twice across the corpus -> dropped everywhere;
    // blank paragraphs are structure and survive
    assert(cleaned(1L) == ((3L, "keep1\n\nkeep2")))
    assert(cleaned(2L) == ((1L, "other")))
    assert(cleaned(3L) == ((1L, "solo")))
    // with maxOccurrences = 2 nothing is hot and docs pass through intact
    val loose = Dedup.dropRepeatedParagraphs(corpus, "doc_id", "text", maxOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(loose(1L) == "keep1\nDUP\n\nkeep2")
  }

  test("paragraph dedup keeps a fully-boilerplate doc with n_paras_kept = 0") {
    // doc 4 is NOTHING BUT the corpus-hot paragraph: it must survive in the
    // output (n_paras_kept = 0, cleaned = '') rather than silently vanish —
    // dropping the row would change corpus cardinality under the caller's feet
    val corpus = Seq(
      (1L, "unique1\nBOILER"),
      (2L, "BOILER\nunique2"),
      (4L, "BOILER")).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedParagraphs(corpus, "doc_id", "text", maxOccurrences = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(4L) == ((0L, "")))
    assert(got(1L) == ((1L, "unique1")))
  }

  test("contaminationOverlap counts distinct shared bigrams vs the probe set") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),         // bigrams incl "the cat","cat sat"
      (2L, "a dog ran far away today"),       // no overlap with probes
      (3L, "the cat sat the cat sat again")). // duplicate bigrams count ONCE
      toDF("doc_id", "text")
    val probes = Seq((100L, "the cat sat quietly")).toDF("doc_id", "text")
    val got = Dedup.contaminationOverlap(corpus, probes, "doc_id", "text",
      n = 2, minOverlap = 1)
      .as[(Long, Long)].collect().toMap
    // probe bigrams: {the cat, cat sat, sat quietly}
    assert(got == Map(1L -> 2L, 3L -> 2L)) // doc 2 filtered out entirely
    // threshold filters
    val strict = Dedup.contaminationOverlap(corpus, probes, "doc_id", "text",
      n = 2, minOverlap = 3)
    assert(strict.count() == 0)
  }

  test("contamination plan broadcasts the probe side (corpus never shuffled for the join)") {
    val corpus = (1 to 100).map(i => (i.toLong, s"word$i follows word${i + 1} here")).toDF("doc_id", "text")
    val probes = Seq((0L, "word5 follows word6")).toDF("doc_id", "text")
    val plan = Dedup.contaminationOverlap(corpus, probes, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("Gopher rules: closed-form metrics on a constructed document") {
    // lines: ["aa bb...", "• x", "- y", "zz"] — 2 of 4 bullets, 1 of 4
    // ellipsis-terminated; tokens: [aa, bb..., •, x, -, y, zz] — 7 words,
    // one '...' symbol, 5 alphabetic words
    val doc = "aa bb...\n• x\n- y\nzz"
    val r = Seq(doc).toDF("t").select(
      TextFunctions.tokenCount(col("t")),
      TextFunctions.symbolWordRatio(col("t")),
      TextFunctions.bulletLineFraction(col("t")),
      TextFunctions.ellipsisLineFraction(col("t")),
      TextFunctions.alphaWordFraction(col("t")),
      TextFunctions.gopherStopwordHits(col("t"))).head()
    assert(r.getInt(0) == 7)
    assert(r.getDouble(1) == 0.142857) // 1/7
    assert(r.getDouble(2) == 0.5)
    assert(r.getDouble(3) == 0.25)
    assert(r.getDouble(4) == 0.714286) // 5/7
    assert(r.getInt(5) == 0)

    // prose passes the composite; symbol-heavy and stopword-free text fails
    val prose = "the value of and that have with be good words here today."
    val probe = Seq(prose, "## ### #### ##### highly symbolic", "")
      .toDF("t").select(TextFunctions.gopherKeep(col("t"), minWords = 5))
      .as[Boolean].collect().toSeq
    assert(probe == Seq(true, false, false))
  }

  test("C4 line cleaning: each drop reason fires; page flags and keep compose") {
    val doc = List(
      "this first sentence is long enough to stay.", // kept
      "too short.",                                  // < 5 words
      "this line has no terminal punctuation at all", // no terminal punct
      "enable javascript to view this page.",        // javascript
      "the closing sentence also stays right here!"  // kept
    ).mkString("\n")
    val r = Seq(doc).toDF("t").select(
      TextFunctions.c4CleanLines(col("t")),
      TextFunctions.c4SentenceCount(col("t")),
      TextFunctions.hasLoremIpsum(col("t")),
      TextFunctions.hasCurlyBrace(col("t")),
      TextFunctions.c4Keep(col("t"))).head()
    assert(r.getString(0) ==
      "this first sentence is long enough to stay.\nthe closing sentence also stays right here!")
    assert(r.getInt(1) == 2)
    assert(!r.getBoolean(2) && !r.getBoolean(3))
    assert(!r.getBoolean(4)) // 2 sentences < the 3-sentence floor

    val flagged = Seq("lorem ipsum dolor.", "var x = { a: 1 }")
      .toDF("t").select(TextFunctions.hasLoremIpsum(col("t")),
        TextFunctions.hasCurlyBrace(col("t"))).collect()
    assert(flagged(0).getBoolean(0) && !flagged(0).getBoolean(1))
    assert(!flagged(1).getBoolean(0) && flagged(1).getBoolean(1))

    // quote-terminated sentences survive (C4 keeps end-quotation lines)
    val quoted = "she said \"this is a fine quoted sentence here.\""
    val kept = Seq(quoted).toDF("t")
      .select(TextFunctions.c4CleanLines(col("t"))).as[String].head()
    assert(kept == quoted)
  }
}
