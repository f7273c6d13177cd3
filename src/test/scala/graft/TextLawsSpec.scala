package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Law-style invariants for the text-pipeline Column functions, evaluated
  * through the real Spark execution path over generated inputs (one
  * DataFrame pass — scalacheck supplies the strings, Spark the engine). */
class TextLawsSpec extends SparkSuite {
  import spark.implicits._

  private val genString: Gen[String] = {
    val piece = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf(" ", "  ", "\t", "\n", ""),
      Gen.const("user@ex-ample.org"),
      Gen.const("https://h.io/p?x=1"),
      Gen.const("555-123-4567"),
      Gen.oneOf("<EMAIL>", "&x;", "é漢字", "..."))
    Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, piece).map(_.mkString(" ")))
  }

  private def samples(n: Int): Seq[String] =
    Gen.listOfN(n, genString).apply(Gen.Parameters.default, Seed(42L)).getOrElse(Nil)

  test("laws hold over generated strings through the Spark path") {
    val rows = samples(300)
    val df = rows.toDF("t").select(col("t"),
      TextFunctions.normalizeText(col("t")).as("n1"),
      TextFunctions.normalizeText(TextFunctions.normalizeText(col("t"))).as("n2"),
      TextFunctions.redactPii(col("t")).as("r1"),
      TextFunctions.redactPii(TextFunctions.redactPii(col("t"))).as("r2"),
      TextFunctions.dupNgramFraction(col("t"), 2).as("frac"),
      TextFunctions.tokenCount(col("t")).as("tc"),
      TextFunctions.tokenCount(TextFunctions.normalizeText(col("t"))).as("tcn"),
      TextFunctions.dupLineFraction(col("t")).as("lfrac"),
      TextFunctions.fingerprintU(col("t")).as("fp"))
    df.collect().foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) == r.getString(2), s"normalize not idempotent on ${t.take(40)}")
      assert(r.getString(3) == r.getString(4), s"redact not idempotent on ${t.take(40)}")
      val frac = r.getDouble(5)
      assert(frac >= 0.0 && frac <= 1.0, s"dupNgramFraction out of range: $frac")
      assert(r.getInt(6) == r.getInt(7), s"normalize changed token count on ${t.take(40)}")
      val lf = r.getDouble(8)
      assert(lf >= 0.0 && lf <= 1.0)
      val fp = r.getLong(9)
      assert(fp >= 0L && fp < 2147483647L, s"fingerprint out of range: $fp")
    }
  }

  test("foldAccents / nfkc / canonicalizeText: known folds, idempotence, ASCII identity") {
    val cases = Seq(
      // (input, foldAccents expected, nfkc expected)
      ("café", "cafe", "café"),
      ("Ünïted Nätions", "United Nations", "Ünïted Nätions"),
      ("ñoño ÀÉÎÕÜ", "nono AEIOU", "ñoño ÀÉÎÕÜ"),
      ("plain ascii 123", "plain ascii 123", "plain ascii 123"),
      ("ﬁle ²³ ／slash", "ﬁle ²³ ／slash", "file 23 /slash"), // NFKC compat folds; marks-only fold keeps them
      ("", "", ""),
      ("é́", "e", "é́")) // precomposed é + stray combining acute
    val df = cases.toDF("t", "fa", "nk")
      .select(col("t"), col("fa"), col("nk"),
        TextFunctions.foldAccents(col("t")).as("gfa"),
        TextFunctions.nfkc(col("t")).as("gnk"),
        TextFunctions.foldAccents(TextFunctions.foldAccents(col("t"))).as("gfa2"),
        TextFunctions.nfkc(TextFunctions.nfkc(col("t"))).as("gnk2"))
    df.collect().foreach { r =>
      val t = r.getString(0)
      assert(r.getString(3) == r.getString(1), s"foldAccents('$t') = '${r.getString(3)}'")
      // NFKC comparison after NFC-normalizing the expectation literal (the
      // scala source itself may store either composition form)
      assert(java.text.Normalizer.normalize(r.getString(4), java.text.Normalizer.Form.NFKC)
        == java.text.Normalizer.normalize(r.getString(2), java.text.Normalizer.Form.NFKC),
        s"nfkc('$t')")
      assert(r.getString(5) == r.getString(3), s"foldAccents not idempotent on '$t'")
      assert(r.getString(6) == r.getString(4), s"nfkc not idempotent on '$t'")
    }
    // canonicalizeText = foldAccents then the existing normalizeText chain
    val canon = Seq("  CaFÉ   du\t MONDE  ").toDF("t")
      .select(TextFunctions.canonicalizeText(col("t"))).head().getString(0)
    assert(canon == "cafe du monde", s"canonicalizeText: '$canon'")
    // NULL propagates
    assert(Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.foldAccents(col("t"))).head().isNullAt(0))
    // codegen really engaged (no UDF): over a non-local child the project
    // stays inside a WholeStageCodegen span (a LocalTableScan would
    // constant-fold away the evidence)
    val plan = spark.range(1)
      .select(TextFunctions.foldAccents(concat(lit("é"), col("id").cast("string"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"fold_accents fell out of codegen:\n$plan")
  }
}
