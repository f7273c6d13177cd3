package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Units for the measurement-harness mains — Verify's extra-conf env
  * parsing and ScaleSuite's SCALE.md splicing — and for the session set-up
  * every main and suite shares: one builder, one rule path, and no cached
  * plan carried from one suite into the next. */
class HarnessSpec extends SparkSuite {
  import HarnessSpec._

  test("GraftSession and the test session each carry every graft rule exactly once") {
    val OperatorBatches = Seq(
      "Operator Optimization before Inferring Filters",
      "Operator Optimization after Inferring Filters")
    val expected = GraftRules.map(_ -> OperatorBatches).toMap
    // the test session: injected once into each operator-optimization
    // batch, never appended as an extra optimization
    assert(graftRuleBatches(spark) == expected)
    assert(spark.experimental.extraOptimizations.isEmpty)
    // a session exactly as the mains build it, in a JVM of its own (one
    // SparkContext per JVM)
    val (rules, extra) = probeGraftSession()
    assert(rules == expected)
    assert(extra == 0)
    // and no main builds a session any other way
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"expected the repository root as working directory")
    def sources(needle: String): Set[String] = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(p => main.relativize(p).toString).toSet
    assert(sources("SparkSession.builder()") == Set("scala/graft/GraftSession.scala"))
    assert(sources("extraOptimizations").isEmpty && sources("def install(").isEmpty)
  }

  test("a suite that leaves a failed cached plan does not break a later unpersist") {
    val missing = Files.createTempDirectory("harness_cache").resolve("gone.shp").toString
    val (first, second) = (new FailedCacheSuite(missing), new CacheUserSuite)
    assert(runNested(first) && runNested(second))
  }

  test("parseExtraConf splits simple k=v pairs") {
    assert(Verify.parseExtraConf("spark.speculation=true,spark.speculation.quantile=0.5") ==
      Seq("spark.speculation" -> "true", "spark.speculation.quantile" -> "0.5"))
  }

  test("parseExtraConf re-joins commas inside a value onto the preceding pair") {
    assert(Verify.parseExtraConf("spark.sql.optimizer.excludedRules=ruleA,ruleB") ==
      Seq("spark.sql.optimizer.excludedRules" -> "ruleA,ruleB"))
    assert(Verify.parseExtraConf("a=1,b=x,y,z,c=2") ==
      Seq("a" -> "1", "b" -> "x,y,z", "c" -> "2"))
  }

  test("parseExtraConf drops a leading no-'=' token instead of crashing") {
    assert(Verify.parseExtraConf("spark.speculation").isEmpty)
    assert(Verify.parseExtraConf("garbage,a=1") == Seq("a" -> "1"))
    assert(Verify.parseExtraConf("") == Seq.empty)
    assert(Verify.parseExtraConf(" , ,a=1, ") == Seq("a" -> "1"))
  }

  test("parseExtraConf keeps '=' inside values intact (split on first only)") {
    assert(Verify.parseExtraConf("spark.driver.extraJavaOptions=-Da=b") ==
      Seq("spark.driver.extraJavaOptions" -> "-Da=b"))
  }

  test("spliceSection replaces an existing marked section in place") {
    val existing = "# SCALE\n\nintro\n\n" +
      s"${ScaleSuite.SectionStart}\nold body\n${ScaleSuite.SectionEnd}\n\ntrailer\n"
    val out = ScaleSuite.spliceSection(existing, "new body")
    assert(out.contains("new body") && !out.contains("old body"))
    assert(out.startsWith("# SCALE\n\nintro"))
    assert(out.contains("trailer"))
    // idempotent: splicing again yields exactly one marked section
    val again = ScaleSuite.spliceSection(out, "newer")
    assert(again.split(java.util.regex.Pattern.quote(ScaleSuite.SectionStart)).length == 2)
    assert(again.contains("newer") && !again.contains("new body"))
    // tiers coexist: the 16x section splices WITHOUT touching the 4x one,
    // and re-splicing either replaces only its own block
    val with16 = ScaleSuite.spliceSection(again, "sixteen body", mult = 16)
    assert(with16.contains("newer") && with16.contains("sixteen body"))
    assert(with16.contains(ScaleSuite.sectionStart(16)))
    val re4 = ScaleSuite.spliceSection(with16, "four again", mult = 4)
    assert(re4.contains("four again") && re4.contains("sixteen body") && !re4.contains("newer"))
    val re16 = ScaleSuite.spliceSection(re4, "sixteen again", mult = 16)
    assert(re16.contains("four again") && re16.contains("sixteen again") &&
      !re16.contains("sixteen body"))
  }

  test("spliceSection appends the section when no markers exist") {
    val out = ScaleSuite.spliceSection("# SCALE\n\nprose only\n", "body")
    assert(out.contains("prose only"))
    assert(out.indexOf(ScaleSuite.SectionStart) > out.indexOf("prose only"))
    assert(out.contains("body\n" + ScaleSuite.SectionEnd))
  }
}

object HarnessSpec {
  val GraftRules: Seq[String] =
    Seq("graft.plans.BboxFastPath", "graft.plans.GeomSimplify", "graft.plans.AutoSpatialJoin")

  /** For each graft rule, the optimizer batches it sits in, once per
    * occurrence. `batches` and `Batch` are protected in Scala but public in
    * bytecode, hence the reflection. */
  def graftRuleBatches(spark: SparkSession): Map[String, Seq[String]] = {
    val opt = spark.sessionState.optimizer
    val batches = opt.getClass.getMethod("batches").invoke(opt).asInstanceOf[Seq[AnyRef]].map { b =>
      def get(m: String) = b.getClass.getMethod(m).invoke(b)
      get("name").asInstanceOf[String] ->
        get("rules").asInstanceOf[Seq[org.apache.spark.sql.catalyst.rules.Rule[_]]].map(_.ruleName)
    }
    GraftRules.map(r => r -> batches.flatMap { case (name, rs) => rs.filter(_ == r).map(_ => name) }).toMap
  }

  /** Runs [[GraftSessionProbe]] in a child JVM on this JVM's class path and
    * module options; returns its rule batches and extra-optimization count. */
  def probeGraftSession(): (Map[String, Seq[String]], Int) = {
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(javaBin) ++ opts ++ Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
      "graft.GraftSessionProbe")
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    try {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0,
        s"probe JVM failed: ${out.mkString("\n")}")
      val rules = out.collect { case l if l.startsWith("RULE\t") =>
        val Array(_, r, bs) = l.split("\t", -1)
        r -> bs.split('|').filter(_.nonEmpty).toSeq
      }.toMap
      val extra = out.collectFirst { case l if l.startsWith("EXTRA\t") => l.drop(6).toInt }
      (rules, extra.getOrElse(-1))
    } finally p.destroyForcibly()
  }

  /** Runs a nested suite with a private reporter; true iff nothing failed. */
  def runNested(s: org.scalatest.Suite): Boolean = {
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reporter = new org.scalatest.Reporter {
      def apply(e: org.scalatest.events.Event): Unit = e match {
        case _: org.scalatest.events.TestFailed | _: org.scalatest.events.SuiteAborted => failed.set(true)
        case _ =>
      }
    }
    s.run(None, org.scalatest.Args(reporter)).succeeds() && !failed.get()
  }

  /** Caches a plan over a source that does not exist: the action fails and
    * the broken entry stays in the CacheManager until the suite ends. */
  class FailedCacheSuite(missing: String) extends SparkSuite {
    test("cache a plan whose source is gone") {
      val df = graft.io.Shapefile.read(spark, missing).df.cache()
      intercept[Exception](df.count())
    }
  }

  /** Caches and unpersists; unpersist re-checks every cached entry. */
  class CacheUserSuite extends SparkSuite {
    test("cache, count, unpersist") {
      val df = spark.range(10).toDF("id").cache()
      assert(df.count() == 10)
      df.unpersist()
    }
  }
}

/** A session exactly as the mains build it; prints where the graft rules
  * sit in its optimizer. Run by HarnessSpec in a JVM of its own. */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.builder(1).getOrCreate()
    try {
      HarnessSpec.graftRuleBatches(s).foreach { case (r, bs) => println(s"RULE\t$r\t${bs.mkString("|")}") }
      println(s"EXTRA\t${s.experimental.extraOptimizations.size}")
    } finally s.stop()
  }
}
