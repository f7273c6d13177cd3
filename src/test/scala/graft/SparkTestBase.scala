package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all Spark suites, built like every main's
  * (GraftSession: same conf, rules only through GraftExtensions). */
object SparkTestBase {
  @volatile private var started = false

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      // local[threads, maxFailures]: 4 task attempts so DeterminismSpec can
      // inject first-attempt failures and observe the retry actually rerun;
      // tests that expect task errors to propagate still fail (after retries)
      .master("local[4, 4]")
      .appName("graft-test")
      // binaryFiles packs files into >=openCost splits; tests use KB-sized
      // fixtures, so lower it to see real multi-file parallelism in specs
      .config("spark.files.openCostInBytes", "1024")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    started = true
    s
  }

  /** Drop every cached plan. A cached plan whose source is gone (a failed
    * suite's) would otherwise break the next suite's `unpersist`, which
    * re-checks every remaining cache entry. */
  def clearCache(): Unit = if (started) spark.catalog.clearCache()

  /** Run `body` with the named optimizer rules excluded, e.g.
    * `"graft.plans.AutoSpatialJoin"`. Plans must be built and run inside. */
  def withExcludedRules[T](rules: String*)(body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, rules.mkString(","))
    try body finally spark.conf.unset(key)
  }
}

/** Base of every suite that uses the shared session: the cache is cleared
  * after each suite, so no suite sees another's cached plans. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  override protected def afterAll(): Unit =
    try SparkTestBase.clearCache() finally super.afterAll()
}
