package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main and the
  * test session build through [[builder]], so they share one conf and one
  * rule path: the engine's Catalyst rules reach a session only through
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which injects them
  * into Catalyst's operator-optimization batch.
  *
  * Only settings that differ from Spark's defaults are listed; AQE and its
  * skew-join split are on by default, with a 64 MB advisory partition size. */
object GraftSession {

  /** Cores for the harness mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS); read as long nanos
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // codegen class cache sized for a many-operator pipeline (default 100
    // entries thrashes: one heavy query generates ~100+ classes, so every
    // execution recompiled them and each Janino compile serializes all
    // concurrent tasks of the stage on the compile-cache KeyLock -- 32-
    // thread dumps read ~19/32 task threads BLOCKED there; see
    // OPTIMIZATION_r22.md)
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
}
