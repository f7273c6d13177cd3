package graft

import graft.geom.{GeomOps, Wkb}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  test("streaming exact dedup drops repeated content within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("id", "text", "ts")
    val deduped = StreamingDedup.exactDedup(stream, "text", "ts")
    // default micro-batch trigger: AvailableNow would terminate after the
    // first batch and miss the cross-batch state assertions below
    val q = deduped.writeStream.format("memory").queryName("sd_exact")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    input.addData((1L, "hello world", t0), (2L, "hello world", t0), (3L, "other doc", t1))
    q.processAllAvailable()
    // duplicate arriving in a LATER batch is still dropped (state persists)
    input.addData((4L, "hello world", t1))
    q.processAllAvailable(); q.stop()
    val ids = spark.sql("select id from sd_exact").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L))
  }

  test("streaming simhash pairs find near-dups across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val pairs = StreamingDedup.simhashPairs(stream, "doc_id", "text", maxHamming = 3)
    val q = pairs.writeStream.format("memory").queryName("sd_sim")
      .outputMode("append").start()
    val base = "the quick brown fox jumps over the lazy dog again and again with more words"
    input.addData((1L, base), (2L, "completely different content about spark streaming state"))
    q.processAllAvailable()
    // identical doc (hamming 0) arrives in a later batch -> state catches it
    input.addData((3L, base))
    q.processAllAvailable(); q.stop()
    val found = spark.sql("select distinct id_a, id_b from sd_sim").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 3L)))
    assert(!found.exists { case (a, b) => Set(a, b).contains(2L) })
  }

  test("windowed cell counts: watermark + tumbling window + grid cell aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.GeoFunctions.st_point
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val stream = input.toDF().toDF("ts", "x", "y")
      .withColumn("geometry", st_point(col("x"), col("y")))
    val counts = graft.streaming.StreamingGeo.windowedCellCounts(
      stream, "ts", "geometry", cellSize = 10.0, windowLength = "5 minutes", watermark = "1 minute")
    val q = counts.writeStream.format("memory").queryName("wcc")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:30")
    input.addData((t0, 1.0, 1.0), (t0, 2.0, 2.0), (t0, 15.0, 1.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first window
    input.addData((java.sql.Timestamp.valueOf("2026-01-01 00:30:00"), 1.0, 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("select cell_x, cell_y, n from wcc").as[(Long, Long, Long)].collect().toSet
    assert(rows.contains((0L, 0L, 2L))) // two points in cell (0,0)
    assert(rows.contains((1L, 0L, 1L))) // one point in cell (1,0)
  }

  test("make_valid method=linework and structure both repair a bowtie") {
    val bowtie = Wkb.readWkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
    assert(!bowtie.isValid)
    val lw = GeomOps.makeValid(bowtie, "linework", keepCollapsed = true)
    val st = GeomOps.makeValid(bowtie, "structure", keepCollapsed = true)
    assert(lw.isValid && st.isValid)
    // bowtie splits into two unit-area triangles
    assert(math.abs(lw.getArea - 2.0) < 1e-9)
    assert(math.abs(st.getArea - 2.0) < 1e-9)
    assertThrows[IllegalArgumentException](GeomOps.makeValid(bowtie, "nope", keepCollapsed = false))
  }

  test("set_precision modes: pointwise keeps shape ungrouped, keep_collapsed retains collapses") {
    val line = Wkb.readWkt("LINESTRING (0 0, 0.26 0.26, 1 1)")
    val pw = GeomOps.setPrecision(line, 0.5, "pointwise")
    assert(pw.getCoordinates.forall(c => (c.x * 2) == math.round(c.x * 2).toDouble))
    // a sliver that collapses at grid 1: valid_output drops it, keep_collapsed keeps lower-dim
    val sliver = Wkb.readWkt("POLYGON ((0 0, 4 0, 4 0.1, 0 0.1, 0 0))")
    val vo = GeomOps.setPrecision(sliver, 1.0, "valid_output")
    val kc = GeomOps.setPrecision(sliver, 1.0, "keep_collapsed")
    assert(vo.isEmpty)
    assert(!kc.isEmpty && kc.getDimension < 2)
  }

  test("frechet/hausdorff densify variants") {
    val a = Wkb.readWkt("LINESTRING (0 0, 10 0)")
    val b = Wkb.readWkt("LINESTRING (0 3, 10 3)")
    assert(GeomOps.frechetDensify(a, b, 0.25) == 3.0)
    assert(GeomOps.hausdorffDensify(a, b, 0.25) == 3.0)
    // densifying gives the discrete coupling more choices -> tighter (<=)
    val c = Wkb.readWkt("LINESTRING (0 0, 5 5, 10 0)")
    val d = Wkb.readWkt("LINESTRING (0 1, 10 1)")
    assert(GeomOps.frechetDensify(c, d, 0.1) <= GeomOps.frechet(c, d) + 1e-9)
    assert(GeomOps.frechetDensify(c, d, 0.1) == 4.0)
  }

  test("streaming incremental minhash: cross-batch pairs found, old-old suppressed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val dup = "the quick brown fox jumps over the lazy dog"
    val perBatch = collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Long)])]
    val q = StreamingDedup.minhashIncremental(stream, "doc_id", "text",
        k = 2, threshold = 0.9) { (pairs, epoch) =>
      perBatch += epoch -> pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      ()
    }.start()
    // batch 1: a new-new dup pair inside the batch
    input.addData((1L, dup), (2L, dup), (3L, "completely different starter content"))
    q.processAllAvailable()
    // batch 2: one doc duplicating batch 1 (cross-batch), one novel
    input.addData((10L, dup), (11L, "novel second batch content here"))
    q.processAllAvailable()
    // batch 3: another dup — finds ALL earlier copies, re-emits none of them
    input.addData((20L, dup))
    q.processAllAvailable(); q.stop()
    val byEpoch = perBatch.toMap
    assert(byEpoch(0L) == Set((1L, 2L)), s"batch 1 new-new: ${byEpoch(0L)}")
    assert(byEpoch(1L) == Set((1L, 10L), (2L, 10L)),
      s"batch 2 must pair with BOTH stored copies and never re-emit (1,2): ${byEpoch(1L)}")
    assert(byEpoch(2L) == Set((1L, 20L), (2L, 20L), (10L, 20L)),
      s"batch 3 must pair with all three stored copies only: ${byEpoch(2L)}")
  }

  test("streaming pre-banded probe: same pairs as the plain path, stored side never re-banded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sharedState.cacheManager.clearCache()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val dup = "the quick brown fox jumps over the lazy dog"
    val perBatch = collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Long)])]
    val generatesPerBatch = collection.mutable.ArrayBuffer.empty[Int]
    val q = StreamingDedup.minhashIncrementalBanded(stream, "doc_id", "text",
        k = 2, threshold = 0.9) { (pairs, epoch) =>
      val plan = pairs.queryExecution.executedPlan.toString
      generatesPerBatch += "Generate".r.findAllMatchIn(plan).length
      perBatch += epoch -> pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      ()
    }.start()
    input.addData((1L, dup), (2L, dup), (3L, "completely different starter content"))
    q.processAllAvailable()
    input.addData((10L, dup), (11L, "novel second batch content here"))
    q.processAllAvailable()
    input.addData((20L, dup))
    q.processAllAvailable(); q.stop()
    val byEpoch = perBatch.toMap
    // identical pair sets to the plain incremental streaming path
    assert(byEpoch(0L) == Set((1L, 2L)), s"batch 1 new-new: ${byEpoch(0L)}")
    assert(byEpoch(1L) == Set((1L, 10L), (2L, 10L)), s"batch 2: ${byEpoch(1L)}")
    assert(byEpoch(2L) == Set((1L, 20L), (2L, 20L), (10L, 20L)), s"batch 3: ${byEpoch(2L)}")
    // the q140 economics: the probe plan carries NO Generate at all — the
    // new batch's banding was materialized once at localCheckpoint time
    // (bounded by batch size) and the accumulated corpus enters as stored
    // band keys, never re-exploded/re-hashed (the plain incremental probe's
    // plan re-bands the old side per batch)
    assert(generatesPerBatch.forall(_ == 0),
      s"stored side must never be re-banded per batch: generates=$generatesPerBatch")
    // and no CacheManager entries accumulate (no cache handle to manage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "banded streaming probe must leave no CacheManager entries behind")
  }

  test("streaming repeated-span dedup: cross-batch + within-batch spans, old docs never re-emitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val perBatch = collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Int, Int)])]
    val q = StreamingDedup.repeatedSpansIncremental(stream, "doc_id", "text",
        minTokens = 3) { (spans, epoch) =>
      perBatch += epoch -> spans.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      ()
    }.start()
    // batch 1: doc 3 repeats "p q r" within itself (batch face); docs 1/2
    // are clean — no cross-batch corpus exists yet
    input.addData((1L, "a b c d e f"), (2L, "x y z w q"), (3L, "p q r p q r p q r"))
    q.processAllAvailable()
    // batch 2: doc 10 is an exact copy of (old) doc 1 — every window hits
    // the stored profile -> one whole-doc span; doc 1 itself must NOT
    // re-emit (old docs are never re-probed)
    input.addData((10L, "a b c d e f"), (11L, "novel second batch content"))
    q.processAllAvailable()
    // batch 3: doc 20 embeds ONE stored window ("c d e", from batch 1's
    // profile — two batches back) in fresh context -> a 3-token span at
    // position 2
    input.addData((20L, "zz c d e yy"))
    q.processAllAvailable(); q.stop()
    val byEpoch = perBatch.toMap
    assert(byEpoch(0L) == Set((3L, 1, 9)), s"batch 1 within-batch span: ${byEpoch(0L)}")
    assert(byEpoch(1L) == Set((10L, 1, 6)), s"batch 2 cross-batch copy: ${byEpoch(1L)}")
    assert(byEpoch(2L) == Set((20L, 2, 3)), s"batch 3 embedded stored window: ${byEpoch(2L)}")
  }

  test("epoch replay is idempotent: re-run batches probe the pre-fold state") {
    // Spark can re-run a foreachBatch epoch (failure between fold and sink
    // commit, or a sink-commit retry). Drive the extracted batch bodies
    // directly — replaying each epoch — and assert the replay output is
    // IDENTICAL to the first run (no spurious self-hits from a batch
    // probing its own already-folded windows/signatures) and later epochs
    // see the fold exactly once.
    val outSpans = collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Int, Int)])]
    val spanFn = StreamingDedup.repeatedSpansBatchFn("doc_id", "text", minTokens = 3) {
      (spans, epoch) =>
        outSpans += epoch -> spans.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        ()
    }
    val b0 = Seq((1L, "a b c d e f"), (2L, "p q r p q r p q r")).toDF("doc_id", "text")
    val b1 = Seq((10L, "a b c d e f"), (11L, "novel second batch content")).toDF("doc_id", "text")
    spanFn(b0, 0L); spanFn(b0, 0L)           // epoch 0 replayed
    spanFn(b1, 1L); spanFn(b1, 1L)           // epoch 1 replayed
    spanFn(Seq((20L, "zz c d e yy")).toDF("doc_id", "text"), 2L)
    assert(outSpans(0) == (0L, Set((2L, 1, 9))), s"epoch 0 first run: ${outSpans(0)}")
    assert(outSpans(1) == outSpans(0),
      s"epoch 0 replay must not self-hit doc 1 against its own folded profile: ${outSpans(1)}")
    assert(outSpans(2) == (1L, Set((10L, 1, 6))), s"epoch 1 first run: ${outSpans(2)}")
    assert(outSpans(3) == outSpans(2), s"epoch 1 replay: ${outSpans(3)}")
    // epoch 2 sees batch 0+1 folded exactly once each — "c d e" hits
    assert(outSpans(4) == (2L, Set((20L, 2, 3))), s"epoch 2 after replays: ${outSpans(4)}")

    // same guard on both minhash folds
    for (mk <- Seq[((org.apache.spark.sql.DataFrame, Long) => Unit) => Unit](
      cb => {
        val fn = StreamingDedup.minhashBatchFn("doc_id", "text", 2, 16, 4, 0.9) {
          (p, e) => cb(p, e) }
        val dup = "the quick brown fox jumps over the lazy dog"
        val m0 = Seq((1L, dup), (2L, "completely different starter content")).toDF("doc_id", "text")
        val m1 = Seq((10L, dup)).toDF("doc_id", "text")
        fn(m0, 0L); fn(m0, 0L); fn(m1, 1L); fn(m1, 1L)
      },
      cb => {
        val fn = StreamingDedup.minhashBandedBatchFn("doc_id", "text", 2, 16, 4, 0.9) {
          (p, e) => cb(p, e) }
        val dup = "the quick brown fox jumps over the lazy dog"
        val m0 = Seq((1L, dup), (2L, "completely different starter content")).toDF("doc_id", "text")
        val m1 = Seq((10L, dup)).toDF("doc_id", "text")
        fn(m0, 0L); fn(m0, 0L); fn(m1, 1L); fn(m1, 1L)
      })) {
      val outs = collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Long)])]
      mk((pairs, epoch) =>
        outs += epoch -> pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      assert(outs(0) == (0L, Set.empty[(Long, Long)]), s"epoch 0 no dup pair: ${outs(0)}")
      assert(outs(1) == outs(0),
        s"epoch 0 replay must not pair the batch against its own folded signatures: ${outs(1)}")
      assert(outs(2) == (1L, Set((1L, 10L))), s"epoch 1 cross-batch pair: ${outs(2)}")
      assert(outs(3) == outs(2), s"epoch 1 replay: ${outs(3)}")
    }
  }

  test("streaming rolling cluster labels: attach, merge, and replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val perEpoch = collection.mutable.ArrayBuffer.empty[(Long, Map[Long, Long])]
    val q = StreamingDedup.ccIncremental(input.toDF().toDF("id_a", "id_b")) {
      (labels, epoch) =>
        perEpoch += epoch -> labels.as[(Long, Long)].collect().toMap
        ()
    }.start()
    input.addData((1L, 2L), (10L, 11L))          // two clusters
    q.processAllAvailable()
    input.addData((3L, 2L), (20L, 21L))          // attach 3; new cluster
    q.processAllAvailable()
    input.addData((11L, 3L))                     // MERGE {1,2,3} with {10,11}
    q.processAllAvailable(); q.stop()
    val byEpoch = perEpoch.toMap
    assert(byEpoch(0L) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(byEpoch(1L) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
    assert(byEpoch(2L) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L), s"merge must relabel the 10-cluster: ${byEpoch(2L)}")

    // replay: driving the batch body directly, a re-run epoch relabels from
    // the PRE-fold labeling (identical output), and the next epoch sees the
    // fold exactly once
    val outs = collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    val fn = StreamingDedup.ccBatchFn("id_a", "id_b") { (labels, _) =>
      outs += labels.as[(Long, Long)].collect().toMap; ()
    }
    val b0 = Seq((1L, 2L)).toDF("id_a", "id_b")
    val b1 = Seq((2L, 3L)).toDF("id_a", "id_b")
    fn(b0, 0L); fn(b0, 0L); fn(b1, 1L)
    assert(outs(0) == Map(1L -> 1L, 2L -> 1L))
    assert(outs(1) == outs(0), "replayed epoch must emit identical labels")
    assert(outs(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incremental minhash probe leaves no CacheManager entries behind") {
    // the probe's banded-new-side materialization must NOT go through the
    // session CacheManager: a cache entry per micro-batch would accumulate
    // for the stream's lifetime (round-12 advice). localCheckpoint blocks
    // are instead released by the ContextCleaner once the batch's frames
    // are dropped. Cleared up front because the session is shared across
    // suites — the assertion is about entries THIS probe adds.
    spark.sharedState.cacheManager.clearCache()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.minhashIncremental(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", k = 2) { (pairs, _) =>
      pairs.count(); ()
    }.start()
    for (b <- 0 until 3) {
      input.addData((10L * b, s"batch $b content one"), (10L * b + 1, s"batch $b content two"))
      q.processAllAvailable()
    }
    q.stop()
    assert(spark.sharedState.cacheManager.isEmpty,
      "incremental minhash probe must not leave CacheManager entries behind")
  }

  test("epoch replays leave no orphan localCheckpoint blocks behind") {
    // A replayed epoch's fold no-ops, so any checkpoint the batch body
    // builds on the replay path is retained by nothing — it would linger
    // in executor storage until RDD GC (round-16 advice). The batch
    // bodies must skip re-checkpointing on a replay: the persistent-RDD
    // map must not grow across the replay call. (First runs DO grow it —
    // that checkpoint is the fold's retained state.)
    // The probes' INTERNAL per-call checkpoints (the banded probe's new-side
    // materialization, CC's per-round truncation) are batch-scoped on every
    // call and reclaimed by the ContextCleaner — that documented posture is
    // unchanged. The pin here is the fold level: a replay must register
    // strictly fewer persistent RDDs than a first run (it skips the fold's
    // retained checkpoints), and the plain minhash path — whose only
    // internal materialization is the banding cache, unpersisted in the
    // batch body — must register NONE at all.
    // Count NEWLY REGISTERED persistent-RDD ids (set difference), not net
    // map size: the ContextCleaner concurrently unpersists other tests'
    // dropped checkpoints, so a size delta is GC-racy under suite load.
    // The fold-RETAINED checkpoints of a first run are strongly referenced
    // and always counted; a replay must register strictly fewer.
    val sc = spark.sparkContext
    def growth(run: () => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      run()
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val b = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val mh = StreamingDedup.minhashBatchFn("doc_id", "text", 2, 16, 4, 0.9) {
      (p, _) => p.count(); () }
    val mhFirst = growth(() => mh(b, 0L))
    val mhReplay = growth(() => mh(b, 0L))
    assert(mhReplay == 0,
      s"plain minhash replay must checkpoint nothing (first run: $mhFirst): $mhReplay")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    for ((name, run) <- Seq[(String, Long => Unit)](
      "banded" -> {
        val fn = StreamingDedup.minhashBandedBatchFn("doc_id", "text", 2, 16, 4, 0.9) {
          (p, _) => p.count(); () }
        e => fn(b, e)
      },
      "spans" -> {
        val fn = StreamingDedup.repeatedSpansBatchFn("doc_id", "text", minTokens = 3) {
          (s, _) => s.count(); () }
        e => fn(b, e)
      },
      "cc" -> {
        val fn = StreamingDedup.ccBatchFn("id_a", "id_b") { (l, _) => l.count(); () }
        e => fn(edges, e)
      })) {
      val first = growth(() => run(0L))
      val replay = growth(() => run(0L))
      assert(replay < first,
        s"$name replay must skip the fold-level checkpoints: first=$first replay=$replay")
    }
  }

  test("stateless pipeline ops (sample, redact, quality) run under Structured Streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.TextFunctions
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // the ingest-shaped pipeline: hash-sample -> redact -> score, all
    // map-side expressions, so the stream needs no state or watermark
    val piped = graft.ops.Sampling.deterministicSample(stream, "doc_id", 0.5)
      .withColumn("clean", TextFunctions.redactPii(col("text")))
      .withColumn("q", TextFunctions.qualityScore(col("clean")))
    val q = piped.writeStream.format("memory").queryName("sd_pipe")
      .outputMode("append").start()
    val rows = (0L until 200L).map(i => (i, s"doc $i contact u$i@ex.org ok"))
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.sql("select doc_id, clean from sd_pipe")
      .as[(Long, String)].collect().toMap
    // streaming sample = batch sample, decision for decision
    val batchIds = graft.ops.Sampling.deterministicSample(
      rows.toDF("doc_id", "text"), "doc_id", 0.5).select("doc_id").as[Long].collect().toSet
    assert(got.keySet == batchIds)
    assert(got.values.forall(_.contains("<EMAIL>")))
  }

  test("chunking and canonicalization run under Structured Streaming (stateless)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.TextFunctions
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // canonicalize then chunk — both pure map-side (no state, no watermark)
    val piped = graft.ops.Sampling.chunkDocuments(
      stream.withColumn("text", TextFunctions.canonicalizeText(col("text"))),
      "doc_id", "text", chunkTokens = 3, overlapTokens = 1)
    val q = piped.writeStream.format("memory").queryName("sd_chunk")
      .outputMode("append").start()
    val rows = (0L until 40L).map(i => (i, s"  CaFÉ $i alpha beta gamma delta  "))
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.sql("select * from sd_chunk")
      .as[(Long, Int, String, Long)].collect().toSet
    // streaming output ≡ the batch op on the same rows
    val batch = graft.ops.Sampling.chunkDocuments(
      rows.toDF("doc_id", "text")
        .withColumn("text", TextFunctions.canonicalizeText(col("text"))),
      "doc_id", "text", 3, 1).as[(Long, Int, String, Long)].collect().toSet
    assert(got == batch && got.exists(_._3.startsWith("cafe ")), s"n=${got.size}")
  }

  test("shared_paths splits forward and backward components") {
    val a = Wkb.readWkt("LINESTRING (0 0, 10 0)")
    val sameDir = Wkb.readWkt("LINESTRING (2 0, 4 0)")
    val oppDir = Wkb.readWkt("LINESTRING (8 0, 6 0)")
    val sp1 = GeomOps.sharedPaths(a, sameDir)
    assert(sp1.getNumGeometries == 2)
    assert(sp1.getGeometryN(0).getLength == 2.0) // forward
    assert(sp1.getGeometryN(1).getLength == 0.0) // backward empty
    val sp2 = GeomOps.sharedPaths(a, oppDir)
    assert(sp2.getGeometryN(0).getLength == 0.0)
    assert(sp2.getGeometryN(1).getLength == 2.0)
  }
}
