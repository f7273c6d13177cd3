package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._

/** BPE training against the hand-computable merge sequence of the Sennrich
  * et al. 2016 worked example (low/lower/newest/widest). */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  // corpus with word frequencies low:5 lower:2 newest:6 widest:3
  private def fixture = Seq(
    ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).trim
  ).toDF("text")

  test("train reproduces the paper fixture's merge sequence with deterministic ties") {
    val m = Bpe.train(fixture, "text", numMerges = 6)
    // (e,s)=9 and (es,t)=9 and (est,</w>)=9 dominate; then (l,o)=7 beats
    // (o,w)=7 lexicographically; then (lo,w)=7; then (e,w)=6 beats (n,e)
    assert(m == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L)))
  }

  test("distributed loop path produces the identical merge table") {
    val local = Bpe.train(fixture, "text", numMerges = 6)
    val dist = Bpe.train(fixture, "text", numMerges = 6, localVocabThreshold = 0L)
    assert(local == dist)
  }

  test("distributed batching is exactly sequential: randomized corpus, all knobs") {
    // small alphabet + random lengths stresses ties, self-pairs (a,a),
    // and merged-symbol string collisions ((aa,a) vs (a,aa) both -> "aaa")
    val rng = new scala.util.Random(7)
    val words = (0 until 300).map { _ =>
      Array.fill(1 + rng.nextInt(8))(('a' + rng.nextInt(3)).toChar).mkString
    }
    val corpus = Seq(words.mkString(" ")).toDF("text")
    val want = Bpe.train(corpus, "text", numMerges = 40) // local oracle
    assert(want.length == 40, "regime check: enough pairs for 40 merges")
    val freqs = Bpe.wordFreqs(corpus, "text")
    // default batch, forced batch-of-1, tiny checkpoint interval: all must
    // reproduce the sequential merge sequence with identical freqs
    assert(Bpe.trainDistributed(freqs, 40) == want, "default knobs")
    assert(Bpe.trainDistributed(freqs, 40, batchCap = 1) == want, "batchCap=1")
    assert(Bpe.trainDistributed(freqs, 40, checkpointEvery = 2) == want, "ckpt=2")
    // the over-cap per-round fallback is sequential too
    assert(Bpe.trainDistributed(freqs, 12, maxDriverPairs = 1L) == want.take(12),
      "per-round fallback")
  }

  test("distributed batching parity on single-letter runs (worst-case overlaps)") {
    val corpus = Seq("aaaa aaa aa a aaaaaaa aaaaa aaaa aaa aaaaaa").toDF("text")
    val want = Bpe.train(corpus, "text", numMerges = 8)
    val freqs = Bpe.wordFreqs(corpus, "text")
    assert(Bpe.trainDistributed(freqs, 8) == want)
  }

  test("merge application is left-to-right non-overlapping (aaa + a,a -> aa,a)") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(Bpe.applyMerge(Seq("x"), "a", "a") == Seq("x"))
  }

  test("encode: subwords concatenate back to the words, token count recorded") {
    val merges = Bpe.train(fixture, "text", numMerges = 6)
    val out = Bpe.encode(Seq((1L, "newest lowest low")).toDF("id", "text"), "text", merges)
      .select("bpe_tokens", "n_bpe_tokens").head()
    val toks = out.getSeq[String](0)
    // 'newest' -> n e w? after merge 6 (e,w): n ew est</w>; 'low' -> low</w>
    assert(toks.mkString("").replace(Bpe.EndOfWord, "") == "newestlowestlow")
    assert(out.getInt(1) == toks.length)
    assert(toks.containsSlice(Seq("low", Bpe.EndOfWord)) || toks.contains("low" + Bpe.EndOfWord))
  }

  test("train stops early when no pairs remain") {
    val single = Seq(("a b c")).toDF("text") // single-char words: one pair each (char, </w>)
    val m = Bpe.train(single, "text", numMerges = 10)
    // 3 first-round candidates (a,</w>),(b,</w>),(c,</w>) each freq 1, then
    // merged single-symbol words have no pairs: at most 3 merges emitted
    assert(m.length == 3 && m.map(x => (x._2, x._3)).toSet ==
      Set(("a", "</w>"), ("b", "</w>"), ("c", "</w>")))
  }
}
