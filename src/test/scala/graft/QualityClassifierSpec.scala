package graft

import graft.ops.QualityClassifier
import org.apache.spark.sql.functions._

/** The corpus-trained logistic-regression quality classifier: first-epoch
  * hand-computation, separation on a synthetic two-class corpus, and
  * build determinism. */
class QualityClassifierSpec extends SparkSuite {
  import spark.implicits._

  test("first epoch matches the hand-computed gradient step") {
    // two docs, one token each, distinct buckets; y = (1, 0); lr 0.5, n 2.
    // epoch 1: z = 0 -> p = 0.5 for both; grad_b(doc1 token) = (0.5-1)*1,
    // grad_b(doc2 token) = (0.5-0)*1 -> w = -lr*grad/n = (+0.125, -0.125)
    val docs = Seq((1L, "alpha", true), (2L, "beta", false))
      .toDF("doc_id", "text", "good")
    val w = QualityClassifier.trainLogReg(docs, "doc_id", "text", col("good"),
      buckets = 64, epochs = 1, lr = 0.5)
    assert(w.count(_ != 0.0) == 2, "exactly the two touched buckets move")
    assert(w.count(_ == 0.125) == 1 && w.count(_ == -0.125) == 1,
      s"hand-computed step: ${w.filter(_ != 0.0).mkString(",")}")
  }

  test("separates a two-vocabulary corpus and scores held-out docs correctly") {
    // class-1 docs draw from one vocabulary, class-0 from another; a linear
    // model over hashed unigrams must separate them after a few epochs
    val docs = (0 until 200).map { i =>
      val good = i % 2 == 0
      val vocab = if (good) Seq("fine", "prose", "clear", "text") else Seq("spam", "junk", "noise", "garbage")
      (i.toLong, (0 until 6).map(j => vocab((i + j) % 4)).mkString(" "), good)
    }.toDF("doc_id", "text", "good")
    val w = QualityClassifier.trainLogReg(docs, "doc_id", "text", col("good"),
      buckets = 64, epochs = 8, lr = 1.0)
    val scored = QualityClassifier.scoreLogReg(docs, "doc_id", "text", col("good"), w)
      .select(col("label"), col("keep")).as[(Double, Boolean)].collect()
    val acc = scored.count { case (y, k) => (y == 1.0) == k }.toDouble / scored.length
    assert(acc >= 0.99, s"separable corpus must separate; accuracy $acc")
  }

  test("training is deterministic and weights stay on the 1e-6 grid") {
    val docs = (0 until 50).map(i => (i.toLong, s"tok${i % 7} w${i % 5}", i % 3 == 0))
      .toDF("doc_id", "text", "good")
    val w1 = QualityClassifier.trainLogReg(docs, "doc_id", "text", col("good"), epochs = 3)
    val w2 = QualityClassifier.trainLogReg(docs, "doc_id", "text", col("good"), epochs = 3)
    assert(w1.sameElements(w2))
    assert(w1.forall(v => v == math.floor(v * 1e6 + 0.5) / 1e6), "weights on the 1e-6 grid")
  }

  test("featureless documents score the exact sigmoid of zero and keep=true") {
    val docs = Seq((1L, "words here", true), (2L, "   ", false)).toDF("doc_id", "text", "good")
    val w = QualityClassifier.trainLogReg(docs, "doc_id", "text", col("good"), epochs = 2)
    val r = QualityClassifier.scoreLogReg(docs, "doc_id", "text", col("good"), w)
      .filter(col("doc_id") === 2).select(col("score"), col("keep"))
      .as[(Double, Boolean)].head()
    assert(r == ((0.5, true)))
  }
}
