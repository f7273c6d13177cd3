package graft
import graft.ops.Bpe
class BpeParityBigSpec extends SparkSuite {
  test("sf0.01 docs corpus: distributed 256-merge sequence == local oracle") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val local = Bpe.train(docs, "text", numMerges = 256)
    val dist = Bpe.train(docs, "text", numMerges = 256, localVocabThreshold = 0L)
    println(s"local=${local.length} dist=${dist.length}")
    val firstDiff = local.zip(dist).indexWhere { case (a, b) => a != b }
    println(s"firstDiff=$firstDiff")
    if (firstDiff >= 0) println(s"local=${local(firstDiff)} dist=${dist(firstDiff)}")
    assert(dist == local)
  }
}
