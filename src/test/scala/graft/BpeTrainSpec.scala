package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** q124 BPE training on vocabularies that run out of adjacent symbol pairs
  * before its K = 5 rounds: training stops early and emits the merges made
  * so far instead of failing on an empty argmax. */
class BpeTrainSpec extends AnyFunSuite with SparkFixture {

  /** q124's merge rows on a corpus of the given document texts. */
  private def train(tag: String, texts: String*): Seq[(Int, String, String, Long)] = {
    val dir = Paths.get("target", "bpe_train", tag).toAbsolutePath
    Files.createDirectories(dir)
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    SparkEntry.queries("q124_bpe_train")(spark, dir.toString).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  test("one-symbol documents give an empty merge table, not an exception") {
    assert(train("one_symbol", "a b c", "d e", "f").isEmpty)
  }

  test("a vocabulary exhausted after one merge emits just that merge") {
    // "ab" merges to one symbol in round 1; round 2 has no pair left.
    assert(train("exhausted", "ab ab x", "ab") == Seq((1, "a", "b", 3L)))
  }
}
