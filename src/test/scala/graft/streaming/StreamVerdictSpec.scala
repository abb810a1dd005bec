package graft.streaming

import graft.TestSpark
import graft.operators.Provenance.Evidence
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The stream → ladder verdict map in the fast gate (DocStreamSpec,
  * which runs the folding streams end to end, is slow): each label a
  * folding stream writes to its sink lands, in the quarantine, on its
  * [[Evidence]] ladder verdict. */
class StreamVerdictSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("one stream verdict map: every stream label lands on its ladder verdict") {
    import spark.implicits._
    val expected = Seq(
      "dup_corpus" -> Evidence.Exact.verdict,
      "dup_stream" -> Evidence.Exact.verdict,
      "dup_corpus_fuzzy" -> Evidence.Fuzzy.verdict,
      "dup_corpus_semantic" -> Evidence.Semantic.verdict,
      "dup_corpus_image" -> Evidence.Image.verdict,
      "dup_corpus_audio" -> Evidence.Audio.verdict,
      "contaminated" -> Evidence.Contaminated.verdict,
      "low_quality" -> "low_quality")
    val got = expected.map(_._1).toDF("verdict")
      .select(col("verdict"),
        DocStream.ladderVerdict(col("verdict")).as("ladder"))
      .as[(String, String)].collect().toMap
    assert(got === expected.toMap)
    assert(Evidence.Ladder.forall(e => expected.exists(_._2 == e.verdict)),
      "every ladder rung has a stream label")
  }
}
