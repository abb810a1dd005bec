package graft.io

import java.nio.file.Files

import graft.TestSpark
import graft.operators.Provenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-tick ingest state + compaction (r8 verdict Missing #5): the
  * q73 corpus hash state accumulates one small parquet write per tick
  * forever; [[ArtifactStore.IngestStateStore]] bounds the file count
  * with generation-based compaction wired to [[Compact]]'s sizing,
  * without changing a single admission verdict. */
class IngestStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, sf, "documents")

  /** Set-checksum of the state: (row count, bit_xor of ch). */
  private def checksum(state: DataFrame): (Long, Long) = {
    val r = state.agg(count(lit(1)), expr("bit_xor(ch)")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("six ticks accumulate; compaction folds them; verdicts and content identical across it") {
    val root = Files.createTempDirectory("graft_ingest_state").toString
    val state = ArtifactStore.ingestState(spark, root, "hashes")
    assert(state.current().isEmpty)

    // tick 1 = the initial corpus; ticks 2..6 = ingest batches. Each
    // tick appends only hashes the state has not seen (anti-join) —
    // admissionReport's left join requires `ch` distinct.
    (0 until 6).foreach { k =>
      val tickHashes = Provenance.corpusHashState(
        docs.filter(pmod(col("doc_id"), lit(8L)) === k))
      val fresh = state.current() match {
        case Some(s) => tickHashes.join(s, Seq("ch"), "left_anti")
        case None => tickHashes
      }
      state.appendTickAt(k + 1L, fresh)
    }
    assert(state.maxTick === 6L)
    val filesBefore = state.dataFileCount
    assert(filesBefore >= 6, s"expected >=1 file per tick, got $filesBefore")

    val before = checksum(state.current().get)
    // a batch with known verdicts: slice 3 docs are dups (ingested at
    // tick 4), slice 7 docs were never ingested
    val probe = docs.filter(pmod(col("doc_id"), lit(8L)).isin(3L, 7L))
    val reportBefore = Provenance.admissionReport(probe, state.current().get)
      .collect().toSeq

    val parts = state.compact()
    assert(parts === 1, "tiny state must compact to one file")
    assert(state.dataFileCount < filesBefore)
    assert(state.maxTick === 6L, "compaction must preserve the tick clock")
    assert(checksum(state.current().get) === before,
      "compaction changed the state content")
    val reportAfter = Provenance.admissionReport(probe, state.current().get)
      .collect().toSeq
    assert(reportAfter === reportBefore,
      "admission verdicts must not change across compaction")

    // the clock keeps running: a post-compaction tick lands at 7 and is
    // read alongside the generation
    val extra = Provenance.corpusHashState(
        docs.filter(pmod(col("doc_id"), lit(8L)) === 7))
      .join(state.current().get, Seq("ch"), "left_anti")
    state.appendTickAt(7L, extra)
    assert(state.maxTick === 7L)
    val (n7, _) = checksum(state.current().get)
    assert(n7 > before._1, "tick 7 content must be visible")
  }

  test("a half-written generation (no _SUCCESS) is invisible and compaction recovers") {
    val root = Files.createTempDirectory("graft_ingest_crash").toString
    val state = ArtifactStore.ingestState(spark, root, "hashes")
    (0 until 3).foreach { k =>
      state.appendTickAt(k + 1L, Provenance.corpusHashState(
        docs.filter(pmod(col("doc_id"), lit(8L)) === k)))
    }
    val before = checksum(state.current().get)

    // simulate a compaction killed mid-write: gen dir exists, no _SUCCESS
    val halfGen = new java.io.File(s"$root/ingest_state/hashes/gen=3")
    assert(halfGen.mkdirs())
    Files.write(halfGen.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(checksum(state.current().get) === before,
      "an uncommitted generation must be invisible to reads")

    // the retried compaction overwrites the torn dir and commits
    state.compact()
    assert(checksum(state.current().get) === before)
    assert(new java.io.File(s"$root/ingest_state/hashes/gen=3/_SUCCESS").exists())
  }

  test("currentUpTo refuses PARTIAL snapshots, not just empty ones (r10 advice): a crashed compaction's surviving subset must throw") {
    val root = Files.createTempDirectory("graft_upto_guard").toString
    val state = ArtifactStore.ingestState(spark, root, "hashes")
    (0 until 5).foreach { k =>
      state.appendTickAt(k + 1L, Provenance.corpusHashState(
        docs.filter(pmod(col("doc_id"), lit(8L)) === k)))
    }
    // fold ticks 1..2 into gen=2 by compacting early: fabricate via a
    // second store view — compact() always folds to maxTick, so build
    // the layout a crashed compaction leaves directly: gen=2 committed,
    // ticks 1..2 gone, ticks 3..5 present, then the interrupted delete
    // phase of a LATER compaction removes tick=3 before dying
    val base = s"$root/ingest_state/hashes"
    spark.read.parquet(s"$base/tick=1", s"$base/tick=2")
      .write.parquet(s"$base/gen=2")
    assert(new java.io.File(s"$base/gen=2/_SUCCESS").exists())
    val hfs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1, 2, 3).foreach { t =>
      hfs.delete(new org.apache.hadoop.fs.Path(s"$base/tick=$t"), true)
    }

    // full coverage still resolves: gen=2 + ticks 4,5 ... is MISSING
    // tick 3 — currentUpTo(5) and (4) must throw, never silently serve
    val e = intercept[IllegalArgumentException](state.currentUpTo(5))
    assert(e.getMessage.contains("does not cover"),
      s"expected the coverage guard, got: ${e.getMessage}")
    intercept[IllegalArgumentException](state.currentUpTo(4))
    // snapshots the surviving layout DOES cover still serve
    assert(state.currentUpTo(2).isDefined,
      "gen=2 alone fully covers ticks 1..2")
    assert(checksum(state.currentUpTo(2).get)._1 > 0)
  }
}
