package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Compaction sizing: the output file count a compaction
  * ([[ArtifactStore.IngestStateStore.compact]]) writes for its input
  * bytes. */
class CompactSpec extends AnyFunSuite {
  test("partitionsFor: floors at 1, ceils fractional file counts") {
    assert(Compact.partitionsFor(0, 128) === 1)
    assert(Compact.partitionsFor(1, 128) === 1)
    assert(Compact.partitionsFor(129, 128) === 2)
    assert(Compact.partitionsFor(256, 128) === 2)
    assert(Compact.partitionsFor(257, 128) === 3)
  }
}
