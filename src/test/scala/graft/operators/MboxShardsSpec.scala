package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** `Export.mboxShards`: ceiling division by the per-shard row target,
  * clamped to [1, MaxShards]. */
class MboxShardsSpec extends AnyFunSuite {
  import Export.{DefaultRowsPerShard, MaxShards, mboxShards}

  test("an empty export is one shard") {
    assert(mboxShards(0L) == 1)
  }

  test("exactly one shard's worth of rows is one shard, one more is two") {
    assert(DefaultRowsPerShard == 50000L)
    assert(mboxShards(1L) == 1)
    assert(mboxShards(50000L) == 1)
    assert(mboxShards(50001L) == 2)
    assert(mboxShards(100000L) == 2)
  }

  test("the count is capped at MaxShards") {
    val full = MaxShards.toLong * DefaultRowsPerShard
    assert(mboxShards(full) == MaxShards)
    assert(mboxShards(full + 1L) == MaxShards)
    assert(mboxShards(Long.MaxValue) == MaxShards)
  }
}
