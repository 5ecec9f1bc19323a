package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The shard count `Export` picks when none is given:
  * `Sizing.mboxShards` capped at `Export.MaxShards` — ceiling division
  * by 50k messages per shard, clamped to [1, MaxShards]. */
class MboxShardsSpec extends AnyFunSuite {
  import Export.MaxShards

  private val RowsPerShard = 50000L

  private def mboxShards(rows: Long): Int =
    graft.Sizing.mboxShards(rows, MaxShards)

  test("an empty export is one shard") {
    assert(mboxShards(0L) == 1)
  }

  test("exactly one shard's worth of rows is one shard, one more is two") {
    assert(mboxShards(1L) == 1)
    assert(mboxShards(RowsPerShard) == 1)
    assert(mboxShards(RowsPerShard + 1L) == 2)
    assert(mboxShards(2L * RowsPerShard) == 2)
  }

  test("the count is capped at MaxShards") {
    val full = MaxShards.toLong * RowsPerShard
    assert(mboxShards(full) == MaxShards)
    assert(mboxShards(full + 1L) == MaxShards)
    assert(mboxShards(Long.MaxValue) == MaxShards)
  }
}
