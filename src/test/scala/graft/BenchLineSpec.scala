package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.line` keeps every suite query visible within [[Bench.LineBudget]]
  * even when every field prints at its widest. */
class BenchLineSpec extends AnyFunSuite {

  private val names = SparkEntry.benchQueries.keys.toSeq.sorted
  /** Wider than any per-query, load or wall reading a run produces. */
  private val wide = 9999.999
  private val longest = names.sortBy(n => (-n.length, n))

  /** Every noise field at its widest: all three flag reasons, a band
    * entry and a re-time for every query, the five longest names as
    * the reported violations, the three longest as slow re-runs. */
  private val noise = Bench.noiseBlock(Bench.Noise(wide, wide, wide, wide,
    wide, wide, wide, wide, Seq("pre_load", "ext_load", "band"),
    band = names.map(_ -> 1.0).toMap,
    bandViolations = longest.map(_ -> wide),
    bandRerun = names.map(_ -> (wide, wide)).toMap,
    rerun = longest.take(3).map(n => (n, wide, wide))))

  /** A 1 ms best pass beside two slow ones maximizes both the spread
    * and the qps digits. */
  private val throughput = Bench.throughputBlock(clients = 64,
    passes = Seq((0.001, 0), (wide, names.size), (wide, names.size)),
    n = names.size, loadAfter = wide)

  private def lineAt(v: Double): String = Bench.line(names.map(_ -> v),
    total = wide * names.size, throughput, noise,
    sidecar = "/" + "s" * 63, cpus = "1024", sf = "/" + "d" * 127)

  test("the whole suite at its widest fits the stdout budget at 3 decimals") {
    Seq(-1.0, wide).foreach { v =>
      val l = lineAt(v)
      assert(l.length <= Bench.LineBudget,
        s"line for ${names.size} queries at $v is ${l.length} chars")
      names.foreach(n => assert(l.contains("\"" + n + "\":")))
    }
    assert(lineAt(wide).contains("\"" + names.head + "\":9999.999"))
    assert(lineAt(-1.0).contains("\"" + names.head + "\":-1,"))
  }

  test("the widest blocks are the ones the line carries") {
    assert(noise.contains("\"flag_reason\":\"pre_load+ext_load+band\""))
    assert(noise.contains("\"violations\":{\"" + longest.head + "\":"))
    assert(noise.contains("\"rerun\":{\"" + longest.head + "\":"))
    assert(throughput.contains("\"spread_pct\":999999800.0"))
  }

  test("absent band and no throughput pass print the short forms") {
    val quiet = Bench.noiseBlock(Bench.Noise(0.1, 0, 0.1, 0.2, 3.9, 40.0,
      10.0, 0.0, Nil, Map.empty, Nil, Map.empty, Nil))
    assert(quiet.contains("\"band\":\"absent\"") && quiet.contains("\"flagged\":false"))
    assert(Bench.throughputBlock(8, Nil, 153, -1.0) == "")
  }
}
