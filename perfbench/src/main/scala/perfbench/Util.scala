package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering: the harness prints one object per line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Directory sizes and removal for the benchmark's scratch space. */
object Disk {
  /** (file count, total bytes) of the regular files under `dir`. */
  def usage(dir: String): (Long, Long) = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(p => Files.isRegularFile(p))
          .filterNot(p => p.getFileName.toString.endsWith(".crc")).toSeq
        (files.size.toLong, files.map(p => Files.size(p)).sum)
      } finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = new File(dir).toPath
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach((p: Path) =>
        Files.deleteIfExists(p))
      finally s.close()
    }
  }
}

/** Host and JVM readings for the run record. */
object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim
    catch { case _: Exception => "" }

  /** Heap in use after a full collection: the live set the program
    * retains (cached data, persisted frames, engine state). */
  def liveHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)
  }

  /** CPU time the hypervisor gave to others while this host wanted it
    * (the steal column of /proc/stat, all CPUs, assuming 100 ticks/s). */
  def stealSeconds(): Double =
    try {
      val f = new String(Files.readAllBytes(new File("/proc/stat").toPath))
        .linesIterator.next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
