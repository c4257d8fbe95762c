package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering: values are passed pre-rendered, so callers
  * choose between [[str]], [[num]] and raw literals. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** Full precision, locale-independent; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated percentile (the definition of numpy's default
    * and of Spark's exact `percentile`). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Files2 {
  /** Regular files under `dir` (empty when it does not exist). */
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }
  /** Data files only: Spark's `_SUCCESS` markers and `.crc` checksums
    * are bookkeeping, not output. */
  def dataFiles(dir: Path): Seq[Path] = files(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }
  def bytes(ps: Seq[Path]): Long = ps.map(Files.size).sum

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val w = Files.walk(dir)
    try w.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally w.close()
  }
}

/** The run environment: machine share used by other processes over the
  * measured section, from `/proc/stat` jiffy deltas (machine busy jiffies
  * minus this process's own, over all jiffies including idle). The
  * process's own jiffies include those of the child processes it has
  * waited for: Hadoop's local file system forks a shell command for some
  * file operations (stream checkpoints), and without them the stream
  * workload read as a quarter of the machine busy elsewhere. */
object RunEnv {
  final case class Snap(total: Long, busy: Long, self: Long)

  def snap(): Option[Snap] =
    try {
      val cpu = Files.readString(Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val total = cpu.sum
      val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
      // After the comm field's closing paren: index 11/12 = utime/stime,
      // 13/14 = cutime/cstime.
      val self = Files.readString(Paths.get("/proc/self/stat"))
        .split("\\)\\s+").last.split("\\s+")
      Some(Snap(total, total - idle, (11 to 14).map(self(_).toLong).sum))
    } catch { case _: Exception => None }

  /** Other processes' share of the machine between two snapshots, or -1
    * when `/proc` is unavailable. */
  def otherShare(a: Option[Snap], b: Option[Snap]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      math.max(0.0, ((y.busy - x.busy) - (y.self - x.self)).toDouble / (y.total - x.total))
    case _ => -1.0
  }

  /** Heap in use after full collections, in MB: what the program holds
    * live, whatever the collector's sizing left resident. Spark's context
    * cleaner frees broadcast and shuffle data only after a collection has
    * found them unreachable, so collect until the heap stops shrinking. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < last * 0.99 && rounds < 6) {
      Thread.sleep(200)
      last = used
      used = collect()
      rounds += 1
    }
    used / 1048576.0
  }

  /** Peak resident set size of this process in MB (`VmHWM`). */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }
}
