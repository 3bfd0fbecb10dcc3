package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Minimal JSON writer: the benchmark emits flat maps of numbers, strings,
  * nested maps and lists, and must not depend on anything outside the
  * Spark distribution's jars.
  */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Latency samples of one operation class, in milliseconds. */
final class Samples {
  private val buf = ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = buf += ms
  def size: Int = buf.size
  def sorted: IndexedSeq[Double] = buf.sorted.toIndexedSeq

  def median: Double = Samples.quantile(sorted, 0.5)

  /** The highest percentile with at least ten samples above it: the sample
    * at sorted rank n-11 (0-based). Under 21 samples that percentile is at
    * or below the median, so the maximum is reported instead.
    */
  def tail: (Double, Double) = {
    val s = sorted
    if (s.isEmpty) (Double.NaN, 0.0)
    else if (s.size < 21) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

object Samples {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(s: IndexedSeq[Double], q: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)
}

/** Closed-loop operation recorder: one client thread, each call waits for
  * the previous one. Every call is timed from outside the library, inside
  * its trace span; a failing call is caught, named in the artifact, and its
  * sample is kept as +Inf so it misses every latency limit.
  */
final class Ops(tracer: Tracer) {
  val reads = new Samples
  val writes = new Samples
  val readsAfterMaintenance = new Samples
  var attempted = 0L
  var failedOps = 0L
  var failedChecks = 0L
  val failures = ArrayBuffer.empty[Map[String, String]]

  def call[T](name: String, into: Samples*)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      into.foreach(_.add(ms))
      Some(r)
    } catch {
      case NonFatal(e) =>
        into.foreach(_.add(Double.PositiveInfinity))
        failedOps += 1
        failures += Map("call" -> name, "cause" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
    }
  }

  /** An output check, run outside any timed window. */
  def check(name: String)(ok: => Boolean, detail: => String = ""): Unit = {
    val passed = try ok catch {
      case NonFatal(e) =>
        failures += Map("check" -> name, "cause" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        failedChecks += 1
        return
    }
    if (!passed) {
      failedChecks += 1
      failures += Map("check" -> name, "cause" -> detail.take(500))
    }
  }

  def errorRate: Double = (failedOps + failedChecks).toDouble / math.max(1L, attempted)
}

/** Host provenance recorded with every run. */
object Host {
  def loadAvg1m: Double = graft.Bench.loadAvg()._1

  def peakRssGb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / (1024.0 * 1024.0)
    } catch { case NonFatal(_) => Double.NaN }
}

/** Directory helpers over java.nio (bench-side bookkeeping, not timed). */
object Files {
  import java.nio.file.{Files => JF, Path, Paths}

  def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (JF.exists(root)) {
      val s = JF.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => JF.delete(x))
      finally s.close()
    }
  }

  def write(p: String, content: String): Unit = {
    val path = Paths.get(p)
    JF.createDirectories(path.getParent)
    JF.writeString(path, content)
  }

  private def walk(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!JF.exists(root)) Seq.empty
    else {
      val s = JF.walk(root)
      try { val b = ArrayBuffer.empty[Path]; s.forEach(x => b += x); b.toSeq } finally s.close()
    }
  }

  /** Total bytes of regular files under `p`. */
  def bytesUnder(p: String): Long =
    walk(p).filter(JF.isRegularFile(_)).map(JF.size).sum

  /** Parquet data files under `p` (relative names). */
  def parquetFiles(p: String): Set[String] =
    walk(p).filter(x => JF.isRegularFile(x) && x.getFileName.toString.endsWith(".parquet"))
      .map(x => Paths.get(p).relativize(x).toString).toSet
}
