package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer for the result record (numbers keep every digit). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** In-memory span recorder. Spans are recorded around calls into each
  * layer's entry points from the benchmark's side and written out as JSON
  * lines when the run ends; a disabled tracer records nothing. */
final class Tracer(val enabled: Boolean) {
  private final case class Rec(name: String, parent: String, startNs: Long, durNs: Long)
  private val recs = new ArrayBuffer[Rec](256)
  private val origin = System.nanoTime()
  private var current: String = ""

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = current
      current = name
      val t0 = System.nanoTime()
      try f
      finally {
        recs.synchronized(recs += Rec(name, parent, t0 - origin, System.nanoTime() - t0))
        current = parent
      }
    }

  def write(path: Path): Unit = if (enabled) {
    val lines = recs.synchronized(recs.toList).map { r =>
      Json.render(Map("name" -> r.name, "parent" -> r.parent,
        "start_us" -> r.startNs / 1000, "dur_us" -> r.durNs / 1000))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Machine weather over a measured window, from /proc: hypervisor steal,
  * 1-min load average and this process's share of all machine CPU time.
  * Recorded beside the metrics so a noisy run can be identified. */
final class Weather {
  private def cpuLine(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
        .getOrElse(Array.emptyLongArray)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Array.emptyLongArray }

  private def selfJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      val f = try src.mkString finally src.close()
      // fields after the parenthesised command name; utime/stime are 14/15
      val rest = f.substring(f.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    } catch { case scala.util.control.NonFatal(_) => 0L }

  private def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  private var t0 = 0L
  private var cpu0 = Array.emptyLongArray
  private var self0 = 0L

  def start(): Unit = { t0 = System.nanoTime(); cpu0 = cpuLine(); self0 = selfJiffies() }

  def stop(): Map[String, Double] = {
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu1 = cpuLine()
    val self1 = selfJiffies()
    val ok = cpu0.length > 7 && cpu1.length > 7
    val steal = if (ok) (cpu1(7) - cpu0(7)) / secs else -1.0
    val total = if (ok) cpu1.sum - cpu0.sum else 0L
    Map(
      "window_s" -> secs,
      "steal_jiffies_per_s" -> steal,
      "loadavg_1m" -> loadavg1(),
      "self_cpu_share" -> (if (total > 0) (self1 - self0).toDouble / total else -1.0))
  }
}

object Proc {
  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
