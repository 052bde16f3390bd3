package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Minimal JSON writer for the harness's result objects: maps, sequences,
  * strings, booleans and numbers. Doubles print with all their digits.
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Order statistics over recorded samples. */
object Stats {
  /** Nearest-rank percentile, `q` in [0, 1]; NaN for no samples. */
  def pct(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = pct(xs.toArray, 0.5)
}

/** A growable, thread-safe sample buffer. */
final class Samples {
  private var buf = new Array[Double](1024)
  private var n = 0
  def add(v: Double): Unit = synchronized {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = v; n += 1
  }
  def size: Int = synchronized(n)
  def toArray: Array[Double] = synchronized(java.util.Arrays.copyOf(buf, n))
}

/** Host evidence recorded with every run, so a figure taken on a loaded
  * host can be recognised.
  */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def loadAvg1: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this process (VmHWM) in MiB; NaN off Linux. */
  def peakRssMb: Double = {
    val p = Path.of("/proc/self/status")
    if (!Files.exists(p)) return Double.NaN
    new String(Files.readAllBytes(p), UTF_8).linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }

  def dirBytesAndFiles(dir: Path, suffix: String): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    var bytes = 0L
    var files = 0L
    val it = Files.walk(dir)
    try it.forEach { p =>
      if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)) {
        bytes += Files.size(p); files += 1
      }
    } finally it.close()
    (bytes, files)
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val it = Files.walk(dir)
    try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally it.close()
  }
}

/** Wall-clock timing helper. */
object Clock {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The traced run's span buffer. Spans stay in memory while the run
  * measures and are written out as JSON lines at exit; each records its
  * name, start and end (monotonic nanoseconds, comparable across
  * processes on one host), parent and request id.
  */
final class Trace(val enabled: Boolean) {
  private final case class Span(name: String, start: Long, end: Long, parent: String, req: String)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def add(name: String, start: Long, end: Long, parent: String = "", req: String = ""): Unit =
    if (enabled) { spans.add(Span(name, start, end, parent, req)); () }

  def span[T](name: String, parent: String = "", req: String = "")(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    try body finally add(name, t0, System.nanoTime(), parent, req)
  }

  def count: Int = spans.size

  def writeTo(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file, UTF_8)
    try spans.forEach { s =>
      w.write(Json.write(Map("name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "req" -> s.req)))
      w.write('\n')
    } finally w.close()
  }

  /** Cost of recording one span, in nanoseconds: a timed loop of span
    * records against the same loop without them. Multiplied by the span
    * count it gives the traced-minus-untraced overhead of the run.
    */
  def spanCostNs(): Double = {
    val probe = new Trace(true)
    val n = 200000
    var sink = 0L
    def loop(traced: Boolean): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        if (traced) probe.add("probe", i, i + 1, "", "")
        sink += i
        i += 1
      }
      System.nanoTime() - t0
    }
    loop(true); loop(false) // warm both paths
    val costs = (1 to 5).map(_ => (loop(true) - loop(false)).toDouble / n)
    if (sink == 42) println("") // keep the untraced loop's work live
    Stats.median(costs)
  }
}

/** `--flag value` argument parsing shared by the harness mains. */
object Args {
  def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--") && i + 1 < args.length, s"bad argument list at ${args(i)}")
      m(args(i).drop(2)) = args(i + 1)
      i += 2
    }
    m.toMap
  }
}
