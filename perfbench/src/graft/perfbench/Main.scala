package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The engine process of one benchmark run:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir> [workload flags]
  * }}}
  * It runs the workload against the engine's public entry points and
  * writes `engine.json` (and, traced, `engine-spans.jsonl`) into `--out`.
  */
object Main {
  /** Timed repetitions of a closed-loop workload: one per 5 s of the run's
    * seconds, at least one. A count fixed by the arguments, not by how
    * fast the run goes, keeps every run's medians over the same work.
    */
  def repeats(seconds: Double): Int = math.max(1, math.round(seconds / 5).toInt)

  /** Set-ups timed per run; `setup_s` is their median. */
  val SetupRuns = 5

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = new Trace(a("trace") == "1")
    val out = Path.of(a("out"))
    Files.createDirectories(out)
    val load0 = Host.loadAvg1
    val spark = graft.Graft.session("perfbench")
    val body = workload match {
      case "ingest_wire" => WireEngine.run(spark, trace)
      case "log_bulk" =>
        Bulk.run(spark, seed, seconds, a("messages").toInt, a("root"), trace)
      case "analytics" =>
        // <query>:<operator pack>, comma-separated
        val packs = a("queries").split(",").toSeq.map { q =>
          val i = q.lastIndexOf(':'); q.take(i) -> q.drop(i + 1)
        }.toMap
        Analytics.run(spark, a("data"), a("warm"), packs, seconds, trace, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced =
      if (trace.enabled) {
        trace.writeTo(out.resolve("engine-spans.jsonl"))
        Map("trace" -> Map("spans" -> trace.count, "span_cost_ns" -> trace.spanCostNs()))
      } else Map.empty
    val result = body ++ traced ++ Map(
      "peak_rss_mb" -> Host.peakRssMb,
      "host" -> Map("nproc" -> Host.nproc, "load1_start" -> load0, "load1_end" -> Host.loadAvg1))
    Files.write(out.resolve("engine.json"), Json.write(result).getBytes(UTF_8))
    spark.stop()
  }
}
