package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingTopic

/** `log_bulk`: one closed-loop caller drives the Spark write and read
  * planes over seeded messages staged as parquet. Each cycle, on fresh
  * topics of one store:
  *  1. `TopicStore.produce` of the staged messages;
  *  2. `StreamingTopic.ingest` of the same files (micro-batches through
  *     `produceOnce`);
  *  3. a `format("graft")` scan with a per-key aggregate, collected;
  *  4. an unbounded group `poll` (which commits), materialized.
  * Cycles repeat ([[Main.repeats]]); rates are medians.
  * Set-up (timed [[Main.SetupRuns]] times, after one untimed run of the four calls on
  * a small stage) is a fresh store answering its first produce of that
  * stage.
  * Per-key counts after produce and after stream ingest, and the
  * group's lag after the drain, are checked outside the timed windows.
  */
object Bulk {
  private val StageFiles = 8
  private val WarmMessages = 5000
  private val OriginMicros = 1700000000000000L

  def run(spark: SparkSession, seed: Long, seconds: Double, n: Int, rootBase: String,
      trace: Trace): Map[String, Any] = {
    import spark.implicits._
    val base = Path.of(rootBase)
    Host.deleteTree(base)
    Files.createDirectories(base)

    // inputs: keyed batches of ten 1 KiB messages, 100 µs apart
    val gen = new MessageGen(seed)
    val expected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rows = new mutable.ArrayBuffer[(String, Array[Byte], java.sql.Timestamp)](n)
    var seq = 0L
    while (seq < n) {
      val key = gen.nextKey()
      var i = 0
      while (i < 10 && seq < n) {
        val due = seq * 10L
        val ts = new java.sql.Timestamp((OriginMicros + due) / 1000L)
        ts.setNanos(((OriginMicros + due) % 1000000L * 1000L).toInt)
        rows += ((key, gen.body(seq, key, due), ts))
        expected(key) += 1
        seq += 1; i += 1
      }
    }
    val stage = base.resolve("stage").toString
    val warmStage = base.resolve("stage_warm").toString
    val all = rows.toSeq.toDF("key", "value", "timestamp")
    all.repartition(StageFiles).write.mode("overwrite").parquet(stage)
    all.limit(WarmMessages).repartition(StageFiles / 4).write.mode("overwrite").parquet(warmStage)
    rows.clear()
    val staged = spark.read.parquet(stage)
    val ledger = new Ledger(spark)
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit = { layer.getOrElseUpdate(k, new mutable.ArrayBuffer) += v; () }

    final case class Cycle(written: Long, produceS: Double, streamS: Double, scanS: Double,
        pollCommitS: Double, pollScanS: Double, perKey: Array[org.apache.spark.sql.Row],
        streamTopic: String, group: String, topic: String)

    def perKey(root: String, topic: String): DataFrame =
      spark.read.format("graft").option("root", root).option("topic", topic).load()
        .groupBy("key").agg(count(lit(1)).as("n"), sum(length(col("value"))).as("bytes"))

    /** The four plane calls over one stage, on fresh topics. */
    def planes(store: TimedStore, root: String, dir: String, tag: String): Cycle = {
      val topic = s"bulk_$tag"
      val streamTopic = s"stream_$tag"
      val input = spark.read.parquet(dir)

      store.phase = s"bulk.produce:$topic"
      val l0 = ledger.snap()
      val (written, tp) = Clock.secs(trace.span("bulk.produce", req = topic)(store.produce(topic, input)))
      val l1 = ledger.snap()
      rec("engine.produce_s", store.produceSecs.getOrDefault(store.phase, 0.0))
      rec("engine.produce_jobs", (l1 - l0)("jobs").toDouble)
      rec("engine.produce_shuffle_mb", (l1 - l0)("shuffle_write_bytes") / 1048576.0)

      store.phase = s"streaming.ingest:$streamTopic"
      val src = spark.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", StageFiles / 4).parquet(dir)
      val (progress, ts) = Clock.secs(trace.span("streaming.ingest", req = streamTopic) {
        val q = new StreamingTopic(store).ingest(streamTopic, src, s"$root/_chk_$streamTopic")
        try { q.processAllAvailable(); q.recentProgress } finally q.stop()
      })
      val batches = progress.filter(_.numInputRows > 0)
      def dur(k: String): Double = Stats.median(batches.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toSeq)
      rec("streaming.batches", batches.length.toDouble)
      rec("streaming.trigger_ms_p50", dur("triggerExecution"))
      rec("streaming.add_batch_ms_p50", dur("addBatch"))
      rec("streaming.wal_commit_ms_p50", dur("walCommit"))

      store.phase = "scan"
      val s0 = ledger.snap()
      val (got, tsc) = Clock.secs(trace.span("sources.scan", req = topic)(perKey(root, topic).collect()))
      val s1 = ledger.snap()
      rec("sources.plan_s", (s1 - s0)("plan_ns") / 1e9)
      rec("sources.scan_s", (s1 - s0)("exec_ns") / 1e9)
      rec("sources.files_planned",
        Host.dirBytesAndFiles(Path.of(root, "data", s"topic=$topic"), ".parquet")._2.toDouble)

      store.phase = "poll"
      val group = s"g_$tag"
      store.registry.register(group, "c", Seq(topic), store.StartFrom.Earliest)
      val (polled, tc) = Clock.secs(trace.span("engine.poll", req = topic)(store.poll(group, topic, "c")))
      val (_, tm) = Clock.secs(trace.span("engine.poll_scan", req = topic)(
        polled.write.format("noop").mode("overwrite").save()))
      rec("engine.poll_commit_s", tc)
      rec("engine.poll_scan_s", tm)
      Cycle(written, tp, ts, tsc, tc, tm, got, streamTopic, group, topic)
    }

    // one untimed run of the four plane calls on the small stage warms
    // every code path the cycles take
    val warmRoot = base.resolve("warm").toString
    planes(new TimedStore(spark, warmRoot, trace), warmRoot, warmStage, "warm")
    Host.deleteTree(Path.of(warmRoot))
    layer.clear()
    // set-up, repeated: a fresh store answering its first produce
    var store: TimedStore = null
    var root: String = null
    val setups = (1 to Main.SetupRuns).map { i =>
      if (root != null) Host.deleteTree(Path.of(root))
      root = base.resolve(s"store$i").toString
      Clock.secs {
        store = new TimedStore(spark, root, trace)
        store.produce("setup", spark.read.parquet(warmStage))
      }._2
    }

    val produceRate, streamRate, scanRate, pollRate = new mutable.ArrayBuffer[Double]
    val phaseSecs = new mutable.ArrayBuffer[Double]
    var attempted = 0
    var failed = 0
    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }
    def matches(got: Array[org.apache.spark.sql.Row]): Boolean =
      got.length == expected.size && got.forall { r =>
        val k = r.getString(0); val c = r.getLong(1)
        expected.get(k).contains(c) && r.getLong(2) == c * MessageGen.Size
      }

    val cycles = Main.repeats(seconds)
    for (cycle <- 1 to cycles) {
      val c = planes(store, root, stage, cycle.toString)
      produceRate += n / c.produceS
      streamRate += n / c.streamS
      scanRate += n / c.scanS
      pollRate += n / (c.pollCommitS + c.pollScanS)
      phaseSecs ++= Seq(c.produceS, c.streamS, c.scanS, c.pollCommitS + c.pollScanS)
      // output checks, outside the timed windows
      check(c.written == n, s"${c.topic}: produce wrote ${c.written} of $n")
      check(matches(c.perKey), s"${c.topic}: per-key counts after produce differ from the input")
      check(matches(perKey(root, c.streamTopic).collect()),
        s"${c.streamTopic}: per-key counts after stream ingest differ from the input")
      check(store.lag(c.group, c.topic).values.forall(_ == 0L), s"${c.group}: lag left after the drain")
    }
    val cycleSecs = phaseSecs.sum

    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "cycles" -> cycles,
      "phase_secs" -> phaseSecs,
      "msgs_per_cycle_s" -> n.toDouble * cycles / cycleSecs,
      "end_to_end" -> Map(
        "setup_s" -> Stats.median(setups),
        "bulk_produce_msgs_per_s" -> Stats.median(produceRate.toSeq),
        "stream_ingest_msgs_per_s" -> Stats.median(streamRate.toSeq),
        "topic_scan_msgs_per_s" -> Stats.median(scanRate.toSeq),
        "bulk_poll_msgs_per_s" -> Stats.median(pollRate.toSeq)),
      "per_layer" -> layer.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
      "rates" -> Map("produce" -> produceRate, "stream" -> streamRate, "scan" -> scanRate,
        "poll" -> pollRate))
  }
}
