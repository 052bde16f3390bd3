package graft.perfbench

import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.TopicStore
import graft.serving.ProduceChannel

/** Times every produce request from submit to ack: the serving layer's
  * share of a produce, installed in front of the coalescer through
  * `RestServer.routeProduceVia` and the binary server's channel argument.
  * The request id is `key@timestampMicros`, which the load generator
  * makes unique per request.
  */
final class TimingChannel(inner: ProduceChannel, trace: Trace) extends ProduceChannel {
  val submitNs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val ackMs = new Samples

  override def submit(topic: String, key: String, tsMicros: Long,
      lines: Seq[Array[Byte]]): CompletableFuture[java.lang.Boolean] = {
    val req = s"$key@$tsMicros"
    val t0 = System.nanoTime()
    submitNs.put(req, t0)
    val ack = inner.submit(topic, key, tsMicros, lines)
    ack.whenComplete { (_, _) =>
      val t1 = System.nanoTime()
      ackMs.add((t1 - t0) / 1e6)
      trace.add("serving.channel", t0, t1, parent = s"client.produce:$req", req = req)
      submitNs.remove(req)
      ()
    }
  }
}

/** A TopicStore that times its produce entry points: `produceLocal` (the
  * serving coalescer's durable write) and `produce` (the Spark-job
  * plane), each recorded under the phase label the caller set.
  */
final class TimedStore(spark: SparkSession, root: String, trace: Trace)
    extends TopicStore(spark, root) {
  @volatile var channel: TimingChannel = _
  @volatile var phase: String = "setup"
  val localMs = new Samples
  val coalesceWaitMs = new Samples
  val localCalls = new AtomicLong
  val produceSecs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  /** Up to `KeySample` keys seen by produceLocal, for the core hash timings. */
  val keySample = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val keysKept = new AtomicLong
  private val KeySample = 50000L

  override def produceLocal(topic: String, rows: Seq[TopicStore.LocalRecord]): Long = {
    val t0 = System.nanoTime()
    val flush = localCalls.incrementAndGet()
    val ch = channel
    if (ch != null) rows.iterator.map(r => s"${r.key}@${r.tsMicros}").distinct.foreach { req =>
      val s = ch.submitNs.get(req)
      if (s != null) {
        coalesceWaitMs.add((t0 - s) / 1e6)
        trace.add("serving.coalesce_wait", s, t0, parent = s"serving.channel:$req", req = req)
      }
    }
    if (keysKept.get < KeySample) rows.foreach { r =>
      if (keysKept.incrementAndGet() <= KeySample) keySample.add(r.key)
    }
    val n = super.produceLocal(topic, rows)
    val t1 = System.nanoTime()
    localMs.add((t1 - t0) / 1e6)
    trace.add("engine.produce_local", t0, t1, req = s"flush-$flush")
    n
  }

  override def produce(topic: String, records: DataFrame): Long = {
    val p = phase
    val t0 = System.nanoTime()
    val n = super.produce(topic, records)
    val t1 = System.nanoTime()
    produceSecs.merge(p, (t1 - t0) / 1e9, (a, b) => a + b)
    trace.add("engine.produce", t0, t1, parent = p, req = topic)
    n
  }
}

/** Cumulative Spark counters from one listener: jobs, stages, tasks,
  * shuffle and spill bytes, task run/CPU/GC time, AQE re-plans, and the
  * planning phases and execution time of every completed query. Take a
  * [[Ledger.Snap]] before and after a window and subtract.
  */
final class Ledger(spark: SparkSession) extends SparkListener {
  private val c = Array.fill(Ledger.Keys.length)(new AtomicLong)
  private def add(k: String, v: Long): Unit = { c(Ledger.Keys.indexOf(k)).addAndGet(v); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe_replans", 1)
    case _ => ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("plan_ns", qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      add("exec_ns", durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  /** Counters after every event posted so far has been delivered. */
  def snap(): Ledger.Snap = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    Ledger.Snap(Ledger.Keys.zip(c.map(_.get)).toMap)
  }
}

object Ledger {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_run_ms", "task_cpu_ns", "gc_ms",
    "aqe_replans", "plan_ns", "exec_ns")

  final case class Snap(v: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(v.map { case (k, x) => k -> (x - o.v(k)) })
    def apply(k: String): Long = v(k)
  }
}
