package graft.perfbench

import java.io.DataInputStream
import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, SocketChannel}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import graft.tools.BenchData

/** The binary producer protocol's op codes and produce body
  * (`docs/developer/NETWORK_FORMATS.md` of the reference). Frame headers
  * come from `graft.tools.BenchData`, the repo's client-side frame codec.
  */
object Wire {
  val OpStartup = 1
  val OpReady = 2
  val OpProduce = 4
  val OpProduceResponse = 5
  val FlagTimestamp = 1

  def frame(streamId: Int, op: Int, flags: Int, body: Array[Byte]): Array[Byte] =
    BenchData.frameHeader(streamId, op, flags, body.length) ++ body

  /** Rewrites the stream id (and the header CRC) of a frame built by [[frame]]. */
  def setStream(frame: Array[Byte], streamId: Int): Unit = {
    val len = frame.length - 13
    System.arraycopy(BenchData.frameHeader(streamId, frame(4) & 0xff, frame(1) & 0xff, len),
      0, frame, 0, 13)
  }

  def produceBody(tsMicros: Long, key: String, topic: String, msgs: Seq[Array[Byte]]): Array[Byte] = {
    val k = key.getBytes(UTF_8)
    val t = topic.getBytes(UTF_8)
    val bb = ByteBuffer.allocate(8 + 2 + k.length + t.length + msgs.map(4 + _.length).sum)
    bb.putLong(tsMicros).put(k.length.toByte).put(k).put(t.length.toByte).put(t)
    msgs.foreach(m => bb.putInt(m.length).put(m))
    bb.array()
  }

  /** Reads one response frame and skips its body; returns the op code. */
  def readOp(in: DataInputStream): Int = {
    val (op, len) = BenchData.readFrameHeader(in)
    in.skipNBytes(len.toLong)
    op
  }
}

/** Keep-alive HTTP/1.1 calls to the REST front, over one shared client. */
final class Rest(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: Array[Byte] = Array.emptyByteArray,
      contentType: String = "application/json"): (Int, Array[Byte]) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(BodyPublishers.ofByteArray(body))
      .header("Content-Type", contentType).header("Accept", "application/json").build(),
      BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }
}

/** The load process of `ingest_wire`: an open loop over the binary front
  * at a ladder of fixed rates whose last step offers more than the front
  * takes, two closed-loop REST producers beside it, and one REST consumer
  * group draining the topic in bounded pages the whole time.
  * Every binary message is due at a fixed time of a seeded schedule;
  * latencies are measured from the due time, so a late sender shows up as
  * latency and as generator lateness instead of as a lighter load.
  *
  * Threads and connections: one binary connection driven by one thread
  * (send on schedule, read acks), two REST producer threads and one
  * consumer thread sharing one HTTP client (one connection each).
  */
final class WireLoad(binPort: Int, restPort: Int, seed: Long, seconds: Double,
    ladder: Seq[(Double, Double)], trace: Trace) {
  private val Topic = "wire"
  private val WarmTopic = "perfbench_warm"
  private val WarmSec = 3.0
  private val WarmRate = 8000.0
  private val GapSec = 1.0
  /** Start of a step's throughput window: acks before it still belong to the previous rate. */
  private val SettleSec = 0.5
  private val RestThreads = 2
  private val AckBoundMs = 50.0

  // the ladder's (rate, weight) steps share the run's seconds by weight
  private val rates = ladder.map(_._1)
  private val stepSec: Seq[Double] = ladder.map(_._2 * seconds / ladder.map(_._2).sum)
  private val stepStartSec: Seq[Double] =
    stepSec.scanLeft(WarmSec + GapSec)(_ + _ + GapSec).init
  private val ladderEndSec = stepStartSec.last + stepSec.last

  private var originNs = 0L
  private var originEpochMicros = 0L
  private def dueNs(dueMicros: Long): Long = originNs + dueMicros * 1000L
  private def secNs(sec: Double): Long = originNs + math.round(sec * 1e9)
  private def stepEndNs(i: Int): Long = secNs(stepStartSec(i) + stepSec(i))

  // ------------------------------------------------------------ outcome
  private val failures = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private def fail(kind: String, n: Long = 1): Unit = failures.synchronized { failures(kind) += n }
  private val sentMsgs = new AtomicLong
  private val ackedBytes = new AtomicLong
  private val ackedBin = new java.util.BitSet()
  private val ackedRest = mutable.Set.empty[Long]
  private val restAckMs = new Samples
  private val lateMs = new Samples
  private val deliveryMs = new Samples
  private val pollMs = new Samples
  private val polls = new AtomicLong
  private val usefulPolls = new AtomicLong
  private val delivered = new AtomicLong
  private val producersDone = new AtomicBoolean(false)
  private val rest = new Rest(restPort)

  // ------------------------------------------------------------ binary
  private final class Frame(val bytes: Array[Byte], val key: String, val dueMicros: Long,
      val seq: Long, val step: Int) {
    /** Stamps the request timestamp (the request id) once the origin is known. */
    def stamp(): Long = {
      val ts = originEpochMicros + dueMicros
      ByteBuffer.wrap(bytes).putLong(13, ts)
      ts
    }
  }

  private final class Step(val rate: Double) {
    val ackMs = new Samples
    /** Each acked request's due time, in seconds from the step's start (same order as ackMs). */
    val dueSec = new Samples
    /** Messages of any step acked inside this step's throughput window. */
    val ackedInWindow = new AtomicLong
    var backlogEnd = -1L
  }
  private val steps = rates.map(new Step(_))
  private def windowStep(t: Long): Int =
    steps.indices.find(i => t >= secNs(stepStartSec(i) + SettleSec) && t <= stepEndNs(i)).getOrElse(-1)

  private val gen = new MessageGen(seed)
  private var nextSeq = 0L

  private def frames(step: Int, topic: String, startSec: Double, durSec: Double,
      rate: Double): Array[Frame] = {
    val n = math.round(rate * durSec).toInt
    Array.tabulate(n) { j =>
      val due = math.round((startSec + j / rate) * 1e6)
      val key = gen.nextKey()
      val seq = nextSeq
      nextSeq += 1
      val bytes = Wire.frame(0, Wire.OpProduce, Wire.FlagTimestamp,
        Wire.produceBody(0L, key, topic, Seq(gen.body(seq, key, due))))
      new Frame(bytes, key, due, seq, step)
    }
  }

  /** Sends `fs` on schedule over one non-blocking connection and reads
    * their acks; returns once every frame is acked or `deadlineNs` passes.
    */
  private def drive(ch: SocketChannel, sel: Selector, fs: Array[Frame], deadlineNs: Long): Unit = {
    val ladder = fs.nonEmpty && fs(0).step >= 0
    val inFlight = new java.util.HashMap[Integer, Frame]()
    val sentAt = new java.util.HashMap[Integer, java.lang.Long]()
    val reqOf = new java.util.HashMap[Integer, String]()
    val rd = ByteBuffer.allocate(1 << 16)
    var pending: ByteBuffer = null
    var next = 0
    var nextStream = 1
    var stepEnd = 0
    while ((next < fs.length || !inFlight.isEmpty) && System.nanoTime() < deadlineNs) {
      var now = System.nanoTime()
      while (ladder && stepEnd < steps.length && now >= stepEndNs(stepEnd)) {
        // backlog at the end of a rate step: due but unsent, plus unacked
        var due = 0L
        var k = next
        while (k < fs.length && dueNs(fs(k).dueMicros) <= now) { due += 1; k += 1 }
        steps(stepEnd).backlogEnd = due + inFlight.size
        stepEnd += 1
      }
      while (pending == null && next < fs.length && dueNs(fs(next).dueMicros) <= now) {
        val f = fs(next)
        while (inFlight.containsKey(nextStream)) nextStream = nextStream % 65535 + 1
        val ts = f.stamp()
        Wire.setStream(f.bytes, nextStream)
        if (trace.enabled) reqOf.put(nextStream, s"${f.key}@$ts")
        if (ladder) lateMs.add((now - dueNs(f.dueMicros)) / 1e6)
        inFlight.put(nextStream, f)
        sentAt.put(nextStream, now)
        nextStream = nextStream % 65535 + 1
        sentMsgs.incrementAndGet()
        val buf = ByteBuffer.wrap(f.bytes)
        ch.write(buf)
        if (buf.hasRemaining) { pending = buf; ch.register(sel, SelectionKey.OP_READ | SelectionKey.OP_WRITE) }
        next += 1
        now = System.nanoTime()
      }
      val waitNs = if (next < fs.length) dueNs(fs(next).dueMicros) - now else 1000000L
      // select(0) would block until the next ack: wait at least 1 ms
      if (waitNs > 2000000L) sel.select(waitNs / 1000000L - 1) else sel.selectNow()
      sel.selectedKeys().clear()
      if (pending != null) {
        ch.write(pending)
        if (!pending.hasRemaining) { pending = null; ch.register(sel, SelectionKey.OP_READ) }
      }
      var r = ch.read(rd)
      while (r > 0) {
        rd.flip()
        var parsed = true
        while (parsed && rd.remaining >= 13) {
          val p = rd.position()
          val len = rd.getInt(p + 5)
          if (rd.remaining >= 13 + len) {
            val op = rd.get(p + 4) & 0xff
            val sid = ((rd.get(p + 2) & 0xff) << 8) | (rd.get(p + 3) & 0xff)
            rd.position(p + 13 + len)
            val f = inFlight.remove(sid)
            if (f != null) {
              val t = System.nanoTime()
              val s = sentAt.remove(sid)
              if (op == Wire.OpProduceResponse) {
                if (ladder) {
                  steps(f.step).ackMs.add((t - dueNs(f.dueMicros)) / 1e6)
                  steps(f.step).dueSec.add(f.dueMicros / 1e6 - stepStartSec(f.step))
                  val w = windowStep(t)
                  if (w >= 0) steps(w).ackedInWindow.incrementAndGet()
                  ackedBin.synchronized(ackedBin.set(f.seq.toInt))
                  ackedBytes.addAndGet(MessageGen.Size)
                }
                if (trace.enabled) trace.add("client.produce", s, t, req = reqOf.remove(sid))
              } else fail("binary_refused")
            }
          } else parsed = false
        }
        rd.compact()
        r = ch.read(rd)
      }
      if (r < 0) throw new java.io.EOFException("binary front closed the connection")
    }
    if (ladder) steps.filter(_.backlogEnd < 0).foreach(_.backlogEnd = inFlight.size.toLong)
    if (!inFlight.isEmpty) fail("binary_unacked", inFlight.size.toLong)
  }

  // generated before the origin is set, so generation never delays a send
  private val warmFrames = frames(-1, WarmTopic, 0.0, WarmSec, WarmRate)
  private val ladderFrames = {
    nextSeq = 0L
    rates.indices.toArray.flatMap(i => frames(i, Topic, stepStartSec(i), stepSec(i), rates(i)))
  }

  private def binaryProducer(): Unit = {
    val ch = SocketChannel.open(new InetSocketAddress("localhost", binPort))
    ch.socket().setTcpNoDelay(true)
    val hello = ByteBuffer.wrap(Wire.frame(1, Wire.OpStartup, 0, Array.emptyByteArray))
    while (hello.hasRemaining) ch.write(hello)
    val ready = ByteBuffer.allocate(13)
    while (ready.hasRemaining) ch.read(ready)
    require((ready.get(4) & 0xff) == Wire.OpReady, "binary front did not answer ready")
    ch.configureBlocking(false)
    val sel = Selector.open()
    ch.register(sel, SelectionKey.OP_READ)
    try {
      // warm-up traffic to its own topic: not measured, not checked
      drive(ch, sel, warmFrames, secNs(WarmSec + 10))
      drive(ch, sel, ladderFrames, secNs(ladderEndSec + 30))
    } finally { sel.close(); ch.close() }
  }

  // ------------------------------------------------------------ REST
  /** A closed loop of one-message NDJSON produces over one connection
    * for the length of the ladder: one HTTP/1.1 connection carries one
    * request at a time, so an open loop on it would time the client's own
    * queue. Latency runs from send to ack.
    */
  private def restProducer(t: Int): Unit = {
    val rgen = new MessageGen(seed * 31 + 7 + t, keyPrefix = s"r$t-")
    val end = secNs(ladderEndSec)
    var seq = 0L // negative sequences, disjoint per producer: -(1 + t), -(1 + t + RestThreads), ...
    var now = System.nanoTime()
    while (now < secNs(WarmSec + GapSec)) {
      java.util.concurrent.locks.LockSupport.parkNanos(secNs(WarmSec + GapSec) - now)
      now = System.nanoTime()
    }
    while (now < end) {
      val key = rgen.nextKey()
      val p = -(1L + t + RestThreads * seq)
      seq += 1
      val due = (now - originNs) / 1000L
      val body = rgen.body(p, key, due)
      val ts = originEpochMicros + due
      sentMsgs.incrementAndGet()
      val t0 = System.nanoTime()
      val (status, _) = rest.post(s"/v1/topic/$Topic/messages?partitionKey=$key&timestamp=$ts",
        body, "application/x-ndjson")
      val t1 = System.nanoTime()
      if (status == 200) {
        restAckMs.add((t1 - t0) / 1e6)
        ackedRest.synchronized { ackedRest += p }
        ackedBytes.addAndGet(MessageGen.Size)
        trace.add("client.produce", t0, t1, req = s"$key@$ts")
      } else fail("rest_refused")
      now = System.nanoTime()
    }
  }

  // ------------------------------------------------------------ consumer
  private val seenBin = new java.util.BitSet()
  private val seenRest = mutable.Set.empty[Long]
  private val lastByKey = mutable.Map.empty[String, Long]

  private def consumer(): Unit = {
    val json = new JsonFactory()
    require(rest.post(s"/v1/consumer/register?consumerId=c1&group=wire&topic=$Topic" +
      "&onNewGroup=startFromEarliest")._1 == 200, "consumer register refused")
    var doneAt = Long.MaxValue
    while (System.nanoTime() < doneAt) {
      if (producersDone.get && doneAt == Long.MaxValue) doneAt = System.nanoTime() + 30000000000L
      if (producersDone.get && allSeen) doneAt = 0L
      val t0 = System.nanoTime()
      val (status, body) = rest.post("/v1/consumer/poll?consumerId=c1")
      val t1 = System.nanoTime()
      polls.incrementAndGet()
      pollMs.add((t1 - t0) / 1e6)
      trace.add("client.poll", t0, t1, req = s"poll-${polls.get}")
      if (status == 200) { usefulPolls.incrementAndGet(); parse(json, body, t1) }
      else if (status == 204) Thread.sleep(5)
      else { fail("poll_error"); Thread.sleep(5) }
    }
    rest.post("/v1/consumer/goodbye?consumerId=c1")
  }

  private def allSeen: Boolean = ackedBin.synchronized {
    val missingBin = { val m = ackedBin.clone().asInstanceOf[java.util.BitSet]; m.andNot(seenBin); m.cardinality() }
    missingBin == 0 && ackedRest.synchronized(ackedRest.forall(seenRest.contains))
  }

  private def parse(json: JsonFactory, body: Array[Byte], at: Long): Unit = {
    val p = json.createParser(body)
    try {
      var depth = 0
      var tok = p.nextToken()
      while (tok != null) {
        tok match {
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
          case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
          case JsonToken.FIELD_NAME if depth == 2 && p.getCurrentName == "values" =>
            p.nextToken() // START_ARRAY of record bodies
            while (p.nextToken() == JsonToken.START_OBJECT) {
              var seq = Long.MinValue; var key: String = null; var due = -1L
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                val f = p.getCurrentName
                p.nextToken()
                f match {
                  case "p" => seq = p.getLongValue
                  case "k" => key = p.getText
                  case "d" => due = p.getLongValue
                  case _ => p.skipChildren()
                }
              }
              see(seq, key, due, at)
            }
          case _ => ()
        }
        tok = p.nextToken()
      }
    } finally p.close()
  }

  private def see(seq: Long, key: String, due: Long, at: Long): Unit = {
    delivered.incrementAndGet()
    deliveryMs.add((at - dueNs(due)) / 1e6)
    val dup = ackedBin.synchronized {
      if (seq >= 0) { val d = seenBin.get(seq.toInt); seenBin.set(seq.toInt); d }
      else !seenRest.add(seq)
    }
    if (dup) fail("duplicate")
    // per-key order: binary sequences rise, REST sequences fall (negative space)
    val order = if (seq >= 0) seq else -seq
    lastByKey.get(key).foreach(last => if (order <= last) fail("out_of_order"))
    lastByKey(key) = order
  }

  // ------------------------------------------------------------ run
  def run(): Map[String, Any] = {
    val load0 = Host.loadAvg1
    // the frames generated above move to the old generation now, not in a
    // collection pause during the ladder
    System.gc()
    originNs = System.nanoTime() + 200000000L
    originEpochMicros = System.currentTimeMillis() * 1000L + 200000L
    val workers = Seq(new Thread(() => binaryProducer(), "load-binary")) ++
      (0 until RestThreads).map(t => new Thread(() => restProducer(t), s"load-rest-$t"))
    val cons = new Thread(() => consumer(), "load-consumer")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (workers :+ cons).foreach(_.setUncaughtExceptionHandler((_, e) => { errors.add(e); () }))
    cons.start()
    workers.foreach(_.start())
    workers.foreach(_.join())
    producersDone.set(true)
    cons.join()
    errors.forEach(e => { System.err.println(s"[perfbench] load thread failed: $e"); fail("load_error") })
    val missing = ackedBin.synchronized {
      val m = ackedBin.clone().asInstanceOf[java.util.BitSet]; m.andNot(seenBin)
      m.cardinality().toLong + ackedRest.count(s => !seenRest.contains(s))
    }
    if (missing > 0) fail("missing", missing)

    def ackedRate(i: Int): Double = steps(i).ackedInWindow.get / (stepSec(i) - SettleSec)
    // ack latency at the first step: each one-second window (by due time)
    // gives its percentile, and the figure is the median over the windows,
    // so one collection pause or scheduling burst moves one window
    def windowed(q: Double): Double = {
      val a = steps.head.ackMs.toArray
      val d = steps.head.dueSec.toArray
      Stats.median(a.indices.groupBy(i => d(i).toInt).values.map(ix => Stats.pct(ix.map(a).toArray, q)).toSeq)
    }
    val stepOut = steps.indices.map { i =>
      val s = steps(i)
      val a = s.ackMs.toArray
      Map("rate" -> s.rate, "secs" -> stepSec(i), "acks" -> a.length,
        "ack_p50_ms" -> Stats.pct(a, 0.5), "ack_p99_ms" -> Stats.pct(a, 0.99),
        "backlog_end_msgs" -> s.backlogEnd, "acked_msgs_per_s" -> ackedRate(i))
    }
    Map(
      "attempted" -> sentMsgs.get,
      "failed" -> failures.values.sum,
      "failures" -> failures.toMap,
      "steps" -> stepOut,
      "user_bytes" -> ackedBytes.get,
      "delivered" -> delivered.get,
      "end_to_end" -> Map(
        "ack_p50_ms" -> windowed(0.5),
        "ack_p99_ms" -> windowed(0.99),
        "rest_ack_p50_ms" -> Stats.pct(restAckMs.toArray, 0.5),
        "rest_ack_p75_ms" -> Stats.pct(restAckMs.toArray, 0.75),
        "delivery_p99_ms" -> Stats.pct(deliveryMs.toArray, 0.99),
        "max_rate_msgs_per_s" -> maxRate(),
        "saturated_msgs_per_s" -> ackedRate(steps.length - 1)),
      "per_layer" -> Map(
        "serving.poll_ms_p99" -> Stats.pct(pollMs.toArray, 0.99),
        "serving.poll_empty_ratio" -> usefulPolls.get.toDouble / math.max(1L, polls.get)),
      "host" -> Map("gen_late_ms_p99" -> Stats.pct(lateMs.toArray, 0.99),
        "load1_start" -> load0, "load1_end" -> Host.loadAvg1,
        "rest_acks" -> restAckMs.size, "delivery_p50_ms" -> Stats.pct(deliveryMs.toArray, 0.5)))
  }

  /** The rate at which p99 ack latency crosses the 50 ms bound (the
    * BASELINE keyed limit), interpolated between the last step that holds
    * it without a growing backlog and the first that does not; 0 when even
    * the lowest step misses it.
    */
  private def maxRate(): Double = {
    def ok(s: Step): Boolean = {
      val p99 = Stats.pct(s.ackMs.toArray, 0.99)
      p99 <= AckBoundMs && s.backlogEnd <= s.rate * AckBoundMs / 1000.0
    }
    val firstBad = steps.indexWhere(s => !ok(s))
    if (firstBad < 0) return steps.last.rate
    if (firstBad == 0) return 0.0
    val b = steps(firstBad)
    val pb = math.max(Stats.pct(b.ackMs.toArray, 0.99), AckBoundMs + 1e-9)
    val a = steps(firstBad - 1)
    val pa = Stats.pct(a.ackMs.toArray, 0.99)
    a.rate + (b.rate - a.rate) * (AckBoundMs - pa) / (pb - pa)
  }
}

object WireLoad {
  def main(args: Array[String]): Unit = {
    val a = Args.parse(args)
    val trace = new Trace(a("trace") == "1")
    val out = Path.of(a("out"))
    val load = new WireLoad(a("bin").toInt, a("rest").toInt, a("seed").toLong,
      a("seconds").toDouble,
      a("ladder").split(",").toSeq.map { s => val Array(r, w) = s.split(":"); (r.toDouble, w.toDouble) },
      trace)
    val result = load.run()
    if (trace.enabled) trace.writeTo(out.resolve("load-spans.jsonl"))
    Files.createDirectories(out)
    Files.write(out.resolve("load.json"), Json.write(result).getBytes(UTF_8))
  }
}
