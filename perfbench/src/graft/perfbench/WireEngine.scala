package graft.perfbench

import java.io.{BufferedReader, DataInputStream, DataOutputStream, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.engine.TopicStore
import graft.serving.{BinaryProducerServer, RestServer}

/** Engine side of `ingest_wire`: the REST and binary fronts built exactly
  * as `graft.tools.Serve` builds them (20 ms coalesce window and the
  * server defaults: 2 MiB group cap, 2 MiB / 8192-record poll pages).
  * A traced run puts a [[TimingChannel]] in front of the coalescer and
  * serves a [[TimedStore]]; an untraced run serves the plain store.
  *
  * Set-up (store, both servers, one acked produce and one answered poll)
  * is timed [[Main.SetupRuns]] times; the last set-up stays up. The process then
  * prints `READY <binaryPort> <restPort>`, serves the load process until
  * a `STOP` line arrives on stdin, and reports what the store wrote.
  */
object WireEngine {
  private final case class Up(root: Path, store: TopicStore, rest: RestServer,
      bin: BinaryProducerServer, channel: Option[TimingChannel]) {
    def down(): Unit = { bin.stop(); rest.stop(); Host.deleteTree(root) }
  }

  private def bringUp(spark: SparkSession, trace: Trace): Up = {
    val root = Files.createTempDirectory("perfbench-wire")
    val store =
      if (trace.enabled) new TimedStore(spark, root.toString, trace)
      else new TopicStore(spark, root.toString)
    val rest = new RestServer(store, coalesceMs = 20L).start()
    val channel = if (trace.enabled) Some(new TimingChannel(rest.coalescer, trace)) else None
    channel.foreach { c =>
      rest.routeProduceVia(c)
      store.asInstanceOf[TimedStore].channel = c
    }
    val bin = new BinaryProducerServer(channel.getOrElse(rest.coalescer)).start()
    rest.advertiseProducerBinaryPort(bin.boundPort)
    probe(bin.boundPort, rest.boundPort)
    Up(root, store, rest, bin, channel)
  }

  /** One binary produce acked and one REST poll answered: the fronts serve. */
  private def probe(binPort: Int, restPort: Int): Unit = {
    val sock = new Socket("localhost", binPort)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      out.write(Wire.frame(1, Wire.OpStartup, 0, Array.emptyByteArray)); out.flush()
      require(Wire.readOp(in) == Wire.OpReady, "binary front: no ready")
      val body = Wire.produceBody(1L, "probe", "perfbench_probe",
        Seq("{\"probe\":1}".getBytes(UTF_8)))
      out.write(Wire.frame(2, Wire.OpProduce, Wire.FlagTimestamp, body)); out.flush()
      require(Wire.readOp(in) == Wire.OpProduceResponse, "binary front: produce not acked")
    } finally sock.close()
    val rest = new Rest(restPort)
    def call(path: String): Int = rest.post("/v1/consumer" + path)._1
    require(call("/register?consumerId=probe&group=probe&topic=perfbench_probe" +
      "&onNewGroup=startFromEarliest") == 200, "REST front: register refused")
    require(call("/poll?consumerId=probe") == 200, "REST front: probe record not served")
    require(call("/goodbye?consumerId=probe") == 200, "REST front: goodbye refused")
  }

  def run(spark: SparkSession, trace: Trace): Map[String, Any] = {
    var up: Up = null
    val setups = (1 to Main.SetupRuns).map { _ =>
      if (up != null) up.down()
      Clock.secs { up = bringUp(spark, trace) }._2
    }
    val m0 = up.rest.metrics.render
    val flushed0 = up.rest.metrics.groupsFlushed.get
    println(s"READY ${up.bin.boundPort} ${up.rest.boundPort}")
    System.out.flush()
    val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var line = stdin.readLine()
    while (line != null && line.trim != "STOP") line = stdin.readLine()
    val m1 = up.rest.metrics.render
    val flushes = up.rest.metrics.groupsFlushed.get - flushed0
    val (bytes, files) = Host.dirBytesAndFiles(up.root.resolve("data"), ".parquet")
    val layer = Map[String, Double](
      "serving.groups_flushed" -> flushes.toDouble,
      // mean, not a bucket median: groups outgrow the histogram's top (1024) bucket
      "serving.msgs_per_group_mean" -> Prom.deltaMean(m0, m1, "coalescer_messages_per_group"),
      "serving.flush_bytes_p50" -> Prom.deltaP50(m0, m1, "produce_flush_bytes"),
      "engine.files_per_flush" -> (if (flushes > 0) files.toDouble / flushes else Double.NaN),
      "engine.bytes_written" -> bytes.toDouble) ++ (up.store match {
        case ts: TimedStore =>
          val ack = up.channel.get.ackMs.toArray
          val local = ts.localMs.toArray
          Map(
            "serving.channel_ack_ms_p50" -> Stats.pct(ack, 0.5),
            "serving.channel_ack_ms_p99" -> Stats.pct(ack, 0.99),
            "serving.coalesce_wait_ms_p50" -> Stats.pct(ts.coalesceWaitMs.toArray, 0.5),
            "engine.produce_local_ms_p50" -> Stats.pct(local, 0.5),
            "engine.produce_local_ms_p99" -> Stats.pct(local, 0.99),
            "engine.produce_local_calls" -> ts.localCalls.get.toDouble) ++
            CoreTimings.keys(ts.keySample.toArray(new Array[String](0)), ts.clusterSize,
              ts.rangesPerToken)
        case _ => Map.empty[String, Double]
      })
    up.down()
    Map(
      "end_to_end" -> Map("setup_s" -> Stats.median(setups), "store_bytes" -> bytes.toDouble),
      "per_layer" -> layer)
  }
}

/** Hash and ring-routing cost per key, on a workload's own keys. */
object CoreTimings {
  def keys(keys: Array[String], clusterSize: Int, ranges: Int): Map[String, Double] = {
    if (keys.isEmpty) return Map.empty
    var sink = 0L
    def perKey(body: String => Long): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < keys.length) { sink ^= body(keys(i)); i += 1 }
        (System.nanoTime() - t0).toDouble / keys.length
      }
      once(); once()
      Stats.median((1 to 5).map(_ => once()))
    }
    val tokens = keys.map(graft.core.Murmur3x64.hashString)
    var j = 0
    val hash = perKey(k => graft.core.Murmur3x64.hashString(k))
    val ordinal = perKey { _ =>
      val t = tokens(j % tokens.length); j += 1
      graft.core.TokenRing.partitionOrdinal(t, clusterSize, ranges).toLong
    }
    if (sink == 42L) System.err.print("")
    Map("core.murmur3_ns_per_key" -> hash, "core.partition_ordinal_ns_per_key" -> ordinal)
  }
}

/** Reads histogram medians and means out of two `/metrics` renderings. */
object Prom {
  private def buckets(text: String, name: String): Seq[(Double, Long)] = {
    val re = ("graft_" + name + """_bucket\{le="([^"]+)"\} (\d+)""").r
    text.linesIterator.flatMap(l => re.findFirstMatchIn(l)).map { m =>
      val le = if (m.group(1) == "+Inf") Double.PositiveInfinity else m.group(1).toDouble
      le -> m.group(2).toLong
    }.toSeq
  }

  private def scalar(text: String, name: String): Double =
    text.linesIterator.find(_.startsWith(s"graft_$name "))
      .map(_.substring(name.length + 7).trim.toDouble).getOrElse(0.0)

  /** Mean of the observations made between the two renderings. */
  def deltaMean(before: String, after: String, name: String): Double = {
    val n = scalar(after, s"${name}_count") - scalar(before, s"${name}_count")
    if (n <= 0) Double.NaN else (scalar(after, s"${name}_sum") - scalar(before, s"${name}_sum")) / n
  }

  /** Upper bound of the bucket holding the median of the observations
    * made between the two renderings.
    */
  def deltaP50(before: String, after: String, name: String): Double = {
    val b = buckets(before, name).toMap
    val d = buckets(after, name).map { case (le, c) => le -> (c - b.getOrElse(le, 0L)) }
    val total = d.lastOption.map(_._2).getOrElse(0L)
    if (total == 0) return Double.NaN
    d.find(_._2 * 2 >= total).map(_._1).getOrElse(Double.NaN)
  }
}
