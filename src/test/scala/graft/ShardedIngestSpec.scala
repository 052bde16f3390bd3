package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TopicStore
import graft.serving.BrokerGroup

/** The horizontal ingest plane: `TopicStore.produce` (shared plane +
  * per-ring-partition monitors + task-written, driver-published segment
  * files) and the [[BrokerGroup]] serving front that routes produce over
  * N brokers — the repo's analog of the reference's N-broker produce path
  * (`internal/discovery/discoverer_client_service.go:30-124`). Every
  * test's oracle is the engine's own delivery contract: exactly-once,
  * per-key produce order, contiguous unique (version, part, offset).
  */
class ShardedIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("sharded-ingest-spec").master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)

  private def concurrentStrings(
      store: TopicStore, topic: String,
      rows: Seq[(String, String, Timestamp)]): Long = {
    import store.spark.implicits._
    val df = rows.toDF("key", "svalue", "timestamp")
      .withColumn("value", encode(col("svalue"), "UTF-8"))
      .select("key", "value", "timestamp")
    store.produce(topic, df)
  }

  /** Drain everything an Earliest group can see and return the delivered
    * string values per key, in (version, part, offset) delivery order.
    */
  private def drainByKey(
      store: TopicStore, topic: String, group: String): Map[String, Vector[String]] = {
    store.registry.register(group, "c", Seq(topic), store.StartFrom.Earliest)
    val rows = store.poll(group, topic, "c")
      .select(col("key"), decode(col("value"), "UTF-8").as("v"),
        col("version"), col("part"), col("offset"))
      .collect()
      .sortBy(r => (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset")))
    // uniqueness of the full address is part of the contract
    val addrs = rows.map(r =>
      (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset")))
    assert(addrs.distinct.length == addrs.length,
      s"duplicate (version, part, offset) addresses: ${addrs.length - addrs.distinct.length}")
    rows.groupBy(_.getAs[String]("key")).view
      .mapValues(_.map(_.getAs[String]("v")).toVector).toMap
  }

  /** Hidden (in-flight or orphaned) segment files under the log. */
  private def hiddenFiles(store: TopicStore): Seq[String] = {
    val data = java.nio.file.Paths.get(store.dataDir)
    if (!Files.exists(data)) Seq.empty
    else {
      val walk = Files.walk(data)
      try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.endsWith(".tmp")).toList
      finally walk.close()
    }
  }

  private def runThreads(n: Int)(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val futs = (0 until n).map(tid => pool.submit(new Runnable {
      override def run(): Unit = body(tid)
    }))
    try futs.foreach(_.get()) finally pool.shutdownNow()
  }

  test("parallel produceConcurrent + exclusive produce: exactly once, per-key order") {
    val store = new TopicStore(spark, Files.createTempDirectory("graft-shard").toString,
      clusterSize = 3)
    val topic = "t"
    val threads = 6
    val batches = 5
    val perBatch = 30
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    runThreads(threads) { tid =>
      var n = 0
      for (_ <- 0 until batches) {
        val rows = (0 until perBatch).map { _ =>
          val k = s"t$tid-k${n % 5}"
          val v = s"$k#${n / 5}"
          n += 1
          (k, v, ts(clock.incrementAndGet()))
        }
        // thread 0 produces through produceStrings: both entry points
        // share one plane and must compose
        if (tid == 0) store.produceStrings(topic, rows)
        else assert(concurrentStrings(store, topic, rows) == perBatch.toLong)
      }
    }
    val total = threads * batches * perBatch
    val byKey = drainByKey(store, topic, "g1")
    assert(byKey.valuesIterator.map(_.size).sum == total)
    byKey.foreach { case (k, vs) =>
      val want = vs.indices.map(i => s"$k#$i").toVector
      assert(vs == want, s"key $k out of order:\n got $vs\nwant $want")
    }
    // watermarks account for every record
    assert(store.producerOffsets(topic).values.sum == total.toLong)
    // every segment published: none left hidden
    assert(hiddenFiles(store).isEmpty, hiddenFiles(store).mkString("\n"))
  }

  test("produceConcurrent racing rescale: exactly once across the flip") {
    val store = new TopicStore(spark, Files.createTempDirectory("graft-shard-rs").toString,
      clusterSize = 3)
    val topic = "t"
    val threads = 4
    val batches = 8
    val perBatch = 12
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rescaler = new Thread(() => {
      val sizes = Seq(6, 1, 3, 12, 3)
      var i = 0
      while (!stop.get() && i < sizes.size) {
        Thread.sleep(150)
        store.rescale(topic, sizes(i))
        i += 1
      }
    }, "spec-rescaler")
    rescaler.start()
    runThreads(threads) { tid =>
      var n = 0
      for (_ <- 0 until batches) {
        val rows = (0 until perBatch).map { _ =>
          val k = s"r$tid-k${n % 3}"
          val v = s"$k#${n / 3}"
          n += 1
          (k, v, ts(clock.incrementAndGet()))
        }
        assert(concurrentStrings(store, topic, rows) == perBatch.toLong)
      }
    }
    stop.set(true)
    rescaler.join()
    val total = threads * batches * perBatch
    val byKey = drainByKey(store, topic, "g2")
    assert(byKey.valuesIterator.map(_.size).sum == total)
    byKey.foreach { case (k, vs) =>
      val want = vs.indices.map(i => s"$k#$i").toVector
      assert(vs == want, s"key $k out of order across rescales:\n got $vs\nwant $want")
    }
  }

  test("BrokerGroup: group discovery, produce to every broker, exactly-once consume") {
    val store = new TopicStore(spark, Files.createTempDirectory("graft-group").toString,
      clusterSize = 3)
    val group = new BrokerGroup(store, brokers = 3, coalesceMs = 20L).start()
    val client = HttpClient.newHttpClient()
    def base(i: Int) = s"http://localhost:${group.servers(i).boundPort}"
    def post(i: Int, path: String, body: String,
        ctype: String = "application/json"): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(base(i) + path))
        .POST(BodyPublishers.ofString(body)).header("Content-Type", ctype).build(),
        BodyHandlers.ofString())
    try {
      // every member advertises the whole group, binary ports included
      for (i <- 0 until 3) {
        val b = client.send(HttpRequest.newBuilder(URI.create(base(i) + "/v1/brokers"))
          .GET().build(), BodyHandlers.ofString()).body()
        assert(b.contains("\"length\":3"), b)
        val ports = group.servers.map(_.boundPort)
        assert(ports.forall(p => b.contains(p.toString)), b)
        val binPorts = group.binaryServers.map(_.boundPort)
        assert(b.contains(s""""producerBinaryPorts":[${binPorts.mkString(",")}]"""), b)
      }
      // keyed NDJSON produce sprayed over ALL brokers from parallel clients
      runThreads(6) { tid =>
        val c = HttpClient.newHttpClient()
        for (i <- 0 until 4) {
          val body = (0 until 10).map(j => s"""{"t":$tid,"i":$i,"j":$j}""").mkString("\n")
          val r = c.send(HttpRequest.newBuilder(URI.create(
            base((tid + i) % 3) +
              s"/v1/topic/orders/messages?partitionKey=k$tid&timestamp=${1700000000000000L + tid * 1000L + i}"))
            .POST(BodyPublishers.ofString(body))
            .header("Content-Type", "application/x-ndjson").build(),
            BodyHandlers.ofString())
          assert(r.statusCode() == 200, r.body())
        }
      }
      // keyless NDJSON: lines route independently by value hash, the ack
      // covers all sub-batches
      assert(post(1, "/v1/topic/orders/messages?timestamp=1700000099000000",
        (0 until 16).map(j => s"""{"keyless":$j}""").mkString("\n"),
        "application/x-ndjson").statusCode() == 200)

      // binary framed produce through a GROUP member's binary server —
      // its channel is the ShardRouter, so the frame's key re-homes to
      // the owning broker's coalescer like every HTTP produce
      binaryProduce(group.binaryServers(1).boundPort,
        1700000099500000L, "kbin", "orders", """{"bin":1}""")

      // consume via ONE broker: everything, exactly once, per-key order
      val byKey = drainByKey(store, "orders", "gw")
      assert(byKey.valuesIterator.map(_.size).sum == 6 * 4 * 10 + 16 + 1)
      assert(byKey("kbin") == Vector("""{"bin":1}"""))
      for (tid <- 0 until 6) {
        val vs = byKey(s"k$tid")
        val want = (0 until 4).flatMap(i => (0 until 10).map(j =>
          s"""{"t":$tid,"i":$i,"j":$j}""")).toVector
        assert(vs == want, s"k$tid diverged:\n got $vs\nwant $want")
      }
    } finally group.stop()
  }

  /** Minimal binary-protocol client: startup handshake + one framed
    * produce (withTimestamp), blocking on the produceResponse ack.
    */
  private def binaryProduce(
      port: Int, tsMicros: Long, key: String, topic: String, msg: String): Unit = {
    import java.io.{DataInputStream, DataOutputStream}
    def frame(streamId: Int, op: Int, flags: Int, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](13 + body.length)
      out(0) = 1; out(1) = flags.toByte
      out(2) = ((streamId >> 8) & 0xff).toByte; out(3) = (streamId & 0xff).toByte
      out(4) = op.toByte
      out(5) = ((body.length >> 24) & 0xff).toByte; out(6) = ((body.length >> 16) & 0xff).toByte
      out(7) = ((body.length >> 8) & 0xff).toByte; out(8) = (body.length & 0xff).toByte
      val crc = new java.util.zip.CRC32
      crc.update(out, 0, 9)
      val c = crc.getValue
      out(9) = ((c >> 24) & 0xff).toByte; out(10) = ((c >> 16) & 0xff).toByte
      out(11) = ((c >> 8) & 0xff).toByte; out(12) = (c & 0xff).toByte
      System.arraycopy(body, 0, out, 13, body.length)
      out
    }
    val sock = new java.net.Socket("localhost", port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      def readOp(): Int = {
        val h = new Array[Byte](13); in.readFully(h)
        val len = ((h(5) & 0xff) << 24) | ((h(6) & 0xff) << 16) |
          ((h(7) & 0xff) << 8) | (h(8) & 0xff)
        in.skipBytes(len); h(4) & 0xff
      }
      out.write(frame(1, 1, 0, Array.emptyByteArray)); out.flush()
      assert(readOp() == 2, "expected ready")
      val buf = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(buf)
      d.writeLong(tsMicros)
      val k = key.getBytes("UTF-8"); d.writeByte(k.length); d.write(k)
      val t = topic.getBytes("UTF-8"); d.writeByte(t.length); d.write(t)
      val m = msg.getBytes("UTF-8"); d.writeInt(m.length); d.write(m)
      out.write(frame(2, 4, 1, buf.toByteArray)); out.flush()
      assert(readOp() == 5, "expected produceResponse")
    } finally sock.close()
  }

  test("produce leaves no hidden segment; retentionSweep reclaims an aged orphan") {
    val store = new TopicStore(spark, Files.createTempDirectory("graft-orphan").toString)
    concurrentStrings(store, "t", Seq(("a", "a#0", ts(1)), ("b", "b#0", ts(2))))
    assert(hiddenFiles(store).isEmpty, "produce left a hidden segment behind")
    // a crashed writer's orphans in a leaf dir (a task attempt that died
    // after its create): reclaimed only once aged past the 1 h gate
    val leaf = {
      val walk = Files.walk(java.nio.file.Paths.get(store.dataDir))
      try walk.iterator().asScala.find(_.getFileName.toString.startsWith("version=")).get.toFile
      finally walk.close()
    }
    def orphan(name: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(leaf, s".part-$name.zstd.parquet.tmp")
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val aged = orphan("aged", 2L * 3600 * 1000)
    val fresh = orphan("fresh", 0L)
    assert(store.retentionSweep("t", new Timestamp(0L)) == 1)
    assert(!aged.exists() && fresh.exists())
    assert(drainByKey(store, "t", "g") == Map("a" -> Vector("a#0"), "b" -> Vector("b#0")))
  }
}
