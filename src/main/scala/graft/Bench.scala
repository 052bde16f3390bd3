package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * A short untimed warmup (q01) absorbs JVM/codegen startup so the
  * per-query numbers measure the plans, not classloading.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // host-contention evidence, captured INSIDE the record: two rounds of
    // official bench readings were loaded-host artifacts that needed a
    // forensic pass against quiet same-tree runs — the 1-minute system
    // load average at start and end (and the CPU count to normalize by)
    // makes the adjudication mechanical. getSystemLoadAverage is the
    // /proc/loadavg first field; -1.0 where the platform can't say.
    val loadAvgStart =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val spark = Graft.session("graft-bench")

    // dev aids: SPARK_GRAFT_ONLY=q47_ann_ivf,q50_dup_clusters benches a
    // subset and skips the ingest benches; SPARK_GRAFT_ONLY=ingest runs
    // ONLY the ingest benches; unset (driver runs) = full run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // ingest phase FIRST: the engine's produce/poll/stream rates are
    // measured against a fresh broker JVM — after the 90-query analytics
    // phase the heap carries pinned memo checkpoints, shuffle files and
    // fragmentation that throttle the bandwidth-bound write path
    // (measured 104k msgs/s after the query loop vs 194-402k clean —
    // the same figures README's reproducibility notes cite)
    val (prodRate, pollRate, streamRate) =
      if (only.forall(_.contains("ingest")))
        try ingestBench(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] ingest phase failed: ${e.getMessage}")
          (0.0, 0.0, 0.0)
        }
      else (0.0, 0.0, 0.0)
    // wire-path rates (socket in, coalesced durable write, ack out): the
    // honest twin of the store-path number — BASELINE's 250K msgs/s
    // includes HTTP/binary framing and the ack round-trip, which the
    // store-path produce ("bytes in hand") does not
    val (restRate, binRate, groupRate, pageRate) =
      if (only.forall(_.contains("ingest")))
        try wireIngestBench(spark)
        catch { case e: Throwable =>
          System.err.println(s"[bench] wire-path phase failed: ${e.getMessage}")
          (0.0, 0.0, 0.0, 0.0)
        }
      else (0.0, 0.0, 0.0, 0.0)

    // warmup: run EVERY query once at sf0.001 (seconds of work), untimed —
    // compiles each plan's whole-stage codegen and JITs the join/window/
    // explode paths so the timed sf run measures the plans, not the first
    // query's classloading (q05/q06 were absorbing multi-second JIT cost
    // with a single-query warmup). Falls back to the bench dir when the
    // tiny scale is absent.
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    // warmup runs CONCURRENTLY: each query's cost here is plan analysis +
    // codegen JIT, not data (sf0.001), and plans compile independently —
    // 8 threads cut the 80-query warmup from ~8 min to ~1 min of wall
    // clock, keeping the whole bench inside any sane driver timeout.
    // Spark job submission is thread-safe; failures are ignored exactly
    // as in the old sequential loop.
    {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      queries.foreach { case (_, fn) =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try {
              // group-tagged so a timeout can cancel stragglers — leaked
              // warmup jobs would otherwise run concurrently with the
              // timed loop and inflate every per-query number
              spark.sparkContext.setJobGroup("bench-warmup", "bench warmup", true)
              fn(spark, warmDir).count()
              ()
            } catch { case _: Throwable => () }
        })
      }
      pool.shutdown()
      val done = pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        System.err.println("[bench] warmup timed out; cancelling stragglers")
        spark.sparkContext.cancelJobGroup("bench-warmup")
        pool.shutdownNow()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      }
    }
    // touch the bench-scale tables once so the timed loop measures the
    // engine, not the first query's cold page-cache read + footer parse
    // listFiles returns NULL (not empty) for a missing/non-dir path: a
    // typo'd SPARK_GRAFT_SF_DIR would NPE here after the warmup instead
    // of degrading to the per-query -1.0 sentinels
    Option(new java.io.File(sfDir).listFiles(f => f.getName.endsWith(".parquet")))
      .getOrElse(Array.empty).foreach { f =>
        try { spark.read.parquet(f.getPath).count(); () }
        catch { case _: Throwable => () }
      }

    // settle after the concurrent warmup: reclaim its shuffle files /
    // broadcasts (ContextCleaner is GC-driven) before any timer starts —
    // without this the first ~8 timed queries absorb the warmup's
    // collection debt (measured q06 6.9 s in-run vs 1.4 s isolated)
    System.gc(); Thread.sleep(3000)
    // memo-build accounting (r13): the warmup above ran at sf0.001, so
    // every memoized intermediate for THIS sfDir is built inside the
    // timed loop's first runs — where the median-of-3 silently drops it.
    // Snapshot the build counter here and emit the loop's delta as
    // memo_build_sec so the stdout line carries the cost the per-query
    // medians exclude (additions-only; no timing methodology changed).
    val memoNanos0 = operators.DocOps.memoBuildNanos
    var sinceGc = 0
    val results = queries.map { case (name, fn) =>
      // periodic untimed quiesce: each timed query should measure its
      // plan, not the previous queries' accumulated garbage
      if (sinceGc >= 8) { System.gc(); Thread.sleep(500); sinceGc = 0 }
      sinceGc += 1
      // median of 3 back-to-back runs: single-shot numbers on this host
      // swing up to ~2x with memory-bandwidth throttling, which made
      // sub-2x round-over-round moves unattributable (noise vs regression)
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
        }
      }
      name -> (if (times.isEmpty) -1.0 else medianOf(times))
    }

    // The driver records only the LAST 2,000 BYTES of stdout (measured:
    // every BENCH_r*.json has len(tail) == 2000; sbt's "[success]" trailer
    // eats ~75 B of that). The final stdout line must therefore fit in
    // ~1,900 B — a full per-query map stopped fitting at ~150 queries
    // (r4 and r6 both lost their bench data to this). So stdout carries
    // aggregates + the SLOWEST-N per-query entries (filled greedily while
    // the line stays under budget — decoupled from total query count);
    // the full %.3f map goes to stderr and BENCH_FULL.json for humans,
    // regression diffs and the round log.
    // n_queries counts SUCCESSES only, with failures surfaced separately:
    // a run where queries failed (-1.0 sentinels) must not report the
    // same n_queries as a clean run in the driver-recorded stdout line
    lazy val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nQ = results.count(_._2 >= 0)
    val nFailed = results.count(_._2 < 0)
    // Locale.ROOT formatting: the f interpolator follows the JVM default
    // locale, and a comma-decimal locale would emit INVALID JSON here
    def jd(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val loadAvgEnd =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val ncpu = Runtime.getRuntime.availableProcessors
    // `queries` in the stdout line is the SLOWEST-n_reported subset (the
    // driver records only a 2,000-byte stdout tail; the full map lives in
    // BENCH_FULL.json, where n_reported == n_queries) — n_reported makes
    // the truncation self-describing instead of implying full coverage
    val memoBuildSec = (operators.DocOps.memoBuildNanos - memoNanos0) / 1e9
    def line(qs: String, nReported: Int): String =
      s"""{"metric":"total","value":${jd(total, 3)},"unit":"sec","n_queries":$nQ,"n_failed":$nFailed,""" +
        s""""n_reported":$nReported,"memo_build_sec":${jd(memoBuildSec, 3)},""" +
        s""""load_avg_start":${jd(loadAvgStart, 2)},"load_avg_end":${jd(loadAvgEnd, 2)},"ncpu":$ncpu,""" +
        s""""produce_msgs_per_sec":${jd(prodRate, 0)},"poll_msgs_per_sec":${jd(pollRate, 0)},""" +
        s""""stream_produce_msgs_per_sec":${jd(streamRate, 0)},""" +
        s""""rest_produce_msgs_per_sec":${jd(restRate, 0)},""" +
        s""""binary_produce_msgs_per_sec":${jd(binRate, 0)},""" +
        s""""rest_group4_produce_msgs_per_sec":${jd(groupRate, 0)},""" +
        s""""poll_page_msgs_per_sec":${jd(pageRate, 0)},""" +
        s""""msg_bytes":1024,"sf":"$sfDir","queries":$qs}"""
    val fullNames = results
      .map { case (k, v) => "\"" + k + "\":" + jd(v, 3) }
      .mkString("{", ",", "}")
    System.err.println(line(fullNames, nQ))
    // a SPARK_GRAFT_ONLY subset (or ingest-only) run must not clobber the
    // last FULL run's per-query record — that file is the round's bench
    // evidence (an ingest-only recheck once wiped it to an empty map)
    if (only.isEmpty) {
      try {
        val p = java.nio.file.Path.of(sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json")
        java.nio.file.Files.writeString(p, line(fullNames, nQ) + "\n")
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write BENCH_FULL.json: ${e.getMessage}")
      }
    }
    // slowest-first short-key ("qNN":%.2f) entries, greedily while the
    // whole line stays under the 1,900 B stdout budget
    // failed (-1.0) entries are excluded — they must not occupy
    // slowest-N slots (they are already counted in n_failed)
    val budget = 1900
    val slowestFirst = results.filter(_._2 >= 0).sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + jd(v, 2) }
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    for (e <- slowestFirst)
      if (line((kept :+ e).mkString("{", ",", "}"), kept.size + 1).length <= budget)
        kept += e
    val out = line(kept.mkString("{", ",", "}"), kept.size)
    if (out.length > budget)
      System.err.println(s"[bench] WARNING: stdout JSON line is ${out.length} B (> $budget)")
    println(out)
    spark.stop()
  }

  /** Engine ingest/consume throughput at the reference benchmark's shape:
    * 1 KiB messages, partition keys on (per-key ordering enabled — the
    * BASELINE.md ">250K msgs/s with partitionKey" row is the comparable),
    * durable zstd parquet. Rates are msgs/sec end-to-end including offset
    * assignment and commit bookkeeping.
    */
  /** Scratch roots live under java.io.tmpdir (tmpfs on the throttled-disk
    * CI host) and MUST be deleted — tmpfs contents outlive the process, so
    * leaked multi-GB bench roots would eventually exhaust RAM-backed space.
    * Stale roots from crashed runs are swept on entry.
    */
  private def deleteRec(dir: String): Unit = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val p = Path.of(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
    }
  }

  private def sweepStaleBenchRoots(): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Path.of(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    try java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-bench-"))
      .foreach(p => deleteRec(p.toString))
    catch { case _: Exception => () }
  }

  private def ingestBench(spark: SparkSession, sfDir: String): (Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    sweepStaleBenchRoots()
    // the ingest phase runs FIRST in a full bench (fresh broker JVM):
    // running it after the analytics loop measured half the clean rate
    // (pinned memo checkpoints + heap fragmentation on a
    // bandwidth-constrained host)
    val root = java.nio.file.Files.createTempDirectory("graft-bench-ingest").toString
    // 12-broker ring: 48 partitions ~ local[32] (the reference scales the
    // same way — "partitions = brokers x consumer_ranges")
    val store = new engine.TopicStore(spark, root, clusterSize = 12)
    // replicate events up to ~2M messages — the reference benchmark's -n
    val msgs = tools.BenchData.messages(spark, sfDir)
    // materialize before the timer: the reference benchmark pre-generates
    // messages client-side and holds them in client RAM, so the
    // broker-comparable produce cost starts at "bytes in hand" —
    // synthesis (~18 s for 2 GB of padded strings) must not be billed to
    // the engine. The stage lives under java.io.tmpdir (tmpfs on this
    // host — the in-RAM analog of the reference tool's client buffers)
    // and is REPARTITIONED to the core count before writing: events is a
    // single file and crossJoin preserves its one partition, so an
    // unrepartitioned stage would be a single parquet file whose ~2
    // row-group splits cap the produce scan (and everything after it) at
    // 2-way parallelism. The engine's own durable write (shuffle + zstd
    // parquet + watermark commit) stays fully inside the timer.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the stage lives in its OWN tmp root so the produce-phase store (3x
    // 2 GB of topic parquet in RAM-backed tmpfs) can be freed BEFORE the
    // stream phase: leaving it pinned measurably throttles the stream
    // runs on this memory-bandwidth-constrained host (109k vs 246k
    // msgs/s for the identical pipeline)
    val stageRoot = java.nio.file.Files.createTempDirectory("graft-bench-stage").toString
    val stage = s"$stageRoot/input"
    msgs.repartition(cpus).write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
    val stageFiles = staged.inputFiles.length
    val n = staged.count().toDouble

    // warmup: one small untimed produce+poll to a throwaway topic so the
    // write path's JIT/codegen (murmur+ring routing, window offsets,
    // task-side segment writer, commit bookkeeping) compiles
    // before the timer — the reference benchmark tool warms up the same
    // way, and this phase runs on a fresh JVM with nothing pre-compiled.
    val warm = staged.limit(50000)
    store.produce("bench_warm", warm)
    store.registry.register("gw", "cw", Seq("bench_warm"), store.StartFrom.Earliest)
    store.poll("gw", "bench_warm", "cw").count()

    // median of 3 timed runs (fresh topic / fresh group each): this host's
    // memory bandwidth swings ±2x between runs, and a single-shot rate is
    // as likely to sample the trough as the crest — the median is the
    // honest sustained figure (the reference tool likewise reports the
    // steady rate over many batches, not one batch's)
    // cleanup in finally: a mid-phase failure must not pin ~8 GB of
    // RAM-backed tmpfs (topic parquet + stage) through the wire phase and
    // the analytics loop — the throttling condition this file documents
    try {
      val produceSecs = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        store.produce(s"bench$i", staged)
        (System.nanoTime() - t0) / 1e9
      }
      val pollRates = (1 to 3).map { i =>
        store.registry.register(s"g$i", "c", Seq(s"bench$i"), store.StartFrom.Earliest)
        val t1 = System.nanoTime()
        val polled = store.poll(s"g$i", s"bench$i", "c").count().toDouble
        polled / ((System.nanoTime() - t1) / 1e9)
      }
      deleteRec(root)
      val streamRate = streamIngestBench(spark, stage, stageFiles, staged.schema, n)
      (n / medianOf(produceSecs), medianOf(pollRates), streamRate)
    } finally {
      deleteRec(root)
      deleteRec(stageRoot)
    }
  }

  /** Structured Streaming ingest rate: the same staged messages consumed
    * as a file stream in ~4 micro-batches through the checkpointed
    * foreachBatch produce path — the trigger interval playing the
    * coalescer's group-window role. Includes per-batch offset bookkeeping
    * and checkpoint commits, so it is the end-to-end streaming number, not
    * the batch one.
    */
  private def streamIngestBench(
      spark: SparkSession,
      stagePath: String,
      files: Int,
      schema: org.apache.spark.sql.types.StructType,
      n: Double): Double = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", math.max(1, files / 4))
      .parquet(stagePath)
    // median of 3 one-shot streams, each against a FRESH store root that
    // is deleted before the next run — letting runs accumulate each
    // other's 2 GB topics in RAM-backed tmpfs throttles runs 2-3 on this
    // memory-bandwidth-constrained host (same rationale as freeing the
    // produce-phase store before this phase)
    System.gc()
    val rates = (1 to 3).map { i =>
      val root = java.nio.file.Files.createTempDirectory("graft-bench-stream").toString
      val store = new engine.TopicStore(spark, root, clusterSize = 12)
      val topic = new streaming.StreamingTopic(store)
      val t0 = System.nanoTime()
      val q = topic.ingest("bench_stream", src, s"$root/_chk")
      val rate =
        try {
          q.processAllAvailable()
          n / ((System.nanoTime() - t0) / 1e9)
        } finally {
          // stop + delete even on failure: a leaked 2 GB root throttles
          // the remaining runs on this memory-bandwidth-bound host
          try q.stop() catch { case _: Exception => () }
          deleteRec(root)
        }
      // each run's micro-batch shuffles (~2 GB) sit in spark.local.dir
      // (RAM-backed tmpfs here) until the ShuffleDependency is GC'd and
      // the async ContextCleaner removes the files — without this nudge
      // the runs degrade monotonically (measured 237k/147k/92k msgs/s)
      System.gc()
      Thread.sleep(2000)
      System.err.println(f"[bench] stream run $i: ${rate}%.0f msgs/s")
      rate
    }
    medianOf(rates)
  }

  /** Wire-path ingest rates: 1 KiB keyed messages driven through the
    * REAL serving surfaces — socket in, coalescer, durable zstd-parquet
    * write, ack out — the honest comparable for BASELINE's ">250K msgs/s
    * durable keyed produce" row (`docs/benchmarks/README.md:51-52`),
    * which includes HTTP/binary framing and the ack round-trip that the
    * store-path produce ("bytes in hand") does not. Client shape mirrors
    * the reference benchmark tool: concurrent producers, client-side
    * batches (100 × 1 KiB records per NDJSON request / binary produce
    * frame), rotating partition keys. The binary client pipelines frames
    * (bounded in-flight window per connection) exactly as the protocol
    * allows. Returns (rest msgs/s, binary msgs/s).
    *
    * Shape notes: every ack waits for a durable Spark produce job of the
    * coalesced group, so the achievable wire rate is (bytes per flush) /
    * (job latency) — the client concurrency and batch size ARE the
    * throughput knobs, exactly as with any broker whose produce path is
    * a distributed write. 32 blocked REST clients × 1 MiB NDJSON
    * requests fill a ~32 MiB flush; the binary connections pipeline a
    * 64-frame window each. The server's group cap is raised to 64 MiB
    * for the same reason (the reference's MaxGroupSize is a deployment
    * knob too).
    *
    * The third number is the HORIZONTAL plane: the same REST client
    * shape against a 4-broker [[graft.serving.BrokerGroup]], whose
    * per-broker coalescers flush concurrently over disjoint ring
    * partitions (TopicStore.produceLocal on the shared produce plane) —
    * the reference scales
    * produce linearly with brokers, and this is the repo's analog of
    * adding brokers. Returns (rest msgs/s, binary msgs/s,
    * 4-broker-group rest msgs/s, bounded-page poll-drain msgs/s).
    */
  private def wireIngestBench(
      spark: SparkSession,
      requestsPerThread: Int = 8,
      threads: Int = 32,
      recordsPerBatch: Int = 1000): (Double, Double, Double, Double) = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest}
    import java.net.http.HttpResponse.BodyHandlers
    val root = java.nio.file.Files.createTempDirectory("graft-bench-wire").toString
    val store = new engine.TopicStore(spark, root, clusterSize = 12)
    val rest = new serving.RestServer(store, coalesceMs = 20L,
      maxGroupBytes = 64L * 1024 * 1024).start()
    val bin = new serving.BinaryProducerServer(rest.coalescer).start()
    val line = "x" * 1024
    val ndBody = Array.fill(recordsPerBatch)(line).mkString("\n")
    val total = (threads * requestsPerThread * recordsPerBatch).toDouble
    def runThreads(body: Int => Unit): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val futs = (0 until threads).map(tid => pool.submit(new Runnable {
        override def run(): Unit = body(tid)
      }))
      // shutdown in finally: a failed request rethrows from get(), and a
      // skipped shutdown leaks non-daemon pool threads that wedge JVM exit
      try futs.foreach(_.get())
      finally { pool.shutdownNow(); () }
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val base = s"http://localhost:${rest.boundPort}"
      // REST NDJSON path (one warmup request per thread absorbs client +
      // handler init)
      def post(client: HttpClient, topic: String, key: String): Unit = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(
            s"$base/v1/topic/$topic/messages?partitionKey=$key"))
            .POST(HttpRequest.BodyPublishers.ofString(ndBody))
            .header("Content-Type", "application/x-ndjson").build(),
          BodyHandlers.ofString())
        if (r.statusCode() != 200)
          throw new IllegalStateException(s"wire produce: HTTP ${r.statusCode()}")
      }
      runThreads { tid =>
        post(HttpClient.newHttpClient(), "wire_warm", s"w$tid")
      }
      val restSecs = runThreads { tid =>
        val client = HttpClient.newHttpClient()
        for (i <- 0 until requestsPerThread)
          post(client, "wire_rest", s"k$tid-${i % 64}")
      }
      val restRate = total / restSecs
      System.err.println(f"[bench] rest wire produce: $restRate%.0f msgs/s")

      // binary framed path: pipelined produce frames, bounded in-flight
      val binSecs = runThreads { tid =>
        val sock = new java.net.Socket("localhost", bin.boundPort)
        sock.setTcpNoDelay(true)
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(sock.getOutputStream))
        val in = new java.io.DataInputStream(sock.getInputStream)
        def frame(streamId: Int, op: Int, flags: Int, body: Array[Byte]): Unit = {
          out.write(tools.BenchData.frameHeader(streamId, op, flags, body.length))
          out.write(body)
        }
        def skipFrame(): Unit = {
          val (op, len) = tools.BenchData.readFrameHeader(in)
          if (op == 3) throw new IllegalStateException("binary produce errored")
          in.skipNBytes(len.toLong)
        }
        frame(0, 1, 0, Array.emptyByteArray); out.flush() // startup
        skipFrame() // ready
        val lineBytes = line.getBytes("UTF-8")
        def produceBody(key: String): Array[Byte] = {
          val buf = new java.io.ByteArrayOutputStream()
          val d = new java.io.DataOutputStream(buf)
          val k = key.getBytes("UTF-8"); d.writeByte(k.length); d.write(k)
          val t = "wire_bin".getBytes("UTF-8"); d.writeByte(t.length); d.write(t)
          (0 until recordsPerBatch).foreach { _ =>
            d.writeInt(lineBytes.length); d.write(lineBytes)
          }
          buf.toByteArray
        }
        // 8 × 1 MiB frames in flight per connection (× 32 connections ≈
        // 256 MiB of pipelined bodies) — deep enough to keep every flush
        // window full without multi-GB client buffers
        val inflight = new java.util.concurrent.Semaphore(8)
        // a reader that dies on an error frame (or a dropped socket)
        // must FAIL the bench, not wedge it: without the flood-release
        // the writer would block forever on inflight.acquire()
        val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]
        val reader = new Thread(() => {
          try {
            var acked = 0
            while (acked < requestsPerThread) { skipFrame(); inflight.release(); acked += 1 }
          } catch { case t: Throwable =>
            readerFailure.set(t)
            inflight.release(Int.MaxValue / 2)
          }
        }, s"graft-bench-bin-reader-$tid")
        reader.start()
        for (i <- 0 until requestsPerThread) {
          inflight.acquire()
          if (readerFailure.get() != null)
            throw new IllegalStateException("binary wire bench reader failed", readerFailure.get())
          frame(i % 32768, 4, 0, produceBody(s"k$tid-${i % 64}"))
          if (i % 8 == 7) out.flush()
        }
        out.flush()
        reader.join()
        if (readerFailure.get() != null)
          throw new IllegalStateException("binary wire bench reader failed", readerFailure.get())
        sock.close()
      }
      val binRate = total / binSecs
      System.err.println(f"[bench] binary wire produce: $binRate%.0f msgs/s")

      // horizontal plane: 4 brokers over the SAME store, clients sprayed
      // over all broker ports; the router re-homes every request to its
      // key's owning coalescer, so the 4 flush loops stay
      // partition-disjoint and their produce jobs overlap
      val grp = new serving.BrokerGroup(store, brokers = 4, coalesceMs = 20L,
        maxGroupBytes = 64L * 1024 * 1024).start()
      val groupRate =
        try {
          def postGrp(client: HttpClient, port: Int, topic: String, key: String): Unit = {
            val r = client.send(
              HttpRequest.newBuilder(URI.create(
                s"http://localhost:$port/v1/topic/$topic/messages?partitionKey=$key"))
                .POST(HttpRequest.BodyPublishers.ofString(ndBody))
                .header("Content-Type", "application/x-ndjson").build(),
              BodyHandlers.ofString())
            if (r.statusCode() != 200)
              throw new IllegalStateException(s"group wire produce: HTTP ${r.statusCode()}")
          }
          runThreads { tid =>
            postGrp(HttpClient.newHttpClient(),
              grp.servers(tid % 4).boundPort, "wire_gwarm", s"w$tid")
          }
          val grpSecs = runThreads { tid =>
            val client = HttpClient.newHttpClient()
            for (i <- 0 until requestsPerThread)
              postGrp(client, grp.servers(tid % 4).boundPort, "wire_group", s"k$tid-${i % 64}")
          }
          total / grpSecs
        } finally grp.stop()
      System.err.println(f"[bench] rest wire produce via 4-broker group: $groupRate%.0f msgs/s")

      // serving-consume rate: drain the binary-produced topic with
      // BOUNDED pages — the driver-side segment-read path a real
      // consumer's poll loop rides (scanPageLocal; no Spark job per
      // page). Page shape: 512 records / 512 KiB per partition.
      store.registry.register("wirec", "c", Seq("wire_bin"), store.StartFrom.Earliest)
      val t0 = System.nanoTime()
      var drained = 0L
      var idle = 0
      while (idle < 3) {
        val n = store.poll("wirec", "wire_bin", "c",
          maxRecords = 512L, maxBytes = 512L * 1024).collect().length
        drained += n
        if (n == 0) idle += 1 else idle = 0
      }
      val pageRate = drained / ((System.nanoTime() - t0) / 1e9)
      System.err.println(f"[bench] bounded-page poll drain: $pageRate%.0f msgs/s ($drained msgs)")
      (restRate, binRate, groupRate, pageRate)
    } finally {
      bin.stop(); rest.stop(); deleteRec(root)
    }
  }

  /** Middle of the sorted sample (upper middle when even); used by the
    * ingest phases and the per-query loop.
    */
  private def medianOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
}
