package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TopicStore

/** Engine roundtrip specs mirroring the reference's integration suite
  * (`internal/test/integration/roundtrip_test.go`): produce with the
  * fixture partition keys "123"/"567"/"234", poll, assert delivery order,
  * offsets, fan-out and start-policy semantics.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("engine-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def freshStore(): TopicStore =
    new TopicStore(spark, Files.createTempDirectory("graft-engine").toString)

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("produce/poll roundtrip: per-key order + contiguous offsets") {
    val store = freshStore()
    val rows = (0 until 30).map { i =>
      (Seq("123", "567", "234")(i % 3), s"msg-$i", ts(i))
    }
    store.produceStrings("events", rows)

    store.registry.register("g1", "c1", Seq("events"), store.StartFrom.Earliest)
    val polled = store.poll("g1", "events", "c1").collect()
    assert(polled.length == 30)

    // per-key delivery order == produce (timestamp) order
    val byKey = polled
      .map(r => (r.getAs[String]("key"), new String(r.getAs[Array[Byte]]("value")),
        r.getAs[Long]("offset"), r.getAs[Int]("part")))
      .groupBy(_._1)
    assert(byKey.keySet == Set("123", "567", "234"))
    byKey.foreach { case (key, msgs) =>
      val inOffsetOrder = msgs.sortBy(_._3).map(_._2)
      val inProduceOrder = (0 until 30)
        .filter(i => Seq("123", "567", "234")(i % 3) == key).map(i => s"msg-$i")
      assert(inOffsetOrder.toSeq == inProduceOrder, s"key $key out of order")
      // same key always lands in the same partition
      assert(msgs.map(_._4).distinct.length == 1)
    }

    // offsets contiguous from 0 within each partition
    polled.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
      val offs = rs.map(_.getAs[Long]("offset")).sorted
      assert(offs.head == 0L && offs.last == offs.length - 1L, s"part $p gaps: ${offs.toSeq}")
    }
  }

  test("offsets continue across produce batches") {
    val store = freshStore()
    store.produceStrings("t", Seq(("a", "1", ts(0)), ("a", "2", ts(1))))
    store.produceStrings("t", Seq(("a", "3", ts(2))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val out = store.poll("g", "t", "c").collect()
      .map(r => (new String(r.getAs[Array[Byte]]("value")), r.getAs[Long]("offset")))
      .sortBy(_._2)
    assert(out.toSeq == Seq(("1", 0L), ("2", 1L), ("3", 2L)))
  }

  test("nondeterministic input plans keep watermarks consistent with written rows") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    import spark.implicits._
    val base = (0 until 400)
      .map(i => (s"k${i % 13}", s"v$i", ts(i)))
      .toDF("key", "svalue", "timestamp")
      .withColumn("value", encode(col("svalue"), "UTF-8"))
      .select("key", "value", "timestamp")
    // unseeded rand(): every execution of this plan selects a different
    // subset — a count job separate from the write would drift the
    // watermark off the written rows (the produce path must pin the batch)
    // two operator-level nondeterminism shapes: an unseeded rand() filter
    // (expression) and sample+limit (Sample/Limit nodes carry NO
    // nondeterministic expression but select execution-order-dependent
    // subsets) — both must pin the batch before counting
    val nondet = base.where(rand() < 0.5)
    store.produce("nd", nondet)
    store.produce("nd", nondet)
    store.produce("nd", base.sample(0.6).limit(150))

    val written = spark.read.parquet(store.dataDir)
      .where(col("topic") === "nd")
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1L).as("next"))
      .as[(Int, Long, Long)].collect()
    val high = store.producerOffsets("nd")
    written.foreach { case (p, n, next) =>
      assert(n == next, s"part $p: ${next - n} offset gaps/dups across batches")
      assert(high.getOrElse(p, 0L) == next,
        s"part $p watermark ${high.getOrElse(p, 0L)} != written next offset $next")
    }
    assert(high.filter(_._2 > 0).keySet == written.map(_._1).toSet)
  }

  test("concurrent produce from multiple threads keeps offsets contiguous") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    import spark.implicits._
    // four threads racing produce() on the SAME topic — the store-level
    // lock must serialize the watermark read-modify-write regardless of
    // which channel (REST coalescer, streaming foreachBatch, direct API)
    // the batches come from
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val batch = (0 until 25)
          .map(i => (s"k${i % 5}", s"t$t-m$i", ts(t * 100 + i)))
          .toDF("key", "svalue", "timestamp")
          .withColumn("value", encode(col("svalue"), "UTF-8"))
          .select("key", "value", "timestamp")
        store.produce("conc", batch)
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))

    val byPart = spark.read.parquet(store.dataDir)
      .where(col("topic") === "conc")
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n"), (max(col("offset")) + 1L).as("next"),
        countDistinct(col("offset")).as("uniq"))
      .as[(Int, Long, Long, Long)].collect()
    assert(byPart.map(_._2).sum == 100L)
    byPart.foreach { case (p, n, next, uniq) =>
      assert(n == uniq, s"part $p: duplicate offsets")
      assert(n == next, s"part $p: offset gaps (count $n vs next $next)")
    }
  }

  test("auto-commit advances; manual re-poll is at-least-once") {
    val store = freshStore()
    store.produceStrings("t", (0 until 10).map(i => ("k" + i % 2, s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)

    val first = store.poll("g", "t", "c").collect()
    assert(first.length == 10)
    // committed -> nothing new
    assert(store.poll("g", "t", "c").collect().isEmpty)
    // new produce -> only the new records
    store.produceStrings("t", Seq(("k0", "new", ts(99))))
    val second = store.poll("g", "t", "c").collect()
    assert(second.map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq == Seq("new"))
  }

  test("two consumers get disjoint covering assignments") {
    val store = freshStore()
    store.registry.register("g", "c-a", Seq("t"), store.StartFrom.Earliest)
    store.registry.register("g", "c-b", Seq("t"), store.StartFrom.Earliest)
    val a = store.registry.assignment("g", "c-a", "t")
    val b = store.registry.assignment("g", "c-b", "t")
    assert((a ++ b).sorted == (0 until 12))
    assert(a.intersect(b).isEmpty)
    assert(math.abs(a.size - b.size) <= 0)

    store.produceStrings("t", (0 until 40).map(i => (s"key-$i", s"m$i", ts(i))))
    val pa = store.poll("g", "t", "c-a").collect()
    val pb = store.poll("g", "t", "c-b").collect()
    assert(pa.length + pb.length == 40)
    assert(pa.map(_.getAs[Int]("part")).toSet.intersect(pb.map(_.getAs[Int]("part")).toSet).isEmpty)
  }

  test("startFromLatest sees only post-registration records") {
    val store = freshStore()
    store.produceStrings("t", Seq(("a", "old", ts(0))))
    store.registry.register("g", "c", Seq("t")) // default Latest
    store.produceStrings("t", Seq(("a", "new", ts(1))))
    val out = store.poll("g", "t", "c").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(out.toSeq == Seq("new"))
  }

  test("pollJson emits the reference delivery shape") {
    val store = freshStore()
    store.produceStrings("t", Seq(("a", "v1", ts(0)), ("a", "v2", ts(1))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val json = store.pollJson("g", "t", "c").collect().map(_.getString(0))
    assert(json.length == 1)
    val j = json.head
    assert(j.contains("\"topic\":\"t\"") && j.contains("\"rangeIndex\":"))
    assert(j.contains("\"startOffset\":\"0\""))
    assert(j.contains("\"values\":[\"v1\",\"v2\"]")) // produce order
  }

  test("range projection: scale-up splits, scale-down joins") {
    import graft.core.TokenRing._
    // 3 -> 6 brokers: each range of broker 0 maps into broker {0,3}'s space
    for (r <- 0 until 4) {
      val proj = projectRange(tokenAtIndex(3, 0), r, 4, 3, 6)
      val totalNewRanges = proj.map(_._2.size).sum
      assert(totalNewRanges >= 1 && totalNewRanges <= 3, s"r=$r got $proj")
      // projected ranges must cover the original bounds
      val (lo, hi) = rangeBounds(tokenAtIndex(3, 0), r, 4, 3)
      val newBounds = proj.flatMap { case (t, idxs) => idxs.map(i => rangeBounds(t, i, 4, 6)) }
      assert(newBounds.head._1 <= lo && newBounds.last._2 >= hi)
    }
    // 6 -> 3: projection of sibling ranges folds into one range
    val down = projectRange(tokenAtIndex(6, 1), 0, 4, 6, 3)
    assert(down.map(_._1).distinct.size == 1) // lands in a single broker
  }

  test("retention sweep deletes only fully-expired files") {
    val store = freshStore()
    store.produceStrings("t", Seq(("a", "old1", ts(0)), ("b", "old2", ts(1))))
    store.produceStrings("t", Seq(("a", "fresh", ts(1000))))
    val deleted = store.retentionSweep("t", ts(500))
    assert(deleted > 0)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val left = store.poll("g", "t", "c").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(left.toSeq == Seq("fresh"))
  }

  test("edge cases: empty produce batch, poll of unknown topic, compact of missing topic") {
    val store = freshStore()
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("key", StringType), StructField("value", BinaryType),
        StructField("timestamp", TimestampType))))
    assert(store.produce("t", empty) == 0L)
    store.registry.register("g", "c", Seq("missing"), store.StartFrom.Earliest)
    assert(store.poll("g", "missing", "c").isEmpty)
    assert(store.compact("nope") == 0)
    assert(store.lag("g", "missing").isEmpty)

    // a store that never produced anything: every surface answers empty
    val virgin = freshStore()
    virgin.registry.register("g", "c", Seq("t"), virgin.StartFrom.Earliest)
    assert(virgin.poll("g", "t", "c").isEmpty)
    assert(virgin.retentionSweep("t", ts(0)) == 0)
    assert(virgin.sweepStaleGenerations("t") == 0)
    assert(virgin.producerOffsets("t").isEmpty)
  }

  test("lag reports high-watermark minus committed and drains to zero") {
    val store = freshStore()
    store.produceStrings("t", (0 until 10).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.lag("g", "t").values.sum == 10L) // nothing consumed yet
    store.poll("g", "t", "c").collect()           // auto-commits
    assert(store.lag("g", "t").values.sum == 0L)
    store.produceStrings("t", Seq(("k0", "late", ts(100))))
    assert(store.lag("g", "t").values.sum == 1L)
  }

  test("non-default rangesPerToken roundtrips with contiguous offsets") {
    val store = new TopicStore(spark,
      Files.createTempDirectory("graft-engine-rpt").toString,
      clusterSize = 2, rangesPerToken = 2)
    store.produceStrings("t", (0 until 12).map(i => (s"k${i % 5}", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 12)
    assert(polled.map(_.getAs[Int]("part")).forall(p => p >= 0 && p < 4))
    polled.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
      val offs = rs.map(_.getAs[Long]("offset")).sorted
      assert(offs.toSeq == (0L until offs.length.toLong), s"part $p gaps")
    }
  }

  test("dev mode: single-broker store roundtrips with per-key order") {
    // the reference's dev-mode (clusterSize=1) has special-cased ring math
    // (`token.go:120-131`, `dev_mode_test.go`); exercise ours end-to-end
    val store = new TopicStore(spark,
      Files.createTempDirectory("graft-engine-dev").toString, clusterSize = 1)
    val rows = (0 until 12).map(i => (s"k${i % 3}", s"m$i", ts(i)))
    store.produceStrings("t", rows)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 12)
    polled.groupBy(_.getAs[String]("key")).foreach { case (key, msgs) =>
      val got = msgs.sortBy(_.getAs[Long]("offset"))
        .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq
      val want = (0 until 12).filter(i => s"k${i % 3}" == key).map(i => s"m$i")
      assert(got == want, s"key $key out of order in dev mode")
    }
  }

  test("rescale 3 -> 6 brokers is metadata-only: zero data files move, order keeps") {
    val store = freshStore()
    val keys = Seq("123", "567", "234", "89", "alpha")
    val rows = (0 until 40).map(i => (keys(i % keys.size), s"m$i", ts(i)))
    store.produceStrings("t", rows)

    // an untouched second topic stays on generation 1
    store.produceStrings("t2", Seq(("x", "other-topic", ts(0))))

    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store.dataDir))
        .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    }
    val before = dataFiles()

    val gen2 = store.rescale("t", 6)
    assert(gen2 == graft.engine.Generation(2, 6))
    assert(store.generation("t").version == 2)
    assert(store.generations("t") ==
      Seq(graft.engine.Generation(1, 3), graft.engine.Generation(2, 6)))
    assert(store.generation("t2") == graft.engine.Generation(1, 3))

    // THE zero-copy property: a ring change moves no data — the exact
    // same parquet files exist after the flip (the old implementation
    // rewrote the topic's full history; at 100 TB that was a full-topic
    // shuffle + rewrite per ring change)
    assert(dataFiles() == before, "rescale must not create or move data files")

    store.registry.register("g2", "c2", Seq("t2"), store.StartFrom.Earliest)
    assert(store.poll("g2", "t2", "c2").count() == 1L)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 40)

    // the history is served from its BIRTH generation (v1, old ring)...
    assert(polled.map(_.getAs[Int]("version")).distinct.toSeq == Seq(1))
    // ...while a new produce lands in generation 2 under the 6-broker ring
    store.produceStrings("t", Seq(("123", "m40", ts(100))))
    val fresh = store.poll("g", "t", "c").collect()
    assert(fresh.length == 1 && fresh.head.getAs[Int]("version") == 2)
    assert(fresh.head.getAs[Long]("offset") == 0L, "offsets restart per generation")

    // per-key order equals produce order within the ancestor generation
    polled.map(r => (r.getAs[String]("key"), new String(r.getAs[Array[Byte]]("value")),
        r.getAs[Long]("offset"), r.getAs[Int]("part")))
      .groupBy(_._1).foreach { case (key, msgs) =>
        val inOffsetOrder = msgs.sortBy(m => (m._4, m._3)).map(_._2)
        val inProduceOrder = (0 until 40)
          .filter(i => keys(i % keys.size) == key).map(i => s"m$i")
        assert(inOffsetOrder.toSeq == inProduceOrder, s"key $key out of order")
        assert(msgs.map(_._4).distinct.length == 1) // one partition per key
      }

    // offsets contiguous from 0 per (generation, partition)
    polled.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
      val offs = rs.map(_.getAs[Long]("offset")).sorted
      assert(offs.toSeq == (0L until offs.length.toLong), s"part $p offsets: ${offs.toSeq}")
    }
  }

  test("rescale retry after a crashed copy leaves no duplicate records") {
    // simulate a rescale that died mid-copy: v2 dirs exist with partial
    // data, but the generation pointer still says v1. The retry must
    // clear the partial v2 (data + watermark scope) before re-copying —
    // otherwise it appends after the partial copy's watermarks and
    // every partially-copied record is delivered twice.
    val root = Files.createTempDirectory("graft-crash").toString
    val store = new TopicStore(spark, root)
    val keys = Seq("123", "567", "234")
    val rows = (0 until 24).map(i => (keys(i % 3), s"m$i", ts(i)))
    store.produceStrings("t", rows)

    // fake the partial copy by cloning every version=1 dir to version=2
    // (a superset of any real partial state: the worst case for a retry)
    val topicDir = new java.io.File(s"$root/data/topic=t")
    def cloneV1(dir: java.io.File): Unit = dir.listFiles().foreach { f =>
      if (f.isDirectory && f.getName == "version=1") {
        val dst = new java.io.File(f.getParentFile, "version=2")
        dst.mkdirs()
        f.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
          Files.copy(pf.toPath, new java.io.File(dst, pf.getName).toPath)
        }
      } else if (f.isDirectory) cloneV1(f)
    }
    cloneV1(topicDir)

    val gen2 = store.rescale("t", 6)
    assert(gen2.version == 2)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 24, s"expected 24 records, got ${polled.length}")
    polled.groupBy(_.getAs[String]("key")).foreach { case (key, msgs) =>
      val got = msgs.sortBy(_.getAs[Long]("offset"))
        .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq
      val want = (0 until 24).filter(i => keys(i % 3) == key).map(i => s"m$i")
      assert(got == want, s"key $key order broken after crash-retry rescale")
    }
  }

  test("a Latest snapshot taken before a rescale never skips new-generation records") {
    val store = freshStore()
    store.produceStrings("t", (0 until 10).map(i => (s"k$i", s"old$i", ts(i))))
    // Latest group registers under gen 1: snapshot = gen-1 watermarks
    store.registry.register("g", "c", Seq("t"))
    store.rescale("t", 6) // gen 2: offsets restart at 0 per partition
    store.produceStrings("t", Seq(("k0", "new", ts(100))))
    val got = store.poll("g", "t", "c").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    // the stale snapshot must degrade to re-read (at-least-once), never to
    // skipping: "new" MUST be delivered
    assert(got.contains("new"), s"new-generation record skipped: ${got.toSeq}")
  }

  test("double rescale 3 -> 6 -> 3 keeps every record and per-key order") {
    val store = freshStore()
    val keys = Seq("123", "567", "234", "89")
    val rows = (0 until 24).map(i => (keys(i % keys.size), s"m$i", ts(i)))
    store.produceStrings("t", rows)
    store.rescale("t", 6)
    store.rescale("t", 3)
    assert(store.generation("t") == graft.engine.Generation(3, 3))
    // generation 2 never received a record — chain hygiene drops it at
    // the second flip (versions stay monotone: 1 then 3)
    assert(store.generations("t").map(_.version) == Seq(1, 3))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 24)
    // the records stayed where they were born (metadata-only rescale)
    assert(polled.map(_.getAs[Int]("version")).distinct.toSeq == Seq(1))
    polled.map(r => (r.getAs[String]("key"), new String(r.getAs[Array[Byte]]("value")),
        r.getAs[Long]("offset"), r.getAs[Int]("part")))
      .groupBy(_._1).foreach { case (key, msgs) =>
        val got = msgs.sortBy(m => (m._4, m._3)).map(_._2)
        val want = (0 until 24).filter(i => keys(i % keys.size) == key).map(i => s"m$i")
        assert(got.toSeq == want, s"key $key order broken after double rescale")
      }
    // Graft.topic spans the live lineage: all records, exactly once
    assert(Graft.topic(spark, store.root, "t").count() == 24L)
  }

  test("maintenance write lock excludes readers; readers share") {
    val store = freshStore()
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // a reader holds the topic read lock...
    val reader = new Thread(() => store.withTopicReads("t") {
      started.countDown()
      release.await(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    })
    reader.start()
    assert(started.await(5, java.util.concurrent.TimeUnit.SECONDS))
    // ...a second reader still enters (shared)...
    @volatile var secondReader = false
    store.withTopicReads("t") { secondReader = true }
    assert(secondReader)
    // ...and maintenance on the SAME topic blocks until the reader leaves,
    // while another topic's maintenance proceeds immediately
    @volatile var maintDone = false
    val maint = new Thread(() => store.withTopicMaintenance("t") { maintDone = true })
    maint.start()
    store.withTopicMaintenance("other") { () } // independent lock: no block
    Thread.sleep(200)
    assert(!maintDone, "maintenance must wait for the in-flight reader")
    release.countDown()
    maint.join(5000)
    assert(maintDone, "maintenance must proceed once readers drain")
    reader.join(5000)
  }

  test("topology watcher rescales on broker-count change, normalized to 3*2^n") {
    // C5 fixed-topology discovery (`discoverer.go:252-296`): the watcher
    // polls a broker-names file; a count change rescales, a change that
    // normalizes onto the current ring size does nothing
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => (s"k$i", s"m$i", ts(i))))
    val topo = Files.createTempFile("graft-topology", ".txt")
    Files.writeString(topo, "b0,b1,b2") // 3 names = current ring, no-op
    val watcher = graft.engine.TopologyWatcher.forFile(store, topo.toString, pollDelayMs = 100L)
    val handle = watcher.start()
    try {
      Thread.sleep(400)
      assert(store.generation("t").version == 1, "same count must not rescale")
      // 7 names normalize to 6 (utils_test.go vector) -> one rescale to 6
      Files.writeString(topo, "b0 b1 b2 b3 b4 b5 b6")
      val deadline = System.currentTimeMillis() + 20000
      while (store.generation("t").version < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(store.generation("t") == graft.engine.Generation(2, 6),
        s"expected rescale to 6, got ${store.generation("t")} (err=${watcher.lastFailure})")
      // records survive the topology change
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      assert(store.poll("g", "t", "c").count() == 12L)
      // a second write normalizing onto the SAME size (6 names) is a no-op
      Files.writeString(topo, "b0,b1,b2,b3,b4,b5")
      Thread.sleep(400)
      assert(store.generation("t").version == 2, "normalized-equal count must not rescale")
    } finally handle.close()
  }

  test("topology watcher over a pluggable replica supplier scales up and down") {
    // C5 generic loop (`discoverer.go:99-164`): the watcher consumes a
    // desired-replicas FEED — the file poller and the reference's K8s
    // StatefulSet watch are just suppliers. A fake supplier drives
    // scale-up, a normalization no-op, and scale-down, stepped explicitly
    // through pollOnce so the test needs no sleeps.
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => (s"k$i", s"m$i", ts(i))))
    assert(store.generation("t") == graft.engine.Generation(1, 3))
    val desired = new java.util.concurrent.atomic.AtomicInteger(-1)
    val events = scala.collection.mutable.ArrayBuffer[(String, graft.engine.Generation)]()
    val watcher = new graft.engine.TopologyWatcher(
      store,
      () => if (desired.get() < 0) None else Some(desired.get()),
      onRescale = (t, g) => events.synchronized { events += ((t, g)); () })
    watcher.pollOnce() // no signal yet -> no-op
    assert(store.generation("t").version == 1)
    desired.set(12) // scale up: 12 = 3·2² is already a valid ring size
    watcher.pollOnce()
    assert(store.generation("t") == graft.engine.Generation(2, 12),
      s"expected scale-up to 12, got ${store.generation("t")} (err=${watcher.lastFailure})")
    desired.set(13) // 13 normalizes DOWN to 12 -> no rescale
    watcher.pollOnce()
    assert(store.generation("t").version == 2, "normalized-equal count must not rescale")
    desired.set(6) // scale down: 6-ring
    watcher.pollOnce()
    assert(store.generation("t") == graft.engine.Generation(3, 6),
      s"expected scale-down to 6, got ${store.generation("t")} (err=${watcher.lastFailure})")
    assert(events.toSeq == Seq(("t", graft.engine.Generation(2, 12)),
      ("t", graft.engine.Generation(3, 6))))
    // records survive both topology changes
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g", "t", "c").count() == 12L)
  }

  test("k8s StatefulSet payloads parse with the reference's edge semantics") {
    // recorded-payload drive of the K8s feed (`k8s_client.go:80-105`):
    // no live cluster — the parser sees exactly what
    // `kubectl get statefulset -l app.kubernetes.io/name=x -o json`
    // returns. Reference semantics: absent spec.replicas defaults to 1,
    // zero replicas is an error, no matching StatefulSet is an error
    // (both are no-signal skips in the poll loop).
    import graft.engine.TopologyWatcher.parseStatefulSetReplicas
    def stsList(items: String) = s"""{"kind":"StatefulSetList","apiVersion":"apps/v1","items":[$items]}"""
    val sts6 = """{"kind":"StatefulSet","metadata":{"name":"graft","labels":{"app.kubernetes.io/name":"graft"}},"spec":{"replicas":6,"serviceName":"graft"}}"""
    assert(parseStatefulSetReplicas(stsList(sts6)) == Some(6))
    // single-object payload (kubectl get sts/<name> -o json) binds too
    assert(parseStatefulSetReplicas(sts6) == Some(6))
    // nil replicas -> 1 (the reference's default)
    assert(parseStatefulSetReplicas(
      stsList("""{"kind":"StatefulSet","spec":{"serviceName":"graft"}}""")) == Some(1))
    // zero replicas -> error/no-signal (refuse to scale to nothing)
    assert(parseStatefulSetReplicas(
      stsList("""{"kind":"StatefulSet","spec":{"replicas":0}}""")) == None)
    // empty list -> "No statefulset found" -> no-signal
    assert(parseStatefulSetReplicas(stsList("")) == None)
    // malformed payload -> no-signal
    assert(parseStatefulSetReplicas("""{"kind":""") == None)
    assert(parseStatefulSetReplicas("not json at all") == None)
  }

  test("k8s command supplier drives a rescale from a recorded payload") {
    // the command path end-to-end without kubectl: `cat <payload>` stands
    // in for the API call; a failing command (missing file) is no-signal
    // and the poll loop continues, like the reference's watch backoff.
    val store = freshStore()
    store.produceStrings("t", (0 until 6).map(i => (s"k$i", s"m$i", ts(i))))
    assert(store.generation("t") == graft.engine.Generation(1, 3))
    val payload = java.nio.file.Files.createTempFile("graft-k8s", ".json")
    java.nio.file.Files.writeString(payload,
      """{"kind":"StatefulSetList","items":[{"spec":{"replicas":6}}]}""")
    val supplier = graft.engine.TopologyWatcher.commandReplicas(
      Seq("cat", payload.toString))
    assert(supplier() == Some(6))
    val watcher = new graft.engine.TopologyWatcher(store, supplier)
    watcher.pollOnce()
    assert(store.generation("t") == graft.engine.Generation(2, 6),
      s"expected k8s-driven scale-up, got ${store.generation("t")} (err=${watcher.lastFailure})")
    // command failure (deleted payload) = no-signal: topology holds
    java.nio.file.Files.delete(payload)
    watcher.pollOnce()
    assert(store.generation("t").version == 2, "failed command must not rescale")
    // records survive the k8s-driven change
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g", "t", "c").count() == 6L)
  }

  test("register-after-two-rescales reads every ancestor generation from offset 0") {
    // R7 full semantics (the reference BFS-walks ParentRanges to the
    // earliest ancestor, `offset_state.go:260-302`): data produced under
    // THREE different generations must all be served to an Earliest group
    // registered only after the chained rescales, from offset 0,
    // per-partition contiguous.
    val store = freshStore()
    store.produceStrings("t", (0 until 10).map(i => (s"k${i % 3}", s"g1-$i", ts(i))))
    store.rescale("t", 6)
    store.produceStrings("t", (0 until 10).map(i => (s"k${i % 3}", s"g2-$i", ts(100 + i))))
    store.rescale("t", 3)
    store.produceStrings("t", (0 until 10).map(i => (s"k${i % 3}", s"g3-$i", ts(200 + i))))

    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 30, s"expected all 3 generations' records, got ${polled.length}")
    // each record is served from its birth generation, offsets contiguous
    // from 0 per (generation, partition)
    assert(polled.map(_.getAs[Int]("version")).distinct.sorted.toSeq == Seq(1, 2, 3))
    polled.groupBy(r => (r.getAs[Int]("version"), r.getAs[Int]("part"))).foreach {
      case ((v, p), rs) =>
        val offs = rs.map(_.getAs[Long]("offset")).sorted
        assert(offs.toSeq == (0L until offs.length.toLong),
          s"gen $v part $p offsets: ${offs.toSeq}")
    }
    // per-key order across the generation boundaries follows produce
    // order when consumed in (version, part, offset) order — the
    // lineage delivery contract
    polled.groupBy(_.getAs[String]("key")).foreach { case (key, msgs) =>
      val got = msgs
        .sortBy(r => (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset")))
        .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq
      val want = (for (g <- 1 to 3; i <- 0 until 10 if s"k${i % 3}" == key) yield s"g$g-$i").toSeq
      assert(got == want, s"key $key order across generations: $got")
    }
  }

  test("flapping rescales do not grow the chain: empty stateless generations drop") {
    // a flapping topology feed rescales repeatedly with no produce in
    // between; without chain hygiene every flip would append another
    // empty generation and each poll's lineage walk would grow without
    // bound. Record-free, state-free generations drop at the flip;
    // version numbers stay monotone.
    val store = freshStore()
    store.produceStrings("t", (0 until 8).map(i => (s"k$i", s"m$i", ts(i))))
    store.rescale("t", 6)
    store.rescale("t", 12)
    store.rescale("t", 3)
    store.rescale("t", 6)
    // only the data-bearing generation and the current one survive
    assert(store.generations("t") ==
      Seq(graft.engine.Generation(1, 3), graft.engine.Generation(5, 6)),
      s"chain grew: ${store.generations("t")}")
    // nothing lost, everything exactly once
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 8)
    assert(polled.map(_.getAs[Int]("version")).distinct.toSeq == Seq(1))
    // a record-bearing generation is always kept across further flips
    store.produceStrings("t", Seq(("k0", "g5", ts(100))))
    assert(store.poll("g", "t", "c").count() == 1L) // commits under v5
    store.rescale("t", 3)
    assert(store.generations("t").map(_.version) == Seq(1, 5, 6),
      s"record-bearing generation dropped: ${store.generations("t")}")
    // and an ADMIN-committed scope alone (no records) also pins its
    // generation: a group's committed positions must never dangle
    store.commit("g", "t", Map(0 -> 0L), origin = "", version = 6)
    store.rescale("t", 6)
    assert(store.generations("t").map(_.version) == Seq(1, 5, 6, 7),
      s"state-bearing generation dropped: ${store.generations("t")}")
  }

  test("produce racing a rescale never strands records in the old generation") {
    // rescale holds the produce plane exclusively across its flip, so a
    // concurrent produce lands either wholly before the flip (in the old,
    // still-live generation) or after it (in the new generation) — never
    // in a generation the flip has already superseded
    val store = freshStore()
    store.produceStrings("t", (0 until 20).map(i => (s"k$i", s"pre$i", ts(i))))
    val rescaler = new Thread(() => { store.rescale("t", 6); () })
    rescaler.start()
    for (b <- 0 until 3)
      store.produceStrings("t",
        (0 until 5).map(i => (s"rk$b-$i", s"mid$b-$i", ts(100 + b * 10 + i))))
    rescaler.join(180000)
    assert(!rescaler.isAlive, "rescale wedged")
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 35, s"expected all 35 records visible, got ${polled.length}")
  }

  test("produce from a SECOND store instance racing a rescale strands nothing") {
    // the DSv2 writer builds its own TopicStore over the serving root, so
    // the produce/rescale serialization must hold ACROSS instances: with
    // per-instance produce locks, the writer's produce could append into
    // the superseded generation after the rescale's copy listing resolved
    // — acked records invisible to every subsequent poll
    val store = freshStore()
    val writer = new TopicStore(spark, store.root)
    store.produceStrings("t", (0 until 20).map(i => (s"k$i", s"pre$i", ts(i))))
    val rescaler = new Thread(() => { store.rescale("t", 6); () })
    rescaler.start()
    for (b <- 0 until 3)
      writer.produceStrings("t",
        (0 until 5).map(i => (s"wk$b-$i", s"mid$b-$i", ts(100 + b * 10 + i))))
    rescaler.join(180000)
    assert(!rescaler.isAlive, "rescale wedged")
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 35,
      s"expected all 35 records visible across instances, got ${polled.length}")
  }

  test("rescale before the first produce flips the generation with nothing to copy") {
    // found by ChaosSpec: a rescaler starting before the producer's first
    // batch hit PATH_NOT_FOUND on the absent data dir — an empty topic
    // must still be reshapeable
    val store = freshStore()
    assert(store.rescale("t", 6).version == 2)
    store.produceStrings("t", Seq(("k", "v", ts(0))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g", "t", "c").collect().length == 1)
  }

  test("rescale(requireDrained) refuses while a registered group has lag") {
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    // committed state exists (a first empty commit scope) once the group
    // polls a page but NOT the whole backlog: poll a bounded page only
    store.poll("g", "t", "c", maxRecords = 1L).collect()
    val e = intercept[IllegalStateException](store.rescale("t", 6, requireDrained = true))
    assert(e.getMessage.contains("still have lag"))
    assert(store.generation("t").version == 1, "refused rescale must not flip the generation")
    // drain, then the same call succeeds
    store.poll("g", "t", "c").collect()
    assert(store.rescale("t", 6, requireDrained = true).version == 2)
  }

  test("lineage gate is GROUP-wide: a drained member is fenced from v+1 while a sibling lags") {
    // a whole-ring rescale can move any key to any new partition, so the
    // chain-order gate must be a group property: with {A, B} consuming,
    // B having drained ITS v1 partitions must not be served v2 records
    // while A still holds undelivered v1 records — a key that was A's in
    // v1 and B's in v2 would otherwise be observed out of order (§2.6.1)
    val store = freshStore()
    store.registry.register("g", "c-a", Seq("t"), store.StartFrom.Earliest)
    store.registry.register("g", "c-b", Seq("t"), store.StartFrom.Earliest)
    store.produceStrings("t", (0 until 40).map(i => (s"key-$i", s"v1-$i", ts(i))))
    val bV1 = store.poll("g", "t", "c-b").collect()
    assert(bV1.nonEmpty && bV1.forall(_.getAs[Int]("version") == 1))

    store.rescale("t", 6)
    store.produceStrings("t", (0 until 40).map(i => (s"key-$i", s"v2-$i", ts(100 + i))))
    // the group still lags in v1 (A's partitions): B gets EMPTY pages,
    // bounded and unbounded, not v2 records
    assert(store.poll("g", "t", "c-b").collect().isEmpty,
      "unbounded poll leaked v+1 records past the group-wide gate")
    assert(store.poll("g", "t", "c-b", maxRecords = 10).collect().isEmpty,
      "bounded poll leaked v+1 records past the group-wide gate")

    // A's own backlog is served (its v1 lag is its own, so the walk may
    // continue into A's v2 partitions inside one version-ordered result)
    val aBoth = store.poll("g", "t", "c-a").collect()
    val aV1 = aBoth.filter(_.getAs[Int]("version") == 1)
    assert(aV1.nonEmpty, "A's v1 backlog must be served")
    // with A drained, the gate opens: B now gets exactly its v2 records
    val bV2 = store.poll("g", "t", "c-b").collect()
    assert(bV2.nonEmpty && bV2.forall(_.getAs[Int]("version") == 2),
      s"expected only v2 records for B, got versions ${bV2.map(_.getAs[Int]("version")).distinct.toSeq}")
    // fan-out completeness: every record delivered exactly once
    val aV2 = aBoth.filter(_.getAs[Int]("version") == 2)
    assert(bV1.length + aV1.length == 40, "v1 fan-out incomplete")
    assert(bV2.length + aV2.length == 40, "v2 fan-out incomplete")
  }

  test("dotted and underscored names keep disjoint meta scopes") {
    // the old lossy scope sanitizer mapped "a.b" and "a_b" to ONE
    // watermark/offsets/generation scope while their data dirs stayed
    // distinct: "a_b" started at "a.b"'s watermark (breaking §2.6.3
    // contiguity) and a rescale of one flipped the other's chain
    val store = freshStore()
    store.produceStrings("a.b", (0 until 8).map(i => (s"k$i", s"dot-$i", ts(i))))
    store.produceStrings("a_b", (0 until 5).map(i => (s"k$i", s"und-$i", ts(i))))
    assert(store.producerOffsets("a.b").values.sum == 8)
    assert(store.producerOffsets("a_b").values.sum == 5)
    store.rescale("a.b", 6)
    assert(store.generation("a.b").version == 2)
    assert(store.generation("a_b").version == 1,
      "a rescale of 'a.b' flipped 'a_b''s generation chain")
    // colliding GROUP names must not cross-wire commits either
    store.registry.register("g.1", "c", Seq("a_b"), store.StartFrom.Earliest)
    store.registry.register("g_1", "c", Seq("a_b"), store.StartFrom.Latest)
    assert(store.poll("g.1", "a_b", "c").collect().length == 5)
    assert(store.poll("g_1", "a_b", "c").collect().isEmpty,
      "'g_1' (Latest) must not inherit 'g.1''s committed positions or policy")
  }

  test("a member with zero current-generation partitions still drains its ancestor lag") {
    // down-rescale lockout: 6 members over a 12-partition generation all
    // own partitions; after rescale to 4 partitions only the first 4
    // (sorted) do. A current-generation-only registered check would
    // early-return empty for c4/c5 forever, their v1 partitions would
    // never drain, and the group-wide gate would stall the whole group
    // (no member ever reaches v2) — the permanent-stall shape
    val store = freshStore()
    val members = (0 until 6).map(i => s"c$i")
    members.foreach(c => store.registry.register("g", c, Seq("t"), store.StartFrom.Earliest))
    store.produceStrings("t", (0 until 96).map(i => (s"key-$i", s"v1-$i", ts(i))))
    store.rescale("t", 1) // 12 -> 4 partitions
    store.produceStrings("t", (0 until 24).map(i => (s"key-$i", s"v2-$i", ts(200 + i))))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    var idle = 0
    var spins = 0
    while (idle < 4 && spins < 200) {
      var n = 0
      members.foreach { c =>
        val rows = store.poll("g", "t", c).collect()
        n += rows.length
        rows.foreach(r => got += new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
      }
      if (n == 0) idle += 1 else idle = 0
      spins += 1
    }
    assert(got.size == 120, s"expected all 120 records across the flip, got ${got.size}")
    assert(got.distinct.size == 120, "duplicate delivery")
  }

  test("dropped-empty generations leave tombstones; swept data-bearing ones do not") {
    // the tombstone is what lets a stream checkpoint parked in a dropped
    // generation PROVE nothing was lost (re-anchor) while a checkpoint
    // parked in a swept data-bearing generation fails loudly
    val store = freshStore()
    store.produceStrings("t", (0 until 6).map(i => (s"k$i", s"m$i", ts(i))))
    store.rescale("t", 6)  // v1 kept (it has records); v2 opens empty
    store.rescale("t", 12) // v2 was record-free + state-free -> dropped
    assert(store.generations("t").map(_.version) == Seq(1, 3))
    assert(store.droppedEmptyVersions("t") == Set(2))
    // drain v1 and sweep it: its records EXISTED, so no tombstone
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    store.poll("g", "t", "c").collect()
    assert(store.sweepStaleGenerations("t") > 0)
    assert(store.generations("t").map(_.version) == Seq(3))
    assert(store.droppedEmptyVersions("t") == Set(2),
      "a swept data-bearing generation must not be tombstoned as empty")
  }

  test("rescale projects offsets for drained groups; undrained re-read") {
    val store = freshStore()
    store.produceStrings("t", (0 until 20).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("gd", "c1", Seq("t"), store.StartFrom.Earliest)
    store.poll("gd", "t", "c1").collect() // drains gen 1, auto-commits
    store.registry.register("gu", "c2", Seq("t"), store.StartFrom.Earliest)
    // gu never polls before the rescale -> undrained

    store.rescale("t", 6)
    // drained group: nothing re-delivered — its ancestor positions sit
    // at the frozen watermarks and the new generation opens empty
    assert(store.poll("gd", "t", "c1").collect().isEmpty)
    // but new-generation produce flows to it
    store.produceStrings("t", Seq(("k0", "fresh", ts(100))))
    val out = store.poll("gd", "t", "c1").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(out.toSeq == Seq("fresh"))
    // the group that never started reads the whole lineage from 0 under
    // its Earliest policy: all 20 ancestor records + the fresh one
    assert(store.poll("gu", "t", "c2").collect().length == 21)
  }

  test("randomized: arbitrary key sets keep order, contiguity, and counts") {
    // generative engine invariant (SURVEY §5 carry-over) — three seeded
    // shapes: many keys few records, few keys many records, skewed
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val nKeys = Seq(50, 3, 7)(seed - 1)
      val n = 120
      val rows = (0 until n).map { i =>
        val key = seed match {
          case 3 => if (rnd.nextDouble() < 0.8) "hot" else s"k${rnd.nextInt(nKeys)}"
          case _ => s"k${rnd.nextInt(nKeys)}"
        }
        (key, s"m$i", ts(i))
      }
      val store = freshStore()
      store.produceStrings("t", rows)
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      val polled = store.poll("g", "t", "c").collect()
      assert(polled.length == n, s"seed $seed lost records")
      polled.groupBy(_.getAs[String]("key")).foreach { case (key, msgs) =>
        val got = msgs.sortBy(m => (m.getAs[Int]("part"), m.getAs[Long]("offset")))
          .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq
        val want = rows.zipWithIndex.filter(_._1._1 == key).map(r => s"m${r._2}")
        assert(got == want, s"seed $seed key $key order broken")
        assert(msgs.map(_.getAs[Int]("part")).distinct.length == 1)
      }
      polled.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
        val offs = rs.map(_.getAs[Long]("offset")).sorted
        assert(offs.toSeq == (0L until offs.length.toLong), s"seed $seed part $p gap")
      }
    }
  }

  test("poll pages under maxRecords/maxBytes with offset continuity") {
    // record cap: 20 one-partition records drained in pages of <= 6
    val store = freshStore()
    store.produceStrings("t", (0 until 20).map(i => ("k", f"m$i%02d", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    var seen = Seq.empty[Long]
    var guard = 0
    var page = store.poll("g", "t", "c", maxRecords = 6).collect()
    while (page.nonEmpty && guard < 10) {
      assert(page.length <= 6)
      seen ++= page.map(_.getAs[Long]("offset")).sorted
      page = store.poll("g", "t", "c", maxRecords = 6).collect()
      guard += 1
    }
    assert(seen == (0L until 20L), s"pages not contiguous: $seen")

    // byte cap: 100-byte bodies, 350-byte budget -> 4-record pages (the
    // boundary record ships), still drains completely
    val store2 = freshStore()
    store2.produceStrings("t", (0 until 10).map(i => ("k", "y" * 100, ts(i))))
    store2.registry.register("g", "c", Seq("t"), store2.StartFrom.Earliest)
    val first = store2.poll("g", "t", "c", maxBytes = 350).collect()
    assert(first.length == 4, s"expected 4-record page, got ${first.length}")
    var total = first.length
    var g2 = 0
    var pg = store2.poll("g", "t", "c", maxBytes = 350).collect()
    while (pg.nonEmpty && g2 < 10) {
      total += pg.length
      pg = store2.poll("g", "t", "c", maxBytes = 350).collect()
      g2 += 1
    }
    assert(total == 10)
  }

  test("watermark reconciliation heals a produce that died before the offset write") {
    val root = Files.createTempDirectory("graft-engine-heal").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", (0 until 10).map(i => ("k", s"m$i", ts(i))))
    // simulate the crash window: data files landed, watermark never advanced
    val meta = java.nio.file.Paths.get(s"$root/_meta/producer_offsets")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(meta).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))

    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val store2 = new TopicStore(spark, root) // restart
    store2.produceStrings("t", Seq(("k", "after", ts(100))))
    store2.registry.register("g", "c", Seq("t"), store2.StartFrom.Earliest)
    val polled = store2.poll("g", "t", "c").collect()
    assert(polled.length == 11, "offset collision dropped or duplicated records")
    polled.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
      val offs = rs.map(_.getAs[Long]("offset")).sorted
      assert(offs.toSeq == (0L until offs.length.toLong),
        s"part $p offsets not contiguous/unique after heal: ${offs.toSeq}")
    }
  }

  test("TWO fresh instances racing first-touch reconciliation heal exactly once") {
    // the heal's delete-then-rename swap is guarded by a JVM-global
    // per-(root, scope) lock: with per-instance locks, two stores
    // first-touching the same orphaned scope both pass the contains
    // check and race the swap — a transient IOException or a yanked
    // listing on the crash-recovery path the heal exists for
    val root = Files.createTempDirectory("graft-engine-heal2").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", (0 until 10).map(i => ("k", s"m$i", ts(i))))
    val meta = java.nio.file.Paths.get(s"$root/_meta/producer_offsets")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(meta).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))

    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val a = new TopicStore(spark, root)
    val b = new TopicStore(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fa = pool.submit(new java.util.concurrent.Callable[Map[Int, Long]] {
      def call(): Map[Int, Long] = a.producerOffsets("t")
    })
    val fb = pool.submit(new java.util.concurrent.Callable[Map[Int, Long]] {
      def call(): Map[Int, Long] = b.producerOffsets("t")
    })
    val (oa, ob) = (fa.get(), fb.get()) // neither may throw
    pool.shutdown()
    assert(oa == ob, s"instances disagree on the healed watermark: $oa vs $ob")
    assert(oa.values.sum == 10L, s"heal lost or duplicated offsets: $oa")
    // the healed watermark must actually take: a follow-up produce + full
    // poll sees 11 records with contiguous offsets
    a.produceStrings("t", Seq(("k", "after", ts(100))))
    a.registry.register("g", "c", Seq("t"), a.StartFrom.Earliest)
    assert(a.poll("g", "t", "c").collect().length == 11)
  }

  test("byte-capped poll still delivers null-valued records") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val store = freshStore()
    val df = spark.range(6).toDF("i")
      .select(
        lit("k").as("key"),
        when(col("i") =!= 2L, org.apache.spark.sql.functions.encode(
          org.apache.spark.sql.functions.concat(lit("m"), col("i")), "UTF-8")).as("value"),
        org.apache.spark.sql.functions.timestamp_millis(lit(1700000000000L) + col("i") * 1000L)
          .as("timestamp"))
    store.produce("t", df)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    var seen = Seq.empty[Long]
    var guard = 0
    var page = store.poll("g", "t", "c", maxBytes = 5).collect()
    while (page.nonEmpty && guard < 12) {
      seen ++= page.map(_.getAs[Long]("offset")).sorted
      page = store.poll("g", "t", "c", maxBytes = 5).collect()
      guard += 1
    }
    assert(seen == (0L until 6L), s"null-valued record skipped: $seen")
  }

  test("randomized paging: any (maxRecords, maxBytes) drains exactly once in order") {
    val store = freshStore()
    val rnd = new scala.util.Random(7)
    val rows = (0 until 24).map(i => (s"k${rnd.nextInt(5)}", "v" * (1 + rnd.nextInt(40)), ts(i)))
    store.produceStrings("t", rows)
    for ((mr, mb) <- Seq((7L, Long.MaxValue), (Long.MaxValue, 64L), (5L, 48L), (2L, 16L))) {
      val group = s"g-$mr-$mb"
      store.registry.register(group, "c", Seq("t"), store.StartFrom.Earliest)
      var seen = Map.empty[Int, Seq[Long]]
      var guard = 0
      var page = store.poll(group, "t", "c", maxRecords = mr, maxBytes = mb).collect()
      while (page.nonEmpty && guard < 60) {
        page.groupBy(_.getAs[Int]("part")).foreach { case (p, rs) =>
          seen += p -> (seen.getOrElse(p, Seq.empty) ++ rs.map(_.getAs[Long]("offset")).sorted)
        }
        page = store.poll(group, "t", "c", maxRecords = mr, maxBytes = mb).collect()
        guard += 1
      }
      assert(seen.values.map(_.size).sum == 24, s"($mr,$mb) lost/duplicated records: $seen")
      seen.foreach { case (p, offs) =>
        assert(offs == (0L until offs.length.toLong), s"($mr,$mb) part $p gaps: $offs")
      }
    }
  }

  test("stale commit from a reassigned consumer never rewinds offsets") {
    val store = freshStore()
    store.produceStrings("t", (0 until 20).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("g", "c1", Seq("t"), store.StartFrom.Earliest)
    // c1 reads everything but defers its commit (the serving-path shape)
    val c1Rows = store.poll("g", "t", "c1", autoCommit = false).collect()
    assert(c1Rows.nonEmpty)
    // rebalance: c2 joins, reads its share, auto-commits as the new reader
    store.registry.register("g", "c2", Seq("t"), store.StartFrom.Earliest)
    store.poll("g", "t", "c2").collect()
    val afterC2 = store.groupOffsets("g", "t")
    val c2Parts = store.registry.assignment("g", "c2", "t").toSet
    assert(c2Parts.nonEmpty)

    // c1's late commit: a rewind to 0 AND an overshoot on c2's partitions
    // must both be rejected — c2 read them since (origin check)
    val rewind = store.commit("g", "t", c2Parts.map(_ -> 0L).toMap, origin = "c1")
    assert(rewind.isEmpty)
    val overshoot = store.commit("g", "t",
      c2Parts.map(p => p -> (afterC2.getOrElse(p, 0L) + 100L)).toMap, origin = "c1")
    assert(overshoot.isEmpty)
    val after = store.groupOffsets("g", "t")
    c2Parts.foreach { p =>
      assert(after.getOrElse(p, 0L) == afterC2.getOrElse(p, 0L), s"part $p moved")
    }
  }

  test("a version-stamped commit lands in ITS generation's scope; swept generations reject") {
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("g", "c1", Seq("t"), store.StartFrom.Earliest)
    val v1 = store.generation("t").version
    // c1 reads under generation v1, deferring its commit (REST staging shape)
    val rows = store.poll("g", "t", "c1", autoCommit = false).collect()
    assert(rows.nonEmpty)
    val staged = rows.groupBy(_.getAs[Int]("part")).view
      .mapValues(_.map(_.getAs[Long]("offset")).max + 1L).toMap
    store.rescale("t", 6)
    // the flush arrives after the rescale: v1 stays LIVE (metadata-only
    // rescale), so its staged positions apply to v1's OWN scope — the
    // drain keeps advancing; the current generation's scope is untouched
    // (v1 positions are meaningless in v2's numbering)
    val accepted = store.commit("g", "t", staged, origin = "c1", version = v1)
    assert(accepted == staged)
    assert(store.groupOffsets("g", "t", v1) == staged)
    assert(store.groupOffsets("g", "t").values.forall(_ == 0L),
      "an ancestor-stamped commit must not leak into the current scope")
    // a commit stamped with the CURRENT generation lands in its scope
    val v2 = store.generation("t").version
    val ok = store.commit("g", "t", Map(0 -> 1L), version = v2)
    assert(ok == Map(0 -> 1L))
    // ...and one stamped with a generation that is NOT live (never
    // opened / already swept) is rejected outright: there is no scope
    // its numbering is valid for
    assert(store.commit("g", "t", Map(0 -> 5L), version = 99).isEmpty)
  }

  test("retention + compaction address topics with escaped characters") {
    val store = freshStore()
    val topic = "ops metrics:v1" // space + colon — partitionBy escapes both
    (0 until 2).foreach { b =>
      store.produceStrings(topic, (0 until 8).map(i => (s"k${i % 4}", s"m$b-$i", ts(i))))
    }
    def files(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store.dataDir))
        .iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    }
    assert(files() > 0)
    assert(store.compact(topic, smallFileBytes = 128L * 1024 * 1024) > 0)
    // the scheduled sweeper parses the escaped dir name back to the topic;
    // ts(0) is 2023 so everything is beyond retention
    val sweeper = store.startRetentionSweeper(intervalMs = 150L, retentionMs = 1000L)
    try {
      var waited = 0
      while (files() > 0 && waited < 20000) { Thread.sleep(250); waited += 250 }
      assert(files() == 0, "sweeper never matched the escaped topic dir")
    } finally sweeper.close()
  }

  test("the sweeper tick folds small segment files without changing content") {
    val store = freshStore()
    // recent timestamps so retention never fires; several produceLocal
    // batches -> several small files per touched partition
    val now = System.currentTimeMillis()
    (0 until 4).foreach { b =>
      store.produceLocal("t", (0 until 8).map(i => TopicStore.LocalRecord(
        s"k${i % 2}", s"m$b-$i".getBytes("UTF-8"), (now + b * 100 + i) * 1000L, i.toLong)))
    }
    def files(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store.dataDir))
        .iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    }
    val before = files()
    assert(before >= 8, s"expected several small files, got $before")
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val preFold = store.poll("g", "t", "c").collect()
      .map(r => (r.getAs[Int]("part"), r.getAs[Long]("offset"),
        new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).sortBy(t => (t._1, t._2))
    val sweeper = store.startRetentionSweeper(intervalMs = 150L, retentionMs = 1000L * 3600)
    try {
      var waited = 0
      // one file per touched partition once the tick's compaction folds
      while (files() >= before && waited < 20000) { Thread.sleep(250); waited += 250 }
      assert(files() < before, "sweeper tick never compacted the small files")
    } finally sweeper.close()
    store.registry.register("g2", "c", Seq("t"), store.StartFrom.Earliest)
    val postFold = store.poll("g2", "t", "c").collect()
      .map(r => (r.getAs[Int]("part"), r.getAs[Long]("offset"),
        new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).sortBy(t => (t._1, t._2))
    assert(postFold.toSeq == preFold.toSeq, "compaction changed delivered content")
  }

  test("concurrent commits never lose updates or rewind") {
    val store = freshStore()
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    // 24 admin-path commits racing over 4 partitions with increasing offsets
    val futures = (1 to 24).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { store.commit("g", "t", Map(i % 4 -> i.toLong)); () }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val off = store.groupOffsets("g", "t")
    (0 until 4).foreach { p =>
      val expected = (1 to 24).filter(_ % 4 == p).max.toLong
      assert(off(p) == expected, s"part $p lost a commit: ${off(p)} != $expected")
    }
  }

  test("commits racing from TWO store instances over one root never lose updates") {
    // the commit RMW (read cur, merge accepted, swap-write) is guarded by a
    // JVM-global per-(root, group/topic) lock, not a per-instance one — the
    // DSv2-writer pattern means a second TopicStore over the same root is
    // routine, and with per-instance locks both instances could read cur,
    // both write cur ++ accepted, and one side's partitions vanish
    val store = freshStore()
    val other = new TopicStore(spark, store.root)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    // even i commits via store, odd i via other; disjoint partitions per
    // parity so an interleaved lost update is unambiguous
    val futures = (1 to 24).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val s = if (i % 2 == 0) store else other
          s.commit("g", "t", Map(i % 4 -> i.toLong)); ()
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    // both instances must agree on the merged map, with every partition's max
    Seq(store, other).foreach { s =>
      val off = s.groupOffsets("g", "t")
      (0 until 4).foreach { p =>
        val expected = (1 to 24).filter(_ % 4 == p).max.toLong
        assert(off(p) == expected, s"part $p lost a cross-instance commit: ${off(p)} != $expected")
      }
    }
  }

  test("fresh store over the same root resumes a group's policy and offsets") {
    val root = Files.createTempDirectory("graft-engine-persist").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", (0 until 10).map(i => (s"k$i", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    store.poll("g", "t", "c").collect() // consume all, auto-commit
    store.produceStrings("t", Seq(("k0", "late", ts(100))))

    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val store2 = new TopicStore(spark, root) // driver restart
    assert(store2.registry.policy("g") == store2.StartFrom.Earliest)
    // re-registration must NOT reset the persisted policy to the default
    store2.registry.register("g", "c-new", Seq("t"))
    assert(store2.registry.policy("g") == store2.StartFrom.Earliest)
    val out = store2.poll("g", "t", "c-new").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(out.toSeq == Seq("late")) // committed offsets, not a policy restart
  }

  test("offsets written by a Spark job (old layout) read back driver-side") {
    // stores written before the driver-side parquet-hadoop metadata path
    // used toDF.coalesce(1).write — the two layouts must stay mutually
    // readable (same dir, one visible part file, (part int, next long))
    val root = Files.createTempDirectory("graft-engine-compat").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", (0 until 6).map(i => (s"k$i", s"m$i", ts(i))))
    import spark.implicits._
    val expected = (0 until 6).map(i => i -> (i * 10L + 7L)).toMap
    // overwrite the producer watermarks with a Spark-written table
    val scope = s"$root/_meta/producer_offsets/t/v1"
    expected.toSeq.toDF("part", "next").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(scope)
    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val store2 = new TopicStore(spark, root) // fresh cache, driver-side read
    val got = store2.producerOffsets("t")
    expected.foreach { case (p, n) =>
      assert(got.get(p).exists(_ >= n), s"part $p: got ${got.get(p)}, want >= $n")
    }
  }

  test("group registries written by a Spark job (old layouts) read back driver-side") {
    // registries persisted before the driver-side parquet-hadoop path
    // used toDF.coalesce(1).write, and before snapshots carried a
    // version there was no snap_version column at all — both layouts
    // must keep loading (policy + Latest snapshot, default version 1)
    val root = Files.createTempDirectory("graft-engine-regcompat").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", (0 until 4).map(i => (s"k$i", s"m$i", ts(i))))
    import spark.implicits._
    // old-format WITH snap_version
    Seq(("Latest", Option("t"), Option(3), Option(7L), Option(1)))
      .toDF("policy", "topic", "part", "next", "snap_version").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/_meta/groups/gv")
    // pre-snap_version format
    Seq(("Earliest", Option.empty[String], Option.empty[Int], Option.empty[Long]))
      .toDF("policy", "topic", "part", "next").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/_meta/groups/gold")
    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val store2 = new TopicStore(spark, root)
    assert(store2.registry.policy("gv") == store2.StartFrom.Latest)
    assert(store2.registry.latestSnapshot("gv", "t") == ((1, Map(3 -> 7L))))
    assert(store2.registry.policy("gold") == store2.StartFrom.Earliest)
  }

  test("sweepStaleGenerations reclaims only ancestor generations every group drained") {
    val store = freshStore()
    // one key -> one partition, so the bounded poll below is guaranteed
    // to leave lag (maxRecords bounds are PER PARTITION)
    store.produceStrings("t", (0 until 12).map(i => ("k", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    // consume PART of generation 1, so the group has committed state and
    // lag under it
    store.poll("g", "t", "c", maxRecords = 1L).collect()
    store.rescale("t", 6)
    // the undrained ancestor is FENCED: nothing may be reclaimed while a
    // known group still owes reads from it
    assert(store.sweepStaleGenerations("t") == 0,
      "sweep must not reclaim an ancestor a group has not drained")
    assert(store.generations("t").map(_.version) == Seq(1, 2))
    // drain generation 1 fully, then the sweep reclaims it
    val polled = store.poll("g", "t", "c").collect()
    assert(polled.length == 11 && polled.forall(_.getAs[Int]("version") == 1))
    val deleted = store.sweepStaleGenerations("t")
    assert(deleted > 0, "no drained-ancestor files reclaimed")
    assert(store.generations("t") == Seq(graft.engine.Generation(2, 6)),
      "the chain must truncate to the surviving generations")
    // the drained group sees nothing twice; a FRESH Earliest group sees
    // only what still exists (the empty current generation)
    assert(store.poll("g", "t", "c").count() == 0L)
    store.registry.register("g2", "c2", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g2", "t", "c2").count() == 0L)
    // idempotent: nothing left to reclaim
    assert(store.sweepStaleGenerations("t") == 0)
  }

  test("sweepStaleGenerations tries every offsets scope when one delete fails") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfd.impl", classOf[FailDeleteFs].getName)
    hc.setBoolean("fs.mockfd.impl.disable.cache", true)
    val tmp = Files.createTempDirectory("graft-engine").toString
    val store = new TopicStore(spark, "mockfd:" + tmp)
    store.produceStrings("t", (0 until 6).map(i => ("k", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    store.rescale("t", 6)
    assert(store.poll("g", "t", "c").count() == 6L)
    val producerScope = new java.io.File(s"$tmp/_meta/producer_offsets/t/v1")
    val groupScope = new java.io.File(s"$tmp/_meta/group_offsets/g/t/v1")
    assert(producerScope.isDirectory && groupScope.isDirectory)
    // the producer scope is dropped first; its delete fails
    FailDeleteFs.failSubstring = Some("/_meta/producer_offsets/t/v1")
    try intercept[java.io.IOException](store.sweepStaleGenerations("t"))
    finally FailDeleteFs.failSubstring = None
    assert(!groupScope.exists, "the group scope after the failed one must still be dropped")
    assert(producerScope.isDirectory)
    assert(store.generations("t").map(_.version) == Seq(2))
  }

  test("scheduled retention sweeper reclaims expired files") {
    val store = freshStore()
    store.produceStrings("t", Seq(("a", "old", ts(0)))) // 2023 timestamp
    def files(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store.dataDir))
        .iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    }
    assert(files() > 0)
    val sweeper = store.startRetentionSweeper(intervalMs = 150L, retentionMs = 1000L)
    try {
      var waited = 0
      while (files() > 0 && waited < 20000) { Thread.sleep(250); waited += 250 }
      assert(files() == 0, "sweeper never reclaimed the expired files")
    } finally sweeper.close()
  }

  test("compaction merges small files and preserves records + offsets") {
    val store = freshStore()
    // three produce batches -> up to 3 files per partition dir
    (0 until 3).foreach { b =>
      store.produceStrings("t",
        (0 until 12).map(i => (s"k${i % 4}", s"m$b-$i", ts(b * 100 + i))))
    }
    def snapshot() = {
      store.registry.register("snap", "c", Seq("t"), store.StartFrom.Earliest)
      spark.read.schema(store.recordSchema).parquet(store.dataDir)
        .collect()
        .map(r => (r.getAs[Int]("part"), r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("value"))))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    def fileCount() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(store.dataDir))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val before = snapshot()
    val filesBefore = fileCount()
    val replaced = store.compact("t")
    assert(replaced > 0)
    assert(fileCount() < filesBefore)
    assert(snapshot() == before) // same rows, same offsets, nothing lost
  }

  test("offsetsForTime on an empty store answers one entry per ring partition") {
    // shape consistency: the empty-store early return must not degrade to
    // producerOffsets' sparse map (omitting never-produced partitions) —
    // the REST seek response and seekToTime's accepted set expect the
    // same complete-map shape as the main path
    val store = freshStore()
    val m = store.offsetsForTime("never_produced", ts(0))
    assert(m.keySet == (0 until 12).toSet, s"expected 12 partitions, got ${m.keySet}")
    assert(m.values.forall(_ == 0L))
  }

  test("offsetsForTime + seekToTime position a group at a timestamp cut") {
    val store = freshStore()
    store.produceStrings("tt", (0 until 60).map(i => (s"k${i % 6}", s"m$i", ts(i))))

    // the cut: earliest offset with ts >= t30 per partition; monotonic
    // per-partition timestamps here make it exactly the ts >= t30 set
    val cut = store.offsetsForTime("tt", ts(30))
    assert(cut.nonEmpty)

    store.registry.register("gt", "c", Seq("tt"), store.StartFrom.Earliest)
    val accepted = store.seekToTime("gt", "tt", ts(30))
    assert(accepted.nonEmpty, "seek must accept forward positions")
    val polled = store.poll("gt", "tt", "c").collect()
    assert(polled.length == 30, s"expected the 30 records at/after the cut, got ${polled.length}")
    assert(polled.forall(_.getAs[java.sql.Timestamp]("timestamp").getTime >= ts(30).getTime))

    // a timestamp beyond the topic end seeks to the watermark (empty
    // partitions sit at 0, which producerOffsets omits): empty poll
    val end = store.offsetsForTime("tt", ts(10000))
    val high = store.producerOffsets("tt")
    assert(end.forall { case (p, o) => o == high.getOrElse(p, 0L) })
    store.seekToTime("gt", "tt", ts(10000))
    assert(store.poll("gt", "tt", "c").collect().isEmpty)

    // seeks only move FORWARD (monotonic commit): a rewind attempt leaves
    // every consumed partition where it was (only the untouched empty
    // partitions' 0 -> 0 no-ops are "accepted"), so the poll stays empty
    val back = store.seekToTime("gt", "tt", ts(0))
    assert(back.values.forall(_ == 0L), "only no-op positions may be accepted on rewind")
    assert(store.poll("gt", "tt", "c").collect().isEmpty,
      "backward seek must not rewind a consumed group")
  }

  test("a bounded poll advances past a fully purged window instead of stalling") {
    // purgeKeys leaves offset gaps; a bounded window that lands entirely
    // inside a purged range delivers nothing and, before r8, committed
    // nothing — the consumer re-polled the same empty range forever (and
    // under lineage serving, an ancestor with a purged tail would block
    // the group's advance to the next generation permanently)
    val store = freshStore()
    // one key -> one partition; all 20 records live at offsets 0..19
    store.produceStrings("t", (0 until 20).map(i => ("k", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val first = store.poll("g", "t", "c", maxRecords = 5L).collect()
    assert(first.length == 5)
    // erase the key entirely (all 20 records): offsets 5..19 — the
    // group's unread range — are now gaps
    assert(store.purgeKeys("t", Seq("k")) == 20L)
    // a fresh record lands at offset 20 (watermark never rewinds)
    store.produceStrings("t", Seq(("k", "fresh", ts(100))))
    // each empty-window poll commits past its window; the record arrives
    // within ceil(15/5) + 1 polls, exactly once
    val got = (0 until 5).flatMap { _ =>
      store.poll("g", "t", "c", maxRecords = 5L).collect()
        .map(r => new String(r.getAs[Array[Byte]]("value")))
    }
    assert(got == Seq("fresh"), s"gap skip failed: $got")
  }

  test("skipPurgedPage advances a deferred-commit group over a purged window") {
    // the REST staging path cannot auto-commit; its gap skip is the
    // explicit skipPurgedPage call (re-verifies emptiness, then commits
    // the window end)
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => ("k", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    // a window with records present must NOT be skipped over
    assert(store.skipPurgedPage("g", "t", "c", maxRecords = 4L).isEmpty)
    // REST staging shape: deferred manual commit of a delivered page
    val rows = store.poll("g", "t", "c", maxRecords = 4L, autoCommit = false).collect()
    assert(rows.length == 4)
    val staged = rows.groupBy(_.getAs[Int]("part")).view
      .mapValues(_.map(_.getAs[Long]("offset")).max + 1L).toMap
    assert(store.commit("g", "t", staged, origin = "c",
      version = store.generation("t").version) == staged)
    // erase everything; the group now sits below a record-free range
    store.purgeKeys("t", Seq("k"))
    // window-by-window advance: [4,8) then [8,12), then no lag remains
    assert(store.skipPurgedPage("g", "t", "c", maxRecords = 4L).values.toSeq == Seq(8L))
    assert(store.skipPurgedPage("g", "t", "c", maxRecords = 4L).values.toSeq == Seq(12L))
    assert(store.skipPurgedPage("g", "t", "c", maxRecords = 4L).isEmpty)
    assert(store.lag("g", "t").values.sum == 0L)
  }

  test("purgeKeys erases a key everywhere, preserving survivors' offsets and the watermark") {
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    val rows = (0 until 120).map(i => (s"k${i % 10}", s"m$i", ts(i)))
    store.produceStrings("p", rows)

    def view() = Graft.topic(spark, store.root, "p")
      .select(col("key"),
        org.apache.spark.sql.functions.decode(col("value"), "UTF-8").as("v"),
        col("part"), col("offset"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))

    val beforeRows = view()
    val watermarkBefore = store.producerOffsets("p")

    val purged = store.purgeKeys("p", Seq("k3", "k7"))
    assert(purged == 24L, s"expected 24 purged records, got $purged")

    val afterRows = view()
    // erased everywhere; survivors byte-identical (same offsets — gaps,
    // never renumbering)
    assert(!afterRows.exists(r => r._1 == "k3" || r._1 == "k7"))
    assert(afterRows.toSet == beforeRows.filterNot(r => r._1 == "k3" || r._1 == "k7").toSet)
    // the watermark never moves: no offset is ever reissued
    assert(store.producerOffsets("p") == watermarkBefore)

    // a fresh consumer simply never sees the erased records
    store.registry.register("gp", "c", Seq("p"), store.StartFrom.Earliest)
    val polled = store.poll("gp", "p", "c").collect()
    assert(polled.length == 96)
    assert(!polled.exists(r => Set("k3", "k7")(r.getAs[String]("key"))))

    // produce after purge continues past the preserved watermark
    store.produceStrings("p", Seq(("k3", "again", ts(1000))))
    val maxAfter = Graft.topic(spark, store.root, "p")
      .groupBy(col("part")).agg(org.apache.spark.sql.functions.max(col("offset")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    maxAfter.foreach { case (p, m) => assert(m < store.producerOffsets("p")(p)) }
  }

  test("the sweeper tick reclaims drained ancestors, group-gated, and keeps stats") {
    val store = freshStore()
    store.produceStrings("t", (0 until 12).map(i => ("k", s"m$i", ts(i))))
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    store.poll("g", "t", "c").collect() // drain generation 1 fully
    store.rescale("t", 6)
    assert(store.generations("t").map(_.version) == Seq(1, 2))
    val sweeper = store.startRetentionSweeper(
      intervalMs = 150L, retentionMs = 1000L * 3600 * 24 * 365 * 10)
    try {
      var waited = 0
      while (store.generations("t").size > 1 && waited < 20000) {
        Thread.sleep(250); waited += 250
      }
      assert(store.generations("t") == Seq(graft.engine.Generation(2, 6)),
        "cadence never reclaimed the drained ancestor")
      assert(store.maintenanceStats.staleFilesReclaimed.get() > 0L)
      assert(store.maintenanceStats.sweepFailures.get() == 0L,
        "healthy sweeps must not count failures")
      // the gauge settles at the post-reclaim depth on the next tick
      waited = 0
      while (store.maintenanceStats.chainDepth.get() != 1L && waited < 20000) {
        Thread.sleep(250); waited += 250
      }
      assert(store.maintenanceStats.chainDepth.get() == 1L)
    } finally sweeper.close()

    // group-less topic: the CADENCE must not take the admin-only
    // reclaim-all branch — a streaming reader with no committed group
    // would lose history silently; the manual call still reclaims
    val s2 = freshStore()
    s2.produceStrings("u", (0 until 6).map(i => ("k", s"m$i", ts(i))))
    s2.rescale("u", 6)
    assert(s2.generations("u").map(_.version) == Seq(1, 2))
    val sw2 = s2.startRetentionSweeper(
      intervalMs = 150L, retentionMs = 1000L * 3600 * 24 * 365 * 10)
    try {
      Thread.sleep(1200) // several ticks
      assert(s2.generations("u").map(_.version) == Seq(1, 2),
        "cadence reclaimed a group-less topic's ancestors")
    } finally sw2.close()
    assert(s2.sweepStaleGenerations("u") > 0, "manual admin sweep must still reclaim")
    assert(s2.generations("u").map(_.version) == Seq(2))
  }

  test("meta-swap stamps stay monotonic past a stale future-stamped leftover") {
    val store = freshStore()
    store.produceStrings("t", Seq(("k", "v1", ts(0))))
    val topicMeta = new java.io.File(s"${store.root}/_meta/producer_offsets/t")
    val scope = topicMeta.listFiles().filter(_.isDirectory).head
    val cur = scope.listFiles().find(_.getName.startsWith("part-")).get
    // forge the crash-between-rename-and-delete artifact of a PRIOR
    // writer whose stamp outran wall-clock (the old nanoTime stamps had
    // a per-boot origin, so this is exactly the cross-reboot hazard):
    // a stale table left visible under a lexically-future name
    val forgedStamp = 8999999999999999999L
    val forged = new java.io.File(scope, f"part-$forgedStamp%019d-deadbeef.parquet")
    java.nio.file.Files.copy(cur.toPath, forged.toPath)
    store.produceStrings("t", Seq(("k", "v2", ts(1))))
    // the new swap must stamp PAST the leftover — max(clock, newest+1) —
    // so readers taking the lexically-newest name see the NEW table even
    // if the delete pass had crashed; here the pass also folds the forge
    val names = scope.listFiles().map(_.getName)
      .filter(n => !n.startsWith(".") && n.startsWith("part-"))
    assert(names.length == 1, s"delete pass should fold the leftover: ${names.toSeq}")
    val stamp = names.head.stripPrefix("part-").takeWhile(_.isDigit).toLong
    assert(stamp > forgedStamp,
      s"stamp $stamp not derived from durable state: lexically older than the " +
        s"stale leftover $forgedStamp — readers would prefer the stale table")
    // cold re-read (fresh-JVM simulation) sees the post-swap watermark
    TopicStore.dropCachesForTests(store.root, spark.sparkContext.hadoopConfiguration)
    assert(store.producerOffsets("t").values.sum == 2L)
  }
}
