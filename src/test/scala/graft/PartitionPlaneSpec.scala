package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Murmur3x64, TokenRing}
import graft.engine.{PlaneLease, PlaneLeaseHeldException, TopicStore}

/** Partition-scoped plane leases — the horizontal write plane: N
  * processes own DISJOINT ring partitions of one root and produce to
  * them concurrently, the Spark-side analog of the reference's
  * broker-per-token-range ownership
  * (`internal/ownership/generator.go:134-144`,
  * `internal/discovery/discoverer.go:343-366`). In-JVM protocol units
  * plus a REAL two-writer-JVM produce with roundtrip + contiguity
  * verification.
  */
class PartitionPlaneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("partition-plane-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def hconf = new Configuration()
  private def leaseDir(root: String) = new java.io.File(s"$root/_meta/_plane")
  private def rootKeyOf(root: String) = TopicStore.normalizeRoot(root, hconf)

  /** `n` keys hashing into `owned` under the default ring (3 tokens x 4
    * ranges = partitions 0..11) — the ShardRouter's routing, driver-side.
    */
  private def keysInto(owned: Set[Int], n: Int, prefix: String): Seq[String] =
    Iterator.from(0).map(i => s"$prefix$i")
      .filter(k => owned.contains(TokenRing.partitionOrdinal(
        Murmur3x64.hashString(k), 3, 4)))
      .take(n).toSeq

  private def localRows(keys: Seq[String]): Seq[TopicStore.LocalRecord] =
    keys.zipWithIndex.map { case (k, i) =>
      TopicStore.LocalRecord(k, s"v-$k".getBytes("UTF-8"),
        1700000000000000L + i * 1000L, i.toLong)
    }

  private def withPartitionConf[T](spec: String)(body: => T): T = {
    spark.conf.set("spark.graft.planeLeasePartitions", spec)
    try body finally spark.conf.unset("spark.graft.planeLeasePartitions")
  }

  test("partition spec parsing: ranges, lists, rejects") {
    assert(TopicStore.parsePartitionSpec("0-5") == (0 to 5).to(scala.collection.immutable.SortedSet))
    assert(TopicStore.parsePartitionSpec("0-3,8,10-11").toSeq == Seq(0, 1, 2, 3, 8, 10, 11))
    intercept[IllegalArgumentException](TopicStore.parsePartitionSpec("5-2"))
    intercept[IllegalArgumentException](TopicStore.parsePartitionSpec("a-b"))
    intercept[IllegalArgumentException](TopicStore.parsePartitionSpec(""))
  }

  test("a partition-scoped store produces into its claim; lane watermarks merge on read") {
    val root = Files.createTempDirectory("graft-part").toString
    withPartitionConf("0-5") {
      val store = new TopicStore(spark, root)
      val keys = keysInto((0 to 5).toSet, 40, "a")
      assert(store.produceLocal("t", localRows(keys)) == 40L)
      // per-partition lease files exist (the partition name is the mutex)
      val partDirs = leaseDir(root).listFiles().filter(_.getName.startsWith("part-p"))
      assert(partDirs.length == 6, s"expected 6 claimed partition dirs, got ${partDirs.length}")
      assert(partDirs.forall(d => d.listFiles().exists(_.getName.startsWith("lease-"))))
      // watermarks landed in the claim's LANE, not the shared root table
      val scopeDir = new java.io.File(s"$root/_meta/producer_offsets/t/v1")
      val lanes = scopeDir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("lane-"))
      assert(lanes.map(_.getName).toSeq == Seq("lane-0-5"), lanes.mkString(","))
      assert(!scopeDir.listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "a partition-scoped writer must not touch the shared base table")
      // the merged read view covers the lane
      assert(store.persistedProducerOffsets("t").values.sum == 40L)
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("a partition-scoped produce pins a nondeterministic batch; lane watermarks equal the written rows") {
    val root = Files.createTempDirectory("graft-part").toString
    withPartitionConf("0-5") {
      val store = new TopicStore(spark, root)
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // unseeded rand(): every execution selects a different subset, so
      // a count that re-ran the plan would drift off the written rows
      val batch = keysInto((0 to 5).toSet, 200, "nd").zipWithIndex
        .map { case (k, i) => (k, s"v$i", new java.sql.Timestamp(1700000000000L + i)) }
        .toDF("key", "svalue", "timestamp")
        .withColumn("value", encode(col("svalue"), "UTF-8"))
        .select("key", "value", "timestamp")
        .where(rand() < 0.5)
      val n = store.produce("t", batch)
      val written = spark.read.parquet(store.dataDir).where(col("topic") === "t")
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n"), (max(col("offset")) + 1L).as("next"))
        .as[(Int, Long, Long)].collect()
      assert(written.map(_._2).sum == n)
      val high = store.persistedProducerOffsets("t")
      written.foreach { case (p, rows, next) =>
        assert(rows == next, s"part $p: ${next - rows} offset gaps/dups")
        assert(high.getOrElse(p, 0L) == rows, s"part $p watermark ${high.get(p)} != $rows rows")
      }
      assert(high.filter(_._2 > 0).keySet == written.map(_._1).toSet)
      val scopeDir = new java.io.File(s"$root/_meta/producer_offsets/t/v1")
      assert(scopeDir.listFiles().filter(_.isDirectory).map(_.getName).toSeq == Seq("lane-0-5"))
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("a batch hashing outside the claim is rejected loudly, nothing written") {
    val root = Files.createTempDirectory("graft-part").toString
    withPartitionConf("0-5") {
      val store = new TopicStore(spark, root)
      val stray = keysInto((6 to 11).toSet, 3, "b")
      val ex = intercept[PlaneLeaseHeldException] {
        store.produceLocal("t", localRows(stray))
      }
      assert(ex.getMessage.contains("outside this process's partition lease"), ex.getMessage)
      assert(store.persistedProducerOffsets("t").isEmpty)
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("root-authority operations are refused to a partition-scoped process") {
    val root = Files.createTempDirectory("graft-part").toString
    withPartitionConf("0-5") {
      val store = new TopicStore(spark, root)
      store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 5, "c")))
      val reg = intercept[PlaneLeaseHeldException] {
        store.registry.register("g", "c0", Seq("t"), store.StartFrom.Earliest)
      }
      assert(reg.getMessage.contains("root-authority"), reg.getMessage)
      intercept[PlaneLeaseHeldException] { store.compact("t") }
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("one claim shape per process per root: a different spec is refused") {
    val root = Files.createTempDirectory("graft-part").toString
    withPartitionConf("0-5") {
      new TopicStore(spark, root).produceLocal("t", localRows(keysInto((0 to 5).toSet, 2, "d")))
    }
    withPartitionConf("4-9") {
      val ex = intercept[IllegalStateException] {
        new TopicStore(spark, root).produceLocal("t", localRows(keysInto((4 to 9).toSet, 2, "e")))
      }
      assert(ex.getMessage.contains("mode change"), ex.getMessage)
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("root acquisition rejects a live foreign partition claim; supersedes a stale one") {
    val root = Files.createTempDirectory("graft-part").toString
    val pdir = new java.io.File(leaseDir(root), "part-p00003")
    pdir.mkdirs()
    val live = new java.io.File(pdir, f"lease-${2L}%020d")
    java.nio.file.Files.write(live.toPath, "partwriter@elsewhere\nttl=60000".getBytes("UTF-8"))
    val ex = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    }
    assert(ex.getMessage.contains("partwriter@elsewhere"), ex.getMessage)
    // the failed root claim must have been rolled back
    assert(!leaseDir(root).listFiles().exists(f => f.isFile && f.getName.startsWith("lease-")))
    // stale partition claim: root acquisition supersedes it at epoch+1
    // (file KEPT, fencing the paused partition owner on resume)
    live.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    val names = pdir.listFiles().map(_.getName).filter(_.startsWith("lease-")).sorted
    assert(names.toSeq == Seq(f"lease-${3L}%020d"), names.mkString(","))
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("partition acquisition rejects a live foreign ROOT lease; supersedes a stale one via marker") {
    val root = Files.createTempDirectory("graft-part").toString
    leaseDir(root).mkdirs()
    val rootLease = new java.io.File(leaseDir(root), f"lease-${5L}%020d")
    java.nio.file.Files.write(rootLease.toPath, "rootwriter@elsewhere\nttl=60000".getBytes("UTF-8"))
    val ex = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwnedPartitions(rootKeyOf(root), root, hconf,
        TopicStore.parsePartitionSpec("0-2"))
    }
    assert(ex.getMessage.contains("ROOT-WIDE"), ex.getMessage)
    // stale real root lease: the claimant fences it with a higher-epoch
    // MARKER (claims no authority — other partition claimants proceed)
    rootLease.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    PlaneLease.ensureOwnedPartitions(rootKeyOf(root), root, hconf,
      TopicStore.parsePartitionSpec("0-2"))
    val rootFiles = leaseDir(root).listFiles().filter(f => f.isFile && f.getName.startsWith("lease-"))
    assert(rootFiles.map(_.getName).toSeq == Seq(f"lease-${6L}%020d"))
    val content = new String(java.nio.file.Files.readAllBytes(rootFiles.head.toPath), "UTF-8")
    assert(content.contains("mode=marker"), content)
    assert(content.contains("by=partition"), content)
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("crashed partition writer: a root successor supersedes the stale claim, folds its lanes, and offsets stay contiguous") {
    val root = Files.createTempDirectory("graft-partcrash").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.PartitionProduceChild", root, "0-5", "t", "40", "wc")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
      var line = rd.readLine()
      while (line != null && !line.startsWith("WROTE")) line = rd.readLine()
      assert(line == "WROTE 40", s"child write failed: $line")
      // CRASH: no clean exit, no lease release — the takeover path
      proc.destroyForcibly()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      ()
    } finally { proc.destroyForcibly(); () }
    // TTL elapses (simulated like the fence tests: age the claim files)
    leaseDir(root).listFiles().filter(_.getName.startsWith("part-p")).foreach { d =>
      d.listFiles().filter(_.getName.startsWith("lease-"))
        .foreach { f => f.setLastModified(System.currentTimeMillis() - 3600 * 1000L); () }
    }
    // the successor takes ROOT authority: supersedes each stale partition
    // claim at epoch+1 (files kept — a resumed child would fence)
    val store = new TopicStore(spark, root)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g", "t", "c").count() == 40L)
    // produce MORE into the same partitions: bases come from the crashed
    // writer's LANE watermarks (merged on read), and the root writer's
    // first watermark write FOLDS the lanes into the base table
    store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 20, "wd")))
    val scope = new java.io.File(s"$root/_meta/producer_offsets/t/v1")
    assert(!scope.listFiles().exists(d => d.isDirectory && d.getName.startsWith("lane-")),
      "the root writer's watermark write must fold lane tables away")
    assert(store.persistedProducerOffsets("t").values.sum == 60L)
    // per-partition contiguity ACROSS the writer handover
    import org.apache.spark.sql.functions._
    spark.read.parquet(store.dataDir).where(col("topic") === "t")
      .groupBy(col("token"), col("range"))
      .agg(count(lit(1)).as("n"), countDistinct(col("offset")).as("d"),
        min(col("offset")).as("lo"), max(col("offset")).as("hi"))
      .collect().foreach { r =>
        val (n, dd, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        assert(n == dd && lo == 0L && hi == n - 1,
          s"contiguity broken across handover at token=${r.get(0)} range=${r.get(1)}: " +
            s"n=$n d=$dd lo=$lo hi=$hi")
      }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("two writer JVMs produce concurrently to disjoint partitions; overlap rejected; roundtrip + contiguity hold") {
    val root = Files.createTempDirectory("graft-part2jvm").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // the children create real SparkSessions: forward the JDK-17 module
    // opens the parent got from build.sbt (spark-submit injects these)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def forkWriter(spec: String, count: Int, prefix: String): Process = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
        "graft.PartitionProduceChild", root, spec, "t", count.toString, prefix)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    // both children start together: their acquisitions and produces overlap
    val a = forkWriter("0-5", 60, "wa")
    val b = forkWriter("6-11", 60, "wb")
    val ra = new java.io.BufferedReader(new java.io.InputStreamReader(a.getInputStream, "UTF-8"))
    val rb = new java.io.BufferedReader(new java.io.InputStreamReader(b.getInputStream, "UTF-8"))
    try {
      def awaitWrote(rd: java.io.BufferedReader, who: String): Unit = {
        var line = rd.readLine()
        while (line != null && !line.startsWith("WROTE")) line = rd.readLine()
        assert(line == "WROTE 60", s"$who: $line")
      }
      awaitWrote(ra, "writer A")
      awaitWrote(rb, "writer B")
      // while BOTH claims are live: an overlapping claim is rejected loudly
      val overlap = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.LeaseProbeChild", root, "0", "4-8")
      overlap.redirectErrorStream(true)
      val op = overlap.start()
      val oOut = new String(op.getInputStream.readAllBytes(), "UTF-8")
      assert(op.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(op.exitValue() == 7, s"overlapping claim must be rejected: $oOut")
      // ... and so is a root-plane claim
      val rootClaim = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.LeaseProbeChild", root, "0")
      rootClaim.redirectErrorStream(true)
      val rp = rootClaim.start()
      val rOut = new String(rp.getInputStream.readAllBytes(), "UTF-8")
      assert(rp.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(rp.exitValue() == 7, s"root claim over live partition claims must be rejected: $rOut")
      // release both children cleanly (shutdown hooks release the leases)
      a.getOutputStream.write('\n'); a.getOutputStream.flush()
      b.getOutputStream.write('\n'); b.getOutputStream.flush()
      assert(a.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && a.exitValue() == 0)
      assert(b.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && b.exitValue() == 0)
    } finally { a.destroyForcibly(); b.destroyForcibly(); () }

    // the successor (root-authority) verifies the merged result
    val store = new TopicStore(spark, root)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g", "t", "c").count() == 120L)
    val watermarks = store.persistedProducerOffsets("t")
    assert(watermarks.values.sum == 120L, watermarks.toString)
    // per-partition contiguity across BOTH writers: offsets are exactly
    // 0..n-1 in every ring partition (no duplicate, no gap)
    import org.apache.spark.sql.functions._
    val perPart = spark.read.parquet(store.dataDir)
      .where(col("topic") === "t")
      .groupBy(col("token"), col("range"))
      .agg(count(lit(1)).as("n"), countDistinct(col("offset")).as("d"),
        min(col("offset")).as("lo"), max(col("offset")).as("hi"))
      .collect()
    assert(perPart.nonEmpty)
    perPart.foreach { r =>
      val (n, d, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n == d && lo == 0L && hi == n - 1,
        s"contiguity broken at token=${r.get(0)} range=${r.get(1)}: n=$n d=$d lo=$lo hi=$hi")
    }
  }

  test("drain request at the commit fence: the claimant aborts retryably, releases, and re-acquires after clear") {
    val root = Files.createTempDirectory("graft-drain").toString
    withPartitionConf("0-5") {
      val store = new TopicStore(spark, root)
      assert(store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 10, "da"))) == 10L)
      assert(store.planeLeaseEpoch.isDefined)
      // a coordinator (any process, even this one) requests a drain
      PlaneLease.requestDrain(root, hconf)
      // the next produce hits the drain file in its own commit-fence
      // listing: RETRYABLE abort, claim released on the retry path
      intercept[graft.engine.PlaneDrainingException] {
        store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 10, "db")))
      }
      intercept[graft.engine.PlaneDrainingException] {
        store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 10, "db")))
      }
      // the claims are gone: the coordinator's wait sees no live claim
      assert(PlaneLease.liveScopedClaims(root, hconf).isEmpty)
      // while draining, a fresh scoped acquisition is also refused
      // (gated on the master drain file), tested cross-shape via the
      // consumer claim in ITS own root below — here just clear and retry
      PlaneLease.clearDrain(root, hconf)
      assert(store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 10, "dc"))) == 10L)
      assert(store.planeLeaseEpoch.isDefined,
        "the store must have re-acquired its claim after the drain cleared")
      assert(store.persistedProducerOffsets("t").values.sum == 20L,
        "the aborted round must not have advanced the watermark")
      // a CRASHED coordinator's abandoned drain ages out instead of
      // blocking scoped acquisitions forever: an old drain file is ignored
      PlaneLease.requestDrain(root, hconf)
      new java.io.File(leaseDir(root), "drain-req")
        .setLastModified(System.currentTimeMillis() - 2 * PlaneLease.DrainMaxAgeMs)
      leaseDir(root).listFiles().filter(_.isDirectory).foreach { d =>
        val f = new java.io.File(d, "drain-req")
        if (f.exists()) { f.setLastModified(System.currentTimeMillis() - 2 * PlaneLease.DrainMaxAgeMs); () }
      }
      assert(store.produceLocal("t", localRows(keysInto((0 to 5).toSet, 10, "dd"))) == 10L,
        "an aged-out drain must not block the claimant")
      PlaneLease.clearDrain(root, hconf)
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("coordinated rescale drains two live partition writers; they re-acquire and produce under the new generation") {
    val root = Files.createTempDirectory("graft-drainrescale").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def fork(spec: String, prefix: String): Process = {
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
          "graft.PartitionProduceChild", root, spec, "t", "40", prefix)): _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val a = fork("0-5", "ra")
    val b = fork("6-11", "rb")
    try {
      def reader(p: Process) = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      def await(rd: java.io.BufferedReader, prefix: String, who: String): String = {
        var l = rd.readLine()
        while (l != null && !l.startsWith(prefix)) l = rd.readLine()
        assert(l != null, s"$who died before $prefix")
        l
      }
      def send(p: Process, str: String): Unit = {
        p.getOutputStream.write((str + "\n").getBytes("UTF-8")); p.getOutputStream.flush()
      }
      val (ra, rb) = (reader(a), reader(b))
      assert(await(ra, "WROTE", "writer A") == "WROTE 40")
      assert(await(rb, "WROTE", "writer B") == "WROTE 40")
      // the coordinator rescales WHILE both writers hold live claims: the
      // drain asks them to release — no operator sequencing
      val coord = new TopicStore(spark, root)
      @volatile var flippedSize = 0
      @volatile var failed: Option[Throwable] = None
      val t = new Thread(() => {
        try flippedSize = coord.rescaleWithDrain("t", 6, drainTimeoutMs = 90000L).clusterSize
        catch { case e: Throwable => failed = Some(e) }
      }, "drain-rescale")
      t.start()
      // idle claimants notice the drain at their (test-driven) heartbeat
      var spins = 0
      while (t.isAlive && spins < 100) {
        send(a, "TICK"); send(b, "TICK")
        await(ra, "TICKED", "writer A"); await(rb, "TICKED", "writer B")
        Thread.sleep(200)
        spins += 1
      }
      t.join(90000)
      failed.foreach(throw _)
      assert(flippedSize == 6, s"flip missing: clusterSize=$flippedSize")
      // hand the plane back so the writers can re-acquire
      coord.releasePlaneLease()
      // both writers produce again WITHOUT restart: their stores
      // re-acquire (fresh epoch, refreshed generation) and land in v2
      send(a, "MORE"); send(b, "MORE")
      assert(await(ra, "WROTE", "writer A") == "WROTE 40")
      assert(await(rb, "WROTE", "writer B") == "WROTE 40")
      send(a, ""); send(b, "")
      Seq(a, b).foreach { p =>
        assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0)
      }
    } finally { Seq(a, b).foreach { p => p.destroyForcibly(); () } }
    // verification under fresh root authority: all four rounds visible,
    // served across the lineage, offsets contiguous per (version, part)
    val store = new TopicStore(spark, root)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    val rows = store.poll("g", "t", "c").collect()
    assert(rows.length == 160, s"expected 160 records across the flip, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("version")).distinct.sorted.toSeq == Seq(1, 2),
      "records must span both generations")
    rows.groupBy(r => (r.getAs[Int]("version"), r.getAs[Int]("part"))).foreach {
      case ((v, part), rs) =>
        val offs = rs.map(_.getAs[Long]("offset")).sorted
        assert(offs.head == 0L && offs.last == offs.length - 1L &&
          offs.distinct.length == offs.length,
          s"contiguity broken at v$v part=$part: ${offs.mkString(",")}")
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }
}
