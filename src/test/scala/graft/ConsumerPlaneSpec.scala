package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{PlaneFencedException, PlaneLease, PlaneLeaseHeldException, TopicStore}

/** CONSUMER-PLANE leases: a process that owns registry rows and
  * group-offset commits — and nothing else — coexisting with live
  * partition-scoped producer processes over one root. Completes the
  * horizontal deployment story: N producer JVMs + 1 consumer-plane JVM,
  * no root-lease owner needed while they run. In-JVM protocol units plus
  * a REAL three-process test (two producer JVMs + one consumer JVM).
  */
class ConsumerPlaneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("consumer-plane-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def hconf = new Configuration()
  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
  private def leaseDir(root: String) = new java.io.File(s"$root/_meta/_plane")
  private def rootKeyOf(root: String) = TopicStore.normalizeRoot(root, hconf)

  private def withConsumerConf[T](body: => T): T = {
    spark.conf.set("spark.graft.planeLeaseRole", "consumer")
    try body finally spark.conf.unset("spark.graft.planeLeaseRole")
  }

  private def writeLeaseFile(dir: java.io.File, epoch: Long, content: String,
      ageMs: Long = 0L): java.io.File = {
    dir.mkdirs()
    val f = new java.io.File(dir, f"lease-$epoch%020d")
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    if (ageMs > 0L) { f.setLastModified(System.currentTimeMillis() - ageMs); () }
    f
  }

  test("a consumer-plane store registers, polls, commits; produce and maintenance are refused") {
    val root = Files.createTempDirectory("graft-cons").toString
    // a root-authority producer seeds the topic, then exits (release)
    val producer = new TopicStore(spark, root)
    producer.produceStrings("t", (0 until 10).map(i => (s"k$i", s"v$i", ts(i))))
    PlaneLease.dropForTests(rootKeyOf(root))
    withConsumerConf {
      val store = new TopicStore(spark, root)
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      // the claim landed in the consumer dir, not the root plane
      assert(new java.io.File(leaseDir(root), "consumer").listFiles()
        .exists(_.getName.startsWith("lease-")))
      assert(!leaseDir(root).listFiles().exists(f =>
        f.isFile && f.getName.startsWith("lease-")))
      // poll + auto-commit run under consumer authority
      assert(store.poll("g", "t", "c").count() == 10L)
      assert(store.poll("g", "t", "c").count() == 0L,
        "the auto-commit (a consumer-authority write) must have advanced the group")
      // everything else is refused loudly
      val p = intercept[PlaneLeaseHeldException] {
        store.produceStrings("t", Seq(("k", "v", ts(99))))
      }
      assert(p.getMessage.contains("CONSUMER-PLANE"), p.getMessage)
      intercept[PlaneLeaseHeldException] {
        store.produceLocal("t", Seq(TopicStore.LocalRecord("k", Array[Byte](1), 1L, 0L)))
      }
      intercept[PlaneLeaseHeldException] { store.compact("t") }
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("consumer acquisition: live foreign root rejects; stale root superseded via marker; live partition claims coexist") {
    val root = Files.createTempDirectory("graft-cons").toString
    val rootLease = writeLeaseFile(leaseDir(root), 4L, "rootwriter@elsewhere\nttl=60000")
    val ex = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwnedConsumer(rootKeyOf(root), root, hconf)
    }
    assert(ex.getMessage.contains("ROOT-WIDE"), ex.getMessage)
    // stale root + LIVE foreign partition claims: consumer still acquires
    // (compatible), and the stale root is fenced with a marker at epoch+1
    rootLease.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    writeLeaseFile(new java.io.File(leaseDir(root), "part-p00002"), 1L,
      "partwriter@elsewhere\nttl=60000")
    PlaneLease.ensureOwnedConsumer(rootKeyOf(root), root, hconf)
    val rootFiles = leaseDir(root).listFiles().filter(f => f.isFile && f.getName.startsWith("lease-"))
    assert(rootFiles.map(_.getName).toSeq == Seq(f"lease-${5L}%020d"))
    val markerContent =
      new String(java.nio.file.Files.readAllBytes(rootFiles.head.toPath), "UTF-8")
    assert(markerContent.contains("mode=marker"), markerContent)
    assert(markerContent.contains("by=consumer-plane"), markerContent)
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("root acquisition rejects a live foreign consumer claim; supersedes a stale one") {
    val root = Files.createTempDirectory("graft-cons").toString
    val cdir = new java.io.File(leaseDir(root), "consumer")
    val live = writeLeaseFile(cdir, 3L, "consumer@elsewhere\nttl=60000")
    val ex = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    }
    assert(ex.getMessage.contains("consumer plane"), ex.getMessage)
    assert(!leaseDir(root).listFiles().exists(f => f.isFile && f.getName.startsWith("lease-")),
      "the failed root claim must roll back")
    live.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    assert(cdir.listFiles().map(_.getName).toSeq.sorted == Seq(f"lease-${4L}%020d"),
      "the stale consumer claim must be superseded at epoch+1 (file kept)")
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("a fresh scoped-claimant MARKER never blocks a root claimant once the scoped claims are gone") {
    val root = Files.createTempDirectory("graft-cons").toString
    // a scoped claimant fenced a crashed root owner (epoch 7 marker,
    // FRESH mtime) and has since exited cleanly (its claim dirs are
    // empty): the next root claimant must acquire at epoch 8 immediately
    // instead of waiting out the marker's TTL — markers claim nothing
    writeLeaseFile(leaseDir(root), 7L,
      "scoped-claimant@elsewhere\nttl=60000\nmode=parts")
    PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    val names = leaseDir(root).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("lease-")).map(_.getName)
    assert(names.toSeq == Seq(f"lease-${8L}%020d"), names.mkString(","))
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("a paused consumer-plane owner's next COMMIT is rejected at a higher epoch") {
    val root = Files.createTempDirectory("graft-cons").toString
    val producer = new TopicStore(spark, root)
    producer.produceStrings("t", Seq(("k", "v", ts(0))))
    PlaneLease.dropForTests(rootKeyOf(root))
    withConsumerConf {
      val store = new TopicStore(spark, root)
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      // a usurper consumer-plane process claims epoch+1; our heartbeat
      // has not run — the commit-point fence must catch it
      writeLeaseFile(new java.io.File(leaseDir(root), "consumer"), 2L,
        "usurper@elsewhere\nttl=60000")
      val ex = intercept[PlaneFencedException] {
        store.commit("g", "t", Map(0 -> 1L))
      }
      assert(ex.getMessage.contains("superseded"), ex.getMessage)
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("the REST serving front works over a consumer-plane store: register/poll/commit serve, produce is refused") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest}
    import java.net.http.HttpRequest.BodyPublishers
    import java.net.http.HttpResponse.BodyHandlers
    val root = Files.createTempDirectory("graft-cons").toString
    val producer = new TopicStore(spark, root)
    producer.produceStrings("t",
      (0 until 4).map(i => (s"k$i", s"""{"v":$i}""", ts(i))))
    PlaneLease.dropForTests(rootKeyOf(root))
    withConsumerConf {
      val store = new TopicStore(spark, root)
      val server = new graft.serving.RestServer(store, port = 0, coalesceMs = 20L).start()
      val base = s"http://localhost:${server.boundPort}"
      val client = HttpClient.newHttpClient()
      def put(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(base + path)).PUT(BodyPublishers.noBody()).build(),
        BodyHandlers.ofString())
      def post(path: String, body: String = "") = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .POST(BodyPublishers.ofString(body))
          .header("Content-Type", "application/json")
          .header("Accept", "application/json").build(),
        BodyHandlers.ofString())
      try {
        assert(put("/v1/consumer/register?consumerId=c&group=g&topic=t&onNewGroup=startFromEarliest")
          .statusCode() == 200)
        val poll = post("/v1/consumer/poll?consumerId=c")
        assert(poll.statusCode() == 200, s"poll: ${poll.statusCode()} ${poll.body()}")
        assert(poll.body().contains("\"v\":0") && poll.body().contains("\"v\":3"), poll.body())
        assert(post("/v1/consumer/poll?consumerId=c").statusCode() == 204,
          "the commit plane must persist under the consumer lease")
        // a produce POST against the consumer-plane member is refused —
        // clients route produce to a partition/root broker (discovery)
        val prod = post("/v1/topic/t/messages?partitionKey=x&timestamp=1700000000000000",
          """{"v":9}""")
        assert(prod.statusCode() >= 400, s"produce must be refused: ${prod.statusCode()}")
        assert(post("/v1/consumer/goodbye?consumerId=c").statusCode() == 200)
      } finally server.stop()
    }
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("three processes: two partition producers + one consumer-plane JVM over one root") {
    val root = Files.createTempDirectory("graft-3proc").toString
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
    def fork(main: String, args: String*): Process = {
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp, main) ++ args): _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val a = fork("graft.PartitionProduceChild", root, "0-5", "t", "40", "ca")
    val b = fork("graft.PartitionProduceChild", root, "6-11", "t", "40", "cb")
    val procs = scala.collection.mutable.ArrayBuffer(a, b)
    try {
      def reader(p: Process) = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      def await(rd: java.io.BufferedReader, prefix: String, who: String): String = {
        var l = rd.readLine()
        while (l != null && !l.startsWith(prefix)) l = rd.readLine()
        assert(l != null, s"$who died before $prefix")
        l
      }
      def send(p: Process, s: String): Unit = {
        p.getOutputStream.write((s + "\n").getBytes("UTF-8")); p.getOutputStream.flush()
      }
      val (ra, rb) = (reader(a), reader(b))
      assert(await(ra, "WROTE", "producer A") == "WROTE 40")
      assert(await(rb, "WROTE", "producer B") == "WROTE 40")
      // the consumer-plane process starts WHILE both producers hold their
      // partition claims — the leases are compatible by design
      val c = fork("graft.ConsumerPlaneChild", root, "t")
      procs += c
      val rc = reader(c)
      assert(await(rc, "REGISTERED", "consumer") == "REGISTERED")
      send(c, "POLL")
      assert(await(rc, "POLLED", "consumer") == "POLLED 80",
        "the consumer must see both live producers' records")
      // producers write a second round while the consumer plane is live
      send(a, "MORE"); send(b, "MORE")
      assert(await(ra, "WROTE", "producer A") == "WROTE 40")
      assert(await(rb, "WROTE", "producer B") == "WROTE 40")
      // the consumer's next drain sees exactly the new records (its own
      // committed offsets hold across rounds — never re-delivered)
      send(c, "POLL")
      assert(await(rc, "POLLED", "consumer") == "POLLED 80")
      // clean exits release all three claims
      send(a, ""); send(b, ""); send(c, "")
      procs.foreach { p =>
        assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0)
      }
    } finally procs.foreach { p => p.destroyForcibly(); () }
    // a root-authority successor verifies the final state end-to-end
    val store = new TopicStore(spark, root)
    store.registry.register("g2", "c2", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g2", "t", "c2").count() == 160L)
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("a RANGE-SCOPED consumer member serves and commits only its claim, via a lane table") {
    val root = Files.createTempDirectory("graft-consrange").toString
    val producer = new TopicStore(spark, root)
    producer.produceStrings("t", (0 until 60).map(i => (s"k$i", s"v$i", ts(i))))
    val high = producer.persistedProducerOffsets("t")
    assert(high.keySet.exists(_ <= 5) && high.keySet.exists(_ > 5),
      "fixture must span both ring halves")
    PlaneLease.dropForTests(rootKeyOf(root))
    spark.conf.set("spark.graft.planeLeaseRole", "consumer:0-5")
    try {
      val store = new TopicStore(spark, root)
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      // claims landed under consumer/part-p*, nothing on the root plane
      val cdir = new java.io.File(leaseDir(root), "consumer")
      val claimed = cdir.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("part-p"))
        .map(_.getName).sorted
      assert(claimed.toSeq == (0 to 5).map(p => f"part-p$p%05d"), claimed.mkString(","))
      assert(!cdir.listFiles().exists(f => f.isFile && f.getName.startsWith("lease-")),
        "a range-scoped member must not claim the consumer dir itself")
      // polls serve ONLY the claim
      val rows = store.poll("g", "t", "c").collect()
      assert(rows.nonEmpty && rows.forall(_.getAs[Int]("part") <= 5),
        s"served parts: ${rows.map(_.getAs[Int]("part")).distinct.sorted.mkString(",")}")
      assert(rows.length.toLong == high.filter(_._1 <= 5).values.sum)
      assert(store.poll("g", "t", "c").count() == 0L,
        "the auto-commit must have advanced the claimed partitions")
      // the commit landed in a LANE sub-table, never the shared base
      val gdir = new java.io.File(s"$root/_meta/group_offsets/g/t/v1")
      assert(gdir.listFiles().exists(d => d.isDirectory && d.getName == "lane-0-5"),
        gdir.listFiles().map(_.getName).mkString(","))
      assert(!gdir.listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "a range-scoped member must not touch the shared group-offset table")
      // commits are TRIMMED to the claim (commit returns the accepted subset)
      assert(store.commit("g", "t", Map(7 -> 1L)).isEmpty)
      // the merged read view equals the watermark for the claimed parts
      assert(store.groupOffsets("g", "t") == high.filter(_._1 <= 5))
      // produce and maintenance stay refused
      intercept[PlaneLeaseHeldException] {
        store.produceStrings("t", Seq(("k", "v", ts(99))))
      }
      intercept[PlaneLeaseHeldException] { store.compact("t") }
    } finally spark.conf.unset("spark.graft.planeLeaseRole")
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("range-scoped consumer lease protocol: full-owner exclusion both ways, root scan reaches nested claims") {
    val root = Files.createTempDirectory("graft-consrange").toString
    val cdir = new java.io.File(leaseDir(root), "consumer")
    // live FULL consumer owner blocks a range claim
    val full = writeLeaseFile(cdir, 3L, "fullconsumer@elsewhere\nttl=60000")
    val ex = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwnedConsumerPartitions(rootKeyOf(root), root, hconf,
        TopicStore.parsePartitionSpec("0-5"))
    }
    assert(ex.getMessage.contains("PLANE-WIDE"), ex.getMessage)
    // stale full owner: fenced with a marker in the consumer dir, claim lands
    full.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    PlaneLease.ensureOwnedConsumerPartitions(rootKeyOf(root), root, hconf,
      TopicStore.parsePartitionSpec("0-5"))
    val cfiles = cdir.listFiles().filter(f => f.isFile && f.getName.startsWith("lease-"))
    assert(cfiles.map(_.getName).toSeq == Seq(f"lease-${4L}%020d"), cfiles.mkString(","))
    val marker = new String(java.nio.file.Files.readAllBytes(cfiles.head.toPath), "UTF-8")
    assert(marker.contains("mode=marker") && marker.contains("by=consumer-partition"), marker)
    PlaneLease.dropForTests(rootKeyOf(root))
    // a ROOT claimant scans NESTED consumer claims: a live foreign one rejects
    writeLeaseFile(new java.io.File(cdir, "part-p00002"), 1L,
      "scopedconsumer@elsewhere\nttl=60000")
    val ex2 = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwned(rootKeyOf(root), root, hconf)
    }
    assert(ex2.getMessage.contains("consumer range partition"), ex2.getMessage)
    // a FULL consumer claimant likewise rejects the live scoped claim
    val ex3 = intercept[PlaneLeaseHeldException] {
      PlaneLease.ensureOwnedConsumer(rootKeyOf(root), root, hconf)
    }
    assert(ex3.getMessage.contains("consumer range partition"), ex3.getMessage)
    // stale scoped claim: the full claimant supersedes it at epoch+1 (kept)
    new java.io.File(new java.io.File(cdir, "part-p00002"), f"lease-${1L}%020d")
      .setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    PlaneLease.ensureOwnedConsumer(rootKeyOf(root), root, hconf)
    val pnames = new java.io.File(cdir, "part-p00002").listFiles().map(_.getName).sorted
    assert(pnames.toSeq == Seq(f"lease-${2L}%020d"), pnames.mkString(","))
    PlaneLease.dropForTests(rootKeyOf(root))
  }

  test("two RANGE-SCOPED consumer JVMs drain one group over disjoint ranges") {
    val root = Files.createTempDirectory("graft-consrange2").toString
    val producer = new TopicStore(spark, root)
    producer.produceStrings("t", (0 until 120).map(i => (s"k$i", s"v$i", ts(i))))
    val high = producer.persistedProducerOffsets("t")
    PlaneLease.dropForTests(rootKeyOf(root))
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
    def fork(args: String*): Process = {
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
          "graft.ConsumerPlaneChild") ++ args): _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val a = fork(root, "t", "consumer:0-5", "g", "ca")
    val b = fork(root, "t", "consumer:6-11", "g", "cb")
    try {
      def reader(p: Process) = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      def await(rd: java.io.BufferedReader, prefix: String, who: String): String = {
        var l = rd.readLine()
        while (l != null && !l.startsWith(prefix)) l = rd.readLine()
        assert(l != null, s"$who died before $prefix")
        l
      }
      def send(p: Process, s: String): Unit = {
        p.getOutputStream.write((s + "\n").getBytes("UTF-8")); p.getOutputStream.flush()
      }
      val (ra, rb) = (reader(a), reader(b))
      assert(await(ra, "REGISTERED", "consumer A") == "REGISTERED")
      assert(await(rb, "REGISTERED", "consumer B") == "REGISTERED")
      send(a, "POLL"); send(b, "POLL")
      val nA = await(ra, "POLLED", "consumer A").stripPrefix("POLLED ").toLong
      val pA = await(ra, "PARTS", "consumer A").stripPrefix("PARTS ")
        .split(",").filter(_.nonEmpty).map(_.toInt).toSet
      val nB = await(rb, "POLLED", "consumer B").stripPrefix("POLLED ").toLong
      val pB = await(rb, "PARTS", "consumer B").stripPrefix("PARTS ")
        .split(",").filter(_.nonEmpty).map(_.toInt).toSet
      assert(nA + nB == 120L, s"drained $nA + $nB of 120")
      assert(pA.forall(_ <= 5) && pB.forall(_ > 5),
        s"claims leaked: A=$pA B=$pB")
      assert((pA ++ pB) == high.keySet,
        s"the two members together must cover every produced partition: " +
          s"A=$pA B=$pB data=${high.keySet}")
      // lane commits are durable: a second drain round sees nothing
      send(a, "POLL"); send(b, "POLL")
      assert(await(ra, "POLLED", "consumer A") == "POLLED 0")
      assert(await(rb, "POLLED", "consumer B") == "POLLED 0")
      send(a, ""); send(b, "")
      Seq(a, b).foreach { p =>
        assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0)
      }
    } finally Seq(a, b).foreach { p => p.destroyForcibly(); () }
    // a root successor reads the merged committed state: the group is
    // fully drained, per-partition offsets equal to the watermark
    val store = new TopicStore(spark, root)
    assert(store.groupOffsets("g", "t") == high,
      s"merged lanes must equal the watermark: ${store.groupOffsets("g", "t")} vs $high")
    store.registry.register("g2", "c2", Seq("t"), store.StartFrom.Earliest)
    assert(store.poll("g2", "t", "c2").count() == 120L)
    PlaneLease.dropForTests(rootKeyOf(root))
  }
}
