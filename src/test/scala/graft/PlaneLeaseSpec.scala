package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{PlaneFencedException, PlaneLease, PlaneLeaseHeldException, TopicStore}

/** Cross-process single-writer lease specs (the C1 generation-transaction
  * analog collapsed to a lease per root,
  * `internal/ownership/process_local.go:16-209`): in-JVM protocol units
  * plus REAL two-process tests via a forked probe JVM.
  */
class PlaneLeaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("lease-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def hconf = new org.apache.hadoop.conf.Configuration()
  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  private def leaseDir(root: String) = new java.io.File(s"$root/_meta/_plane")

  private def writeForeignLease(root: String, epoch: Long, owner: String,
      ageMs: Long = 0L): java.io.File = {
    val dir = leaseDir(root)
    dir.mkdirs()
    val f = new java.io.File(dir, f"lease-$epoch%020d")
    java.nio.file.Files.write(f.toPath, owner.getBytes("UTF-8"))
    if (ageMs > 0L) { f.setLastModified(System.currentTimeMillis() - ageMs); () }
    f
  }

  test("first mutating op acquires the root's lease; held roots are free") {
    val root = Files.createTempDirectory("graft-lease").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", Seq(("k", "v", ts(0))))
    val files = leaseDir(root).listFiles()
    assert(files != null && files.count(_.getName.startsWith("lease-")) == 1)
    val lease = files.find(_.getName.startsWith("lease-")).get
    val content = new String(java.nio.file.Files.readAllBytes(lease.toPath), "UTF-8")
    val lines = content.split('\n').map(_.trim)
    assert(lines.headOption.contains(PlaneLease.ownerId))
    // the owner RECORDS its TTL so claimants judge staleness by the
    // owner's cadence, never their own (a short-TTL test claimant can't
    // kill a healthy production owner)
    assert(lines.exists(_.startsWith("ttl=")), s"owner TTL missing: $content")
    // same JVM, second store instance over the root: shares the lease
    val second = new TopicStore(spark, root)
    second.produceStrings("t", Seq(("k", "v2", ts(1))))
    assert(leaseDir(root).listFiles().count(_.getName.startsWith("lease-")) == 1)
  }

  test("a live foreign lease rejects this process's produce loudly") {
    val root = Files.createTempDirectory("graft-lease").toString
    writeForeignLease(root, 5L, "other-process@elsewhere")
    val store = new TopicStore(spark, root)
    val ex = intercept[PlaneLeaseHeldException] {
      store.produceStrings("t", Seq(("k", "v", ts(0))))
    }
    assert(ex.getMessage.contains("other-process@elsewhere"))
    assert(ex.getMessage.contains("epoch 5"))
  }

  test("a stale foreign lease is fenced by claiming the next epoch") {
    val root = Files.createTempDirectory("graft-lease").toString
    val rootKey = TopicStore.normalizeRoot(root, hconf)
    writeForeignLease(root, 5L, "dead-process@elsewhere", ageMs = 3600 * 1000L)
    PlaneLease.ensureOwned(rootKey, root, hconf, ttlMs = 1000L)
    val names = leaseDir(root).listFiles().map(_.getName).filter(_.startsWith("lease-"))
    assert(names.toSeq == Seq(f"lease-${6L}%020d"),
      s"expected the successor epoch to replace the stale lease, got ${names.toSeq}")
  }

  test("a superseding epoch fences this process's lease at the next heartbeat") {
    val root = Files.createTempDirectory("graft-lease").toString
    val rootKey = TopicStore.normalizeRoot(root, hconf)
    PlaneLease.ensureOwned(rootKey, root, hconf)
    // a usurper (another process after our missed heartbeats) claims +1
    writeForeignLease(root, 2L, "usurper@elsewhere")
    PlaneLease.heartbeatTick()
    val ex = intercept[PlaneFencedException] {
      PlaneLease.ensureOwned(rootKey, root, hconf)
    }
    assert(ex.getMessage.contains("superseded"))
    PlaneLease.dropForTests(rootKey) // clear the fence for other suites
  }

  test("a store takes over a dead process's stale lease and produces at epoch+1") {
    val root = Files.createTempDirectory("graft-lease").toString
    writeForeignLease(root, 3L, "crashed-process@elsewhere", ageMs = 3600 * 1000L)
    val store = new TopicStore(spark, root)
    spark.conf.set("spark.graft.planeLeaseTtlMs", "1000")
    try {
      // the crash-recovery path end-to-end: produce succeeds, the dead
      // owner's lease is superseded at epoch+1, records are served
      store.produceStrings("t", Seq(("k", "v", ts(0))))
      assert(store.planeLeaseEpoch.contains(4L),
        s"expected takeover at epoch 4, got ${store.planeLeaseEpoch}")
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      assert(store.poll("g", "t", "c").count() == 1L)
    } finally spark.conf.unset("spark.graft.planeLeaseTtlMs")
  }

  test("two processes: a forked JVM's acquisition on our leased root exits 7") {
    val root = Files.createTempDirectory("graft-lease").toString
    val store = new TopicStore(spark, root)
    store.produceStrings("t", Seq(("k", "v", ts(0)))) // we hold the lease
    val (code, out) = probe(root)
    assert(code == 7, s"child must be rejected loudly, exit=$code out=$out")
    assert(out.contains("HELD") && out.contains(PlaneLease.ownerId.take(12)),
      s"rejection must name the owner: $out")
  }

  test("two processes: our produce on a root leased by a LIVE forked JVM fails loudly") {
    val root = Files.createTempDirectory("graft-lease").toString
    // the child must stay ALIVE while we probe: clean exits release the
    // lease (shutdown hook), so this forks with a 60 s hold and reads
    // only the ACQUIRED line before testing
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.LeaseProbeChild", root, "60000")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    try {
      val first = rd.readLine()
      assert(first == "ACQUIRED", s"child acquire failed: $first")
      val store = new TopicStore(spark, root)
      val ex = intercept[PlaneLeaseHeldException] {
        store.produceStrings("t", Seq(("k", "v", ts(0))))
      }
      assert(ex.getMessage.contains("leased by"), ex.getMessage)
    } finally { proc.destroyForcibly(); () }
  }

  test("a cleanly exited process's lease is released: successor contends at once") {
    val root = Files.createTempDirectory("graft-lease").toString
    val (code, out) = probe(root) // no hold: acquires, exits, hook releases
    assert(code == 0 && out.contains("ACQUIRED"), s"child acquire failed: $code $out")
    assert(leaseDir(root).listFiles().forall(!_.getName.startsWith("lease-")),
      "clean exit must release the lease file")
    // no TTL wait: the successor acquires immediately and produces
    val store = new TopicStore(spark, root)
    store.produceStrings("t", Seq(("k", "v", ts(0))))
    assert(store.planeLeaseEpoch.nonEmpty)
  }

  test("N forked JVMs racing one root: exactly one wins the lease") {
    val root = Files.createTempDirectory("graft-lease").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // launch all claimants before reading any output, so their acquire
    // calls genuinely overlap on the create-exclusive epoch name; the
    // winner HOLDS (60 s) — a clean exit would release the lease and let
    // a late claimant legitimately acquire afterwards (exclusion is
    // at-any-instant, not across time)
    val procs = (0 until 4).map { _ =>
      val pb = new ProcessBuilder(
        javaBin, "-cp", cp, "graft.LeaseProbeChild", root, "60000")
      pb.redirectErrorStream(true)
      pb.start()
    }
    try {
      val firstLines = procs.map { proc =>
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
        rd.readLine()
      }
      val winners = firstLines.count(_ == "ACQUIRED")
      val rejected = firstLines.count(l => l != null && l.startsWith("HELD"))
      assert(winners == 1 && rejected == 3,
        s"create-exclusive must pick exactly one winner: $firstLines")
      // the winner is alive and holding: a late store is rejected loudly
      val store = new TopicStore(spark, root)
      val ex = intercept[PlaneLeaseHeldException] {
        store.produceStrings("t", Seq(("k", "v", ts(0))))
      }
      assert(ex.getMessage.contains("leased by"), ex.getMessage)
    } finally procs.foreach { p => p.destroyForcibly(); () }
  }

  test("compatibility table: every holder/claimant pair of the four claim shapes, live and stale") {
    import scala.collection.immutable.SortedSet
    // a shape: its claim nodes (relative to _plane) for a part set, and
    // the public entry point that acquires it
    final case class Shape(name: String, nodes: SortedSet[Int] => Seq[String],
        acquire: (String, String, SortedSet[Int]) => Boolean)
    val rootShape = Shape("root", _ => Seq(""), (k, r, _) => PlaneLease.ensureOwned(k, r, hconf))
    val partsShape = Shape("parts", _.toSeq.map(p => f"part-p$p%05d"),
      (k, r, ps) => PlaneLease.ensureOwnedPartitions(k, r, hconf, ps))
    val consumerShape = Shape("consumer", _ => Seq("consumer"),
      (k, r, _) => PlaneLease.ensureOwnedConsumer(k, r, hconf))
    val consumerPartsShape = Shape("consumer-parts", _.toSeq.map(p => f"consumer/part-p$p%05d"),
      (k, r, ps) => PlaneLease.ensureOwnedConsumerPartitions(k, r, hconf, ps))
    // does a LIVE holder reject the claimant, with the claimant's part set
    // overlapping the holder's / disjoint from it?
    val table = Seq(
      // holder            claimant            overlap disjoint
      (rootShape,          rootShape,          true,   true),
      (rootShape,          partsShape,         true,   true),
      (rootShape,          consumerShape,      true,   true),
      (rootShape,          consumerPartsShape, true,   true),
      (partsShape,         rootShape,          true,   true),
      (partsShape,         partsShape,         true,   false),
      (partsShape,         consumerShape,      false,  false),
      (partsShape,         consumerPartsShape, false,  false),
      (consumerShape,      rootShape,          true,   true),
      (consumerShape,      partsShape,         false,  false),
      (consumerShape,      consumerShape,      true,   true),
      (consumerShape,      consumerPartsShape, true,   true),
      (consumerPartsShape, rootShape,          true,   true),
      (consumerPartsShape, partsShape,         false,  false),
      (consumerPartsShape, consumerShape,      true,   true),
      (consumerPartsShape, consumerPartsShape, true,   false))
    val holderParts = SortedSet(2, 3)
    // the tree rule the table spells out: two nodes conflict when equal or
    // when one is an ancestor of the other
    def related(a: String, b: String): Boolean =
      a == b || a.isEmpty || b.isEmpty || a.startsWith(b + "/") || b.startsWith(a + "/")
    def newestEpoch(d: java.io.File): Long =
      d.listFiles().map(_.getName).filter(_.startsWith("lease-"))
        .map(_.stripPrefix("lease-").toLong).max
    for {
      (holder, claimant, rejectsOverlap, rejectsDisjoint) <- table
      (overlap, claimParts) <- Seq(true -> SortedSet(3, 4), false -> SortedSet(5, 6))
      live <- Seq(true, false)
    } {
      val what = s"${if (live) "live" else "stale"} ${holder.name} holder vs " +
        s"${claimant.name} claimant (${if (overlap) "overlapping" else "disjoint"} parts)"
      val claimNodes = claimant.nodes(claimParts)
      val conflicting = holder.nodes(holderParts).filter(h => claimNodes.exists(related(h, _)))
      assert(conflicting.nonEmpty == (if (overlap) rejectsOverlap else rejectsDisjoint),
        s"table row disagrees with the tree rule: $what")
      val root = Files.createTempDirectory("graft-compat").toString
      val rootKey = TopicStore.normalizeRoot(root, hconf)
      // plant the holder's files where its acquisition lays them out
      val holderDirs = holder.nodes(holderParts).map(n =>
        n -> (if (n.isEmpty) leaseDir(root) else new java.io.File(leaseDir(root), n)))
      holderDirs.foreach { case (_, d) =>
        d.mkdirs()
        val f = new java.io.File(d, f"lease-${4L}%020d")
        Files.write(f.toPath, "holder@elsewhere\nttl=60000".getBytes("UTF-8"))
        if (!live) f.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
      }
      try {
        if (live && conflicting.nonEmpty)
          withClue(what) {
            intercept[PlaneLeaseHeldException](claimant.acquire(rootKey, root, claimParts))
          }
        else {
          assert(claimant.acquire(rootKey, root, claimParts), what)
          // a stale conflicting holder node is fenced at a higher epoch;
          // a compatible one is left alone
          holderDirs.foreach { case (n, d) =>
            val expected = if (conflicting.contains(n)) "higher than 4" else "4"
            val got = newestEpoch(d)
            assert(if (conflicting.contains(n)) got > 4L else got == 4L,
              s"$what: holder node '$n' newest epoch $got, expected $expected")
          }
        }
      } finally PlaneLease.dropForTests(rootKey)
    }
  }

  /** Fork a real probe JVM against `root`: (exit code, combined output). */
  private def probe(root: String): (Int, String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(javaBin, "-cp", cp, "graft.LeaseProbeChild", root)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val done = proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { proc.destroyForcibly(); fail(s"probe JVM hung; output so far: $out") }
    (proc.exitValue(), out)
  }
}
