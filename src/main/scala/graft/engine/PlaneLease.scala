package graft.engine

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.SortedSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.logging.log4j.LogManager

/** Another live process holds the produce/maintenance plane (or one of the
  * requested ring partitions) for this root.
  */
final class PlaneLeaseHeldException(msg: String) extends IllegalStateException(msg)

/** This process's plane lease was superseded by a higher epoch — every
  * subsequent mutating operation on the root must fail instead of racing
  * the successor's watermark/commit plane.
  */
final class PlaneFencedException(msg: String) extends IllegalStateException(msg)

/** RETRYABLE: a coordinator requested a drain of the root's scoped claims
  * (an online rescale/maintenance window — the reference splits ranges
  * while serving, `internal/ownership/process_local_split_range.go`).
  * This process's scoped claims were (or are being) released; clients
  * should retry the operation after the coordinator clears the drain —
  * the store re-acquires automatically on the next mutating call.
  */
final class PlaneDrainingException(msg: String) extends IllegalStateException(msg)

/** Cross-JVM write-plane leases for a store root — the shared-storage
  * collapse of the reference's generation transaction
  * (`internal/ownership/process_local.go:16-209`: propose → accept →
  * commit an ownership epoch among live processes; here process liveness
  * is a heartbeat on an epoch-named lease file over the shared store).
  *
  * THE CLAIM TREE. Every lease lives in one node of a directory tree
  * under `<root>/_meta/_plane`, as `lease-<epoch>` files:
  * {{{
  *   _plane                      Root           produce, maintenance, rescale,
  *   |                                          registry, group commits
  *   |-- part-pNNNNN             Parts(ps)      produce to ring partition N
  *   `-- consumer                Consumer       registry + every group commit
  *       `-- part-pNNNNN         ConsumerParts  registry + group commits of N
  * }}}
  * A process holds ONE [[Claim]] shape per root for its lifetime; the
  * shape names the nodes it owns. Partition producers are the reference's
  * horizontal write plane (disjoint token ranges, offsets assigned without
  * coordination — `internal/ownership/generator.go:134-144`); range-scoped
  * consumers are its consumers-per-broker fan-out
  * (`docs/developer/CONSUMER_ASSIGNMENT.md`).
  *
  * THE COMPATIBILITY RULE. Two nodes conflict when they are the same node
  * or one is an ancestor of the other; siblings never do. So producer
  * `part-p*` and the consumer subtree coexist (disjoint tables), and so do
  * disjoint partition sets; everything else excludes:
  * {{{
  *   holder \ claimant   Root   Parts(B)     Consumer   ConsumerParts(B)
  *   Root                 x      x            x          x
  *   Parts(A)             x      if A∩B≠∅     -          -
  *   Consumer             x      -            x          x
  *   ConsumerParts(A)     x      -            x          if A∩B≠∅
  * }}}
  *
  * ONE ACQUISITION ([[acquire]]), claim-then-validate, safe under races
  * because each side validates AFTER creating its own files, so at least
  * one of two racing conflicting claimants observes the other and backs
  * off (both backing off is possible — loud and retryable, never dual
  * authority):
  *  1. a scoped claim (anything but Root) checks the drain gate;
  *  1. each ancestor node with a live REAL foreign lease throws; a stale
  *     one gets a MARKER at epoch+1 (`mode=marker`, `by=<role>`): it
  *     fences the paused owner but claims nothing, so it blocks no other
  *     claimant;
  *  1. own nodes are claimed ascending, create-exclusive on the next
  *     epoch ([[claimDir]]);
  *  1. the ancestors are re-validated;
  *  1. each existing descendant node with a live foreign lease throws; a
  *     stale one is superseded at epoch+1 by a real lease this process
  *     holds and beats (a paused owner resuming later fences);
  *  1. a failure rolls back only this claimant's own files;
  *  1. superseded epochs are folded only after the whole claim validated,
  *     so a failed claim never erases a marker that keeps an owner fenced.
  *
  * Mutual exclusion within a node is CREATE-EXCLUSIVE on the per-epoch
  * name: O_CREAT|O_EXCL via NIO on the local filesystem, HDFS
  * `create(overwrite=false)`, the conditional-create builder on connectors
  * that advertise `fs.option.create.conditional.overwrite` (S3
  * If-None-Match, GCS generation-match); anything else falls back to
  * `create(overwrite=false)` with a logged warning (a narrow
  * check-then-create window on simultaneous FIRST acquisition only).
  *
  * Liveness is judged by the TTL the OWNER recorded in its lease content
  * (the claimant's TTL only for pre-TTL-format files): a claimant with a
  * short test TTL can never judge a healthy production owner stale.
  *
  * Fencing is two-layered:
  *  - heartbeat-granular: the beat (TTL/4) refreshes every held file
  *    through the FileSystem resolved at acquisition (conf-dependent
  *    schemes — S3A credentials, custom `fs.<scheme>.impl` — keep
  *    beating) and fences when a higher epoch is visible or the own file
  *    vanished. Beat failures count on [[heartbeatFailures]].
  *  - per-write: commit points call [[assertCurrentAtCommit]], which
  *    re-lists the own nodes the write touches and rejects the commit when
  *    a higher epoch is visible — the reference's per-group generation
  *    re-check (`internal/producing/coalescer.go:93-106`). A paused
  *    owner's next COMMIT fails, not merely its next heartbeat.
  *
  * COORDINATED DRAIN ([[requestDrain]]/[[clearDrain]]): a coordinator asks
  * every scoped claimant to release; drain files ride the per-commit fence
  * listing, in-flight commits abort RETRYABLY ([[PlaneDrainingException]]),
  * and claimants re-acquire after the clear. Abandoned drains age out
  * ([[DrainMaxAgeMs]]).
  *
  * Read-only observers (the DSv2 source/observer pattern) never acquire
  * and need no lease.
  */
object PlaneLease {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  /** What a mutating operation needs from the lease plane; which
    * [[Claim]] grants which is [[grants]].
    */
  sealed trait Authority
  /** Maintenance, rescale, generation flips, the stream ledger —
    * root-lease holders only.
    */
  case object RootAuthority extends Authority
  /** Producing to (and advancing the watermarks of) exactly `parts`. */
  final case class ProduceAuthority(parts: Set[Int]) extends Authority
  /** The consumer plane's PARTITION-AGNOSTIC writes: the group registry
    * rows. Every consumer-plane holder (full or range-scoped) has it —
    * the registry swap is convergent across members (rename-first,
    * last-writer-wins on identical policy rows), so range-scoped members
    * may register their own consumers.
    */
  case object ConsumerAuthority extends Authority
  /** Committing group offsets for exactly `parts` — a range-scoped
    * consumer holder has it within its claim only (commits land in a
    * per-claim lane table, like producer watermarks).
    */
  final case class ConsumerCommitAuthority(parts: Set[Int]) extends Authority

  /** The nodes of the claim tree one process owns for a root. */
  sealed trait Claim {
    /** Role tag: a marker's `by=` value and the wording of refusals. */
    def by: String
    /** How refusals and mode-change errors name the claim. */
    def label: String
    /** What the claim may write, for the refusal of everything else. */
    def may: String
    /** The ring partitions a scoped claim covers. */
    def parts: Option[SortedSet[Int]] = None
    /** The nodes this claim owns under the plane dir, ascending. */
    private[engine] def own(plane: Path): Seq[Path]
  }

  object Claim {
    case object Root extends Claim {
      val by = "root"
      val label = "the root lease"
      val may = "write everything"
      def own(plane: Path) = Seq(plane)
    }
    final case class Parts(ps: SortedSet[Int]) extends Claim {
      val by = "partition"
      require(ps.nonEmpty && ps.head >= 0, s"$by lease needs a non-empty set of ring ordinals, got $ps")
      def label = s"a PARTITION-scoped lease (${specOf(ps)})"
      val may = "produce to its own partitions"
      override def parts = Some(ps)
      def own(plane: Path) = ps.toSeq.map(partDir(plane, _))
    }
    case object Consumer extends Claim {
      val by = "consumer-plane"
      val label = "the CONSUMER-PLANE lease"
      val may = "register consumers and commit group offsets"
      def own(plane: Path) = Seq(consumerDir(plane))
    }
    final case class ConsumerParts(ps: SortedSet[Int]) extends Claim {
      val by = "consumer-partition"
      require(ps.nonEmpty && ps.head >= 0, s"$by lease needs a non-empty set of ring ordinals, got $ps")
      def label = s"a RANGE-SCOPED consumer lease (${specOf(ps)})"
      val may = "register consumers and commit group offsets within its claim"
      override def parts = Some(ps)
      def own(plane: Path) = ps.toSeq.map(partDir(consumerDir(plane), _))
    }
  }

  /** Whether `c` grants `a` at all; a scoped claim then also needs the
    * authority's partitions inside its own ([[checkAuthority]]).
    */
  private def grants(c: Claim, a: Authority): Boolean = (c, a) match {
    case (Claim.Root, _) | (Claim.Parts(_), ProduceAuthority(_)) => true
    case (Claim.Consumer | Claim.ConsumerParts(_),
          ConsumerAuthority | ConsumerCommitAuthority(_)) => true
    case _ => false
  }

  /** The partitions an authority restricts its write to; None for a
    * partition-agnostic write.
    */
  private def partsOf(a: Authority): Option[Set[Int]] = a match {
    case ProduceAuthority(ps) => Some(ps)
    case ConsumerCommitAuthority(ps) => Some(ps)
    case _ => None
  }

  /** Stable identity of this process for lease ownership: pid@host plus a
    * random component (two processes can share pid@host across container
    * namespaces; the random suffix keeps identities distinct).
    */
  val ownerId: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    val safe = rt.replaceAll("[^A-Za-z0-9@.]", "_")
    f"$safe-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  val DefaultTtlMs: Long = 60000L

  /** Heartbeat passes that threw (counted per failing lease file, retried
    * next tick) — exported on `/metrics`; a growing count on a healthy
    * store means the lease plane itself is broken (credentials, impl
    * class, permissions) and the single-writer guard is at risk.
    */
  val heartbeatFailures = new AtomicLong

  /** Lease-directory listings performed by per-commit fencing
    * ([[assertCurrentAtCommit]]) — the fence's object-store cost model:
    * each count is one LIST round-trip on S3-shaped stores.
    * `tools.FlushProfile` prints the per-flush delta.
    */
  private[graft] val commitFenceLists = new AtomicLong

  /** One lease file this JVM holds: the claim node it guards and the
    * epoch claimed there.
    */
  private final case class LeaseFile(dir: Path, epoch: Long) {
    def path: Path = new Path(dir, f"lease-$epoch%020d")
  }

  /** A claim this JVM holds. `own` are the files in the claim's own
    * nodes (the ones commits fence on); `kept` the stale descendant leases
    * it superseded, held and beaten so their paused owners stay fenced.
    * `fs` is the FileSystem resolved from the acquisition Configuration —
    * heartbeats and releases reuse it.
    */
  private final case class Held(
      root: String,
      claim: Claim,
      own: Vector[LeaseFile],
      kept: Vector[LeaseFile],
      ttlMs: Long,
      fs: FileSystem) {
    def files: Vector[LeaseFile] = own ++ kept
  }

  /** Parsed lease-file content. `ttlMs` None for pre-format or in-flight
    * (empty) files; `marker` for a fence marker, which claims nothing.
    */
  private final case class LeaseInfo(owner: String, ttlMs: Option[Long], marker: Boolean)

  // rootKey -> claim this JVM holds; append-mostly (one entry per root a
  // JVM ever writes — operationally small, like the store's lock tables)
  private val held = new ConcurrentHashMap[String, Held]()
  private val fencedRoots = ConcurrentHashMap.newKeySet[String]()
  // roots whose scoped claims this JVM observed a drain request for:
  // claims release (here or in the commit fence / heartbeat that saw it)
  // and re-acquisition waits for the coordinator to clear the master file
  private val drainingRoots = ConcurrentHashMap.newKeySet[String]()

  /** The drain-request file a coordinator writes: one master copy in the
    * plane dir (gates new scoped acquisitions) and one in each scoped
    * claim dir (current claimants see it for FREE in their per-commit
    * fence listing). A drain older than [[DrainMaxAgeMs]] is IGNORED — a
    * coordinator that crashed mid-window must not block scoped
    * acquisitions forever; a legitimately long window re-requests (which
    * refreshes the files' mtimes).
    */
  val DrainFileName = "drain-req"

  val DrainMaxAgeMs: Long = 10 * 60 * 1000L

  private def drainActive(st: FileStatus): Boolean =
    System.currentTimeMillis() - st.getModificationTime < DrainMaxAgeMs
  private val warnedSchemes = ConcurrentHashMap.newKeySet[String]()
  @volatile private var beater: java.util.concurrent.ScheduledExecutorService = _

  private def planeDir(root: String) = new Path(new Path(root, "_meta"), "_plane")
  private def partDir(parent: Path, p: Int) = new Path(parent, f"part-p$p%05d")
  private def consumerDir(plane: Path) = new Path(plane, "consumer")

  /** Fast-path guard for every root-authority mutating store operation:
    * no-op when this JVM already holds the root's ROOT lease (one map
    * lookup), acquisition on first touch, loud [[PlaneLeaseHeldException]]
    * if another live process holds the plane or any of its partitions,
    * loud [[PlaneFencedException]] forever after a takeover.
    */
  def ensureOwned(rootKey: String, root: String, conf: Configuration,
      ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, Claim.Root, ttlMs)

  /** The registry/group-commit plane of the root, without produce or
    * maintenance authority ([[Claim.Consumer]]).
    */
  def ensureOwnedConsumer(rootKey: String, root: String, conf: Configuration,
      ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, Claim.Consumer, ttlMs)

  /** Polls and group commits for exactly `parts` ([[Claim.ConsumerParts]]). */
  def ensureOwnedConsumerPartitions(rootKey: String, root: String, conf: Configuration,
      parts: SortedSet[Int], ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, Claim.ConsumerParts(parts), ttlMs)

  /** Produce to exactly `parts` (ring partition ordinals) of the root
    * ([[Claim.Parts]]).
    */
  def ensureOwnedPartitions(rootKey: String, root: String, conf: Configuration,
      parts: SortedSet[Int], ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, Claim.Parts(parts), ttlMs)

  /** Hold `claim` on the root: a no-op (false) when this JVM already holds
    * it, acquisition (true) on first touch; a different claim shape than
    * the one held throws.
    */
  def ensure(rootKey: String, root: String, conf: Configuration, claim: Claim,
      ttlMs: Long): Boolean = {
    assertNotFenced(rootKey)
    // a drain window releases this JVM's scoped claims and holds off
    // re-acquisition until the coordinator clears it (retryable). Under
    // the acquisition lock with a RE-CHECK: two threads racing here after
    // a clear would otherwise double-release — the second one deleting
    // the first one's freshly re-acquired lease files
    if (drainingRoots.contains(rootKey)) monitorFor(rootKey).synchronized {
      if (drainingRoots.contains(rootKey)) handleDraining(rootKey, root, conf)
    }
    val cur = held.get(rootKey)
    if (cur != null) {
      if (cur.claim == claim) return false
      throw new IllegalStateException(
        s"plane-lease mode change for $root (held ${cur.claim.label}, requested " +
          s"${claim.label}): a process claims ONE shape per root for its " +
          "lifetime — restart the process to change the claim")
    }
    // PER-ROOT monitor: acquisition and drain handling for one root
    // serialize without stalling unrelated roots behind this root's
    // filesystem round-trips
    val acquired = monitorFor(rootKey).synchronized {
      !held.containsKey(rootKey) && { held.put(rootKey, acquire(root, conf, claim, ttlMs)); true }
    }
    if (!acquired) return ensure(rootKey, root, conf, claim, ttlMs)
    startBeater()
    true
  }

  // one monitor per root for {acquire | drain-release} mutual exclusion;
  // append-only like `held` (one entry per root a JVM ever touches)
  private val rootMonitors = new ConcurrentHashMap[String, Object]()
  private def monitorFor(rootKey: String): Object =
    rootMonitors.computeIfAbsent(rootKey, _ => new Object)

  /** A drain was observed on this root: release any held claim (safe —
    * every concurrent in-flight commit's fence re-lists its dir and
    * aborts RETRYABLY on the drain file or the vanished own lease), then
    * hold off until the coordinator clears the master drain file.
    */
  private def handleDraining(rootKey: String, root: String, conf: Configuration): Unit = {
    Option(held.remove(rootKey)).foreach(release)
    val plane = planeDir(root)
    assertNotDraining(plane.getFileSystem(conf), plane, root)
    drainingRoots.remove(rootKey)
    ()
  }

  /** A drain file exists at `p` and is young enough to honor. */
  private def activeDrainAt(fs: FileSystem, p: Path): Boolean =
    try drainActive(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => false }

  /** Canonical dash-range spec of a partition set ("0-5" / "0-3_8-11"). */
  def specOf(parts: SortedSet[Int]): String = {
    val sb = new StringBuilder
    var runStart = -1; var prev = -2
    def flush(): Unit = if (runStart >= 0) {
      if (sb.nonEmpty) sb += '_'
      sb ++= (if (runStart == prev) s"$runStart" else s"$runStart-$prev")
    }
    parts.foreach { p =>
      if (p != prev + 1) { flush(); runStart = p }
      prev = p
    }
    flush()
    sb.result()
  }

  /** Acquire `claim` on the root: the seven steps of the class doc. */
  private def acquire(root: String, conf: Configuration, claim: Claim, ttlMs: Long): Held = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    if (claim != Claim.Root) assertNotDraining(fs, plane, root)
    val own = claim.own(plane)
    val above = own.flatMap(ancestorsOf(plane, _)).distinct
    val markers = above.flatMap(fenceStaleAncestor(fs, _, root, claim, ttlMs))
    val owned = Vector.newBuilder[LeaseFile]
    val kept = Vector.newBuilder[LeaseFile]
    try {
      own.foreach { d =>
        fs.mkdirs(d)
        owned += claimDir(fs, d, ttlMs, s"${nodeName(d)} of $root")
      }
      above.foreach { a =>
        liveRealLease(fs, a, ttlMs).foreach { case (e, info) =>
          throw new PlaneLeaseHeldException(
            s"${nodeName(a)} of $root was claimed concurrently (epoch $e by " +
              s"${ownerName(info)}) — releasing this ${claim.by} claim")
        }
      }
      own.flatMap(subtree(fs, _)).foreach { d =>
        newestLease(fs, d) match {
          case Some((e, st, info)) if info.owner != ownerId =>
            if (isLive(st, info, ttlMs))
              throw new PlaneLeaseHeldException(
                s"${nodeName(d)} of $root is leased by ${ownerName(info)} (epoch $e) — " +
                  s"a ${claim.by} claim would race its owner; wait for that process to exit")
            val lf = LeaseFile(d, e + 1)
            if (!createExclusive(fs, lf.path, leaseContent(ttlMs)))
              throw new PlaneLeaseHeldException(s"lost the race superseding a stale lease under $d")
            kept += lf
          case _ => ()
        }
      }
    } catch {
      case t: Throwable =>
        (owned.result() ++ kept.result()).foreach(deleteLease(fs, _))
        throw t
    }
    val h = Held(root, claim, owned.result(), kept.result(), ttlMs, fs)
    (h.files ++ markers).foreach(lf => foldBelow(fs, lf.dir, lf.epoch))
    h
  }

  /** Step 2 for one ancestor node: a live real foreign lease throws; a
    * stale one gets a marker at epoch+1. Losing the marker race needs no
    * handling here: a real winner fails the re-validation after the
    * claim, and a concurrent scoped claimant's marker fences the same
    * owner.
    */
  private def fenceStaleAncestor(fs: FileSystem, a: Path, root: String, claim: Claim,
      ttlMs: Long): Option[LeaseFile] =
    newestLease(fs, a) match {
      case Some((e, st, info)) if !info.marker && info.owner != ownerId =>
        if (isLive(st, info, ttlMs))
          throw new PlaneLeaseHeldException(
            s"${nodeName(a)} of $root is leased " +
              s"${if (a.getName == "_plane") "ROOT-WIDE" else "PLANE-WIDE"} by " +
              s"${ownerName(info)} (epoch $e) — ${claim.by} claimants cannot " +
              "coexist with its owner")
        val lf = LeaseFile(a, e + 1)
        if (createExclusive(fs, lf.path, markerContent(ttlMs, claim.by))) Some(lf) else None
      case _ => None
    }

  /** Claim nodes strictly above `d` in the plane tree, top-down. */
  private def ancestorsOf(plane: Path, d: Path): Seq[Path] =
    Iterator.iterate(d)(_.getParent).slice(1, 1 + d.depth - plane.depth).toSeq.reverse

  /** Existing claim nodes strictly below `d`: the plane dir and the
    * consumer dir have children, `part-p*` nodes are leaves (not listed).
    */
  private def subtree(fs: FileSystem, d: Path): Seq[Path] =
    if (d.getName.startsWith("part-p")) Nil
    else {
      val kids = (try fs.listStatus(d).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty })
        .filter(st => st.isDirectory &&
          (st.getPath.getName.startsWith("part-p") || st.getPath.getName == "consumer"))
        .map(_.getPath)
      kids ++ kids.flatMap(subtree(fs, _))
    }

  private def nodeName(d: Path): String = d.getName match {
    case "_plane" => "the produce/maintenance plane"
    case "consumer" => "the consumer plane"
    case n if d.getParent.getName == "consumer" =>
      s"consumer range partition ${n.stripPrefix("part-p").toInt}"
    case n => s"ring partition ${n.stripPrefix("part-p").toInt}"
  }

  /** A live REAL (non-marker) foreign lease in one node, if any. */
  private def liveRealLease(
      fs: FileSystem, dir: Path, ttlMs: Long): Option[(Long, LeaseInfo)] =
    newestLease(fs, dir) match {
      case Some((e, st, info))
          if !info.marker && info.owner != ownerId && isLive(st, info, ttlMs) =>
        Some((e, info))
      case _ => None
    }

  /** Claim the next epoch in one lease directory. Loud on a live foreign
    * lease (or an in-flight claimant's empty file); a stale one — judged
    * by the TTL its owner recorded — is superseded at epoch+1. A MARKER
    * never blocks, but its epoch still seeds the chain, so the owner it
    * fenced stays fenced.
    */
  private def claimDir(
      fs: FileSystem, dir: Path, ttlMs: Long, what: String): LeaseFile = {
    val claim = newestLease(fs, dir) match {
      case Some((e, st, info)) =>
        if (info.owner != ownerId && !info.marker && isLive(st, info, ttlMs)) {
          val age = System.currentTimeMillis() - st.getModificationTime
          throw new PlaneLeaseHeldException(
            s"$what is leased by ${ownerName(info)} (epoch $e, heartbeat ${age}ms " +
              s"ago, TTL ${info.ttlMs.getOrElse(ttlMs)}ms) — a second writer process " +
              "would race the watermark/commit plane; point this store at its own " +
              "root, or wait for the lease to expire if the owner is dead")
        }
        e + 1L // stale foreign owner, or our own prior incarnation's leftover
      case None => 1L
    }
    val fin = LeaseFile(dir, claim)
    if (!createExclusive(fs, fin.path, leaseContent(ttlMs))) {
      val winner = readLease(fs, fin.path)
      throw new PlaneLeaseHeldException(
        s"lost the lease acquisition race for $what at epoch $claim " +
          s"to ${ownerName(winner)}")
    }
    fin
  }

  /** Liveness of a lease file: age under the TTL the OWNER recorded (the
    * claimant's own TTL only for pre-format files). An in-flight
    * claimant's empty content reads as live-but-unknown (still loud).
    */
  private def isLive(st: FileStatus, info: LeaseInfo, claimantTtlMs: Long): Boolean =
    System.currentTimeMillis() - st.getModificationTime <
      info.ttlMs.getOrElse(claimantTtlMs)

  private def ownerName(info: LeaseInfo): String =
    if (info.owner.isEmpty) "an in-flight claimant" else info.owner

  private def leaseContent(ttlMs: Long): String = ownerId + s"\nttl=$ttlMs"

  /** A fence MARKER's content, tagged with the superseder's role so a
    * takeover is attributable from the file alone.
    */
  private def markerContent(ttlMs: Long, by: String): String =
    ownerId + s"\nttl=$ttlMs\nmode=marker\nby=$by"

  /** Delete a lease file and its `beat-` twin, best-effort. The twin
    * delete is UNCONDITIONAL: twin presence cannot be inferred from the
    * setTimes-capability latch, because a transient IOException beats the
    * twin WITHOUT latching the scheme.
    */
  private def deleteLease(fs: FileSystem, lf: LeaseFile): Unit = {
    try { fs.delete(lf.path, false); () } catch { case _: Exception => () }
    try { fs.delete(beatPath(lf), false); () } catch { case _: Exception => () }
  }

  /** Delete every lease file a claim holds, best-effort (a failed delete
    * just means the lease expires at its TTL).
    */
  private def release(h: Held): Unit = h.files.foreach(deleteLease(h.fs, _))

  /** Delete superseded epochs below `claim` (and their beat twins) in
    * one dir, best-effort.
    */
  private def foldBelow(fs: FileSystem, dir: Path, claim: Long): Unit =
    listLeases(fs, dir).filter(_._1 < claim)
      .foreach { case (e, _) => deleteLease(fs, LeaseFile(dir, e)) }

  /** Conditional-create capability probe: connectors that support atomic
    * put-if-absent advertise the public Hadoop option key as a path
    * capability (Hadoop's `Options.CreateFileOptionKeys`).
    */
  private[graft] val CondCreateCapability: String =
    org.apache.hadoop.fs.Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE

  /** Atomic create-exclusive of `p` with `content`: exactly one claimant
    * of a name succeeds. Local FS takes O_CREAT|O_EXCL via NIO (Hadoop's
    * local `create(overwrite=false)` is check-then-create); a connector
    * advertising conditional creates takes the builder path (the
    * connector turns close() into a conditional PUT and throws on a
    * loser); HDFS `create(overwrite=false)` is atomic natively; anything
    * else falls back to plain create-no-overwrite with a once-per-scheme
    * warning about the narrow first-acquisition window.
    */
  private[graft] def createExclusive(fs: FileSystem, p: Path, content: String): Boolean =
    try {
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (fs.hasPathCapability(p, CondCreateCapability)) {
        val out = fs.createFile(p).overwrite(false)
          .opt(CondCreateCapability, true).build()
        try out.write(bytes) finally out.close()
      } else if (localFs(fs)) {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createFile(local) // O_CREAT|O_EXCL
        java.nio.file.Files.write(local, bytes)
      } else {
        val scheme = Option(p.toUri.getScheme).getOrElse(fs.getScheme)
        if (scheme != "hdfs" && warnedSchemes.add(scheme))
          log.warn(
            s"filesystem scheme '$scheme' advertises no conditional creates; " +
              "plane-lease acquisition falls back to create(overwrite=false) — " +
              "atomic on HDFS, check-then-create on classic object stores (narrow " +
              "first-acquisition race only; steady-state rejection and fencing " +
              "are unaffected)")
        val out = fs.create(p, false) // atomic create-exclusive on HDFS
        try out.write(bytes) finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => if (fs.exists(p)) false else throw e
    }

  /** Overwrite `p` with this process's identity: a beat twin or a drain
    * file, whose mtime is what readers judge.
    */
  private def putOwnerId(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p, true)
    try out.write(ownerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLease(fs: FileSystem, p: Path): LeaseInfo =
    try {
      val in = fs.open(p)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.split('\n').map(_.trim)
      LeaseInfo(
        owner = lines.headOption.getOrElse(""),
        ttlMs = lines.find(_.startsWith("ttl=")).flatMap(_.stripPrefix("ttl=").toLongOption),
        marker = lines.contains("mode=parts") || lines.contains("mode=marker"))
    } catch { case _: Exception => LeaseInfo("", None, marker = false) }

  /** Visible lease files ascending by epoch: (epoch, status). A lease's
    * liveness mtime is the freshest of the file itself and its `beat-`
    * twin (see [[refreshLease]]), read from the SAME listing. An orphaned
    * beat (its lease vanished) pairs with nothing and confers nothing;
    * it is also always OLDER than any later lease at a reused epoch, so
    * the max() can never extend a fresh lease with stale history.
    */
  private def listLeases(fs: FileSystem, dir: Path): Seq[(Long, FileStatus)] = {
    val sts = (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
    val beats: Map[Long, Long] = sts
      .filter(st => st.isFile && st.getPath.getName.startsWith("beat-"))
      .flatMap(st => st.getPath.getName.stripPrefix("beat-").toLongOption
        .map(_ -> st.getModificationTime))
      .toMap
    sts.filter(st => st.isFile && st.getPath.getName.startsWith("lease-"))
      .flatMap { st =>
        st.getPath.getName.stripPrefix("lease-").toLongOption.map { e =>
          val eff = beats.get(e).filter(_ > st.getModificationTime)
            .map(bm => new FileStatus(st.getLen, false, st.getReplication,
              st.getBlockSize, bm, st.getPath))
            .getOrElse(st)
          (e, eff)
        }
      }
      .sortBy(_._1)
  }

  private def newestLease(fs: FileSystem, dir: Path): Option[(Long, FileStatus, LeaseInfo)] =
    listLeases(fs, dir).lastOption.map { case (e, st) => (e, st, readLease(fs, st.getPath)) }

  // ------------------------------------------------------ write authority

  /** Cheap authority check at a mutating operation's ENTRY (no FS I/O):
    * fenced roots throw; otherwise the held claim must grant `a`.
    */
  def assertAuthority(rootKey: String, a: Authority): Unit = {
    assertNotFenced(rootKey)
    val h = held.get(rootKey)
    if (h != null) checkAuthority(h, a) // acquisition happens first on every mutating path
  }

  private def checkAuthority(h: Held, a: Authority): Unit = {
    if (!grants(h.claim, a))
      throw new PlaneLeaseHeldException(
        s"this process holds ${h.claim.label} for ${h.root} — it may only " +
          s"${h.claim.may}; root-authority operations (maintenance, rescale, the " +
          "stream ledger) need a root-lease owner process, and the other planes " +
          "live in other processes")
    for (owned <- h.claim.parts; ps <- partsOf(a)) {
      val missing = ps.filterNot(owned.contains)
      if (missing.nonEmpty)
        throw new PlaneLeaseHeldException(
          s"this write touches ring partitions ${missing.toSeq.sorted.mkString(",")} " +
            s"outside this process's ${h.claim.by} lease (${specOf(owned)}) for " +
            s"${h.root} — route it to the process owning them (BrokerGroup/" +
            "ShardRouter for produce), or widen the claim")
    }
  }

  /** Per-write fence at a COMMIT point: the authority check, then re-list
    * each own node the write touches (every own node, or only the touched
    * partitions' when the authority names partitions) and reject the
    * commit when a higher epoch is visible — a paused owner's next commit
    * fails loudly instead of landing with stale authority.
    */
  def assertCurrentAtCommit(rootKey: String, a: Authority): Unit = {
    assertNotFenced(rootKey)
    val h = held.get(rootKey)
    if (h == null) return // read-side/test paths that never acquired
    checkAuthority(h, a)
    val scope = partsOf(a)
    checkClaimDirs(rootKey, h,
      h.own.filter(lf => dirPart(lf.dir).forall(p => scope.forall(_.contains(p)))))
  }

  /** Fence-check each of `toCheck`, the holder's own lease files. */
  private def checkClaimDirs(rootKey: String, h: Held, toCheck: Vector[LeaseFile]): Unit = {
    if (toCheck.sizeIs <= 1 || localFs(h.fs))
      // per-dir listings: on the LOCAL filesystem they are the fast
      // path (a recursive listFiles materializes LocatedFileStatus,
      // whose eager permission load forks a process per entry — 5x
      // on the wire bench), and latency-per-round-trip is nil anyway
      toCheck.foreach(lf => checkDirCurrent(rootKey, h, lf))
    else {
      // multi-partition commit on a remote store: ONE recursive listing
      // of the plane dir covers every touched partition dir — a single
      // prefix LIST on S3-shaped connectors instead of one per partition
      commitFenceLists.incrementAndGet()
      val (newestByDir, drainSeen) = listLeasesRecursive(h.fs, planeDir(h.root))
      // same master cross-check as the single-dir fence
      if (drainSeen && masterDrainActive(h)) throwDraining(rootKey, h)
      toCheck.foreach(lf => checkNewest(rootKey, h, lf, newestByDir.get(dirKeyOf(lf.dir))))
    }
  }

  /** Judge one own lease file against the newest epoch visible in its
    * node: a higher one fences; a missing own file with no higher epoch
    * means this JVM's drain release raced an in-flight commit (retryable)
    * or the claim was erased externally (fence — same rule as the beat).
    */
  private def checkNewest(rootKey: String, h: Held, lf: LeaseFile, newest: Option[Long]): Unit =
    if (newest.exists(_ > lf.epoch)) fenceAtCommit(rootKey, h, lf)
    else if (!newest.contains(lf.epoch)) {
      if (drainingRoots.contains(rootKey)) throwDraining(rootKey, h)
      else fenceAtCommit(rootKey, h, lf)
    }

  /** Disambiguating key for a claim dir inside the plane: its name plus
    * its parent's when the parent is the consumer dir (producer
    * `part-p00003` vs consumer `consumer/part-p00003`).
    */
  private def dirKeyOf(dir: Path): String =
    if (Option(dir.getParent).exists(_.getName == "consumer"))
      s"consumer/${dir.getName}"
    else dir.getName

  private def localFs(fs: FileSystem): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case _ => false
  }

  /** Newest visible lease epoch per claim node under the whole plane dir
    * (keyed by [[dirKeyOf]]), and whether an active drain file is in it,
    * from one recursive listing (object stores answer it with a single
    * prefix LIST).
    */
  private def listLeasesRecursive(
      fs: FileSystem, plane: Path): (Map[String, Long], Boolean) = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    var drain = false
    try {
      val it = fs.listFiles(plane, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && name == DrainFileName) drain = drain || drainActive(st)
        else if (st.isFile && name.startsWith("lease-")) {
          name.stripPrefix("lease-").toLongOption.foreach { e =>
            val key = dirKeyOf(st.getPath.getParent)
            if (out.getOrElse(key, Long.MinValue) < e) out(key) = e
          }
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    (out.toMap, drain)
  }

  private def dirPart(dir: Path): Option[Int] =
    if (dir.getName.startsWith("part-p")) dir.getName.stripPrefix("part-p").toIntOption
    else None

  private def checkDirCurrent(rootKey: String, h: Held, lf: LeaseFile): Unit = {
    commitFenceLists.incrementAndGet()
    val sts = (try h.fs.listStatus(lf.dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(_.isFile)
    // a SCOPED claimant observes a coordinator's drain request here, in
    // the listing it already pays for, and aborts this commit RETRYABLY
    // (root holders ignore drain files — a drain targets scoped claims so
    // a root claimant can run). The per-dir copy is honored only while
    // the MASTER drain file is active: an orphaned copy left by a
    // clearDrain whose per-dir delete failed must not trap this claimant
    // in an abort/release/re-acquire loop
    if (h.claim != Claim.Root &&
        sts.exists(st => st.getPath.getName == DrainFileName && drainActive(st)) &&
        masterDrainActive(h))
      throwDraining(rootKey, h)
    val epochs = sts.map(_.getPath.getName).filter(_.startsWith("lease-"))
      .flatMap(n => n.stripPrefix("lease-").toLongOption)
    checkNewest(rootKey, h, lf, epochs.maxOption)
  }

  /** The MASTER drain file under the plane dir exists and is young enough
    * to honor — the source of truth a per-dir drain copy is checked
    * against before a commit aborts on it.
    */
  private def masterDrainActive(h: Held): Boolean =
    activeDrainAt(h.fs, new Path(planeDir(h.root), DrainFileName))

  private def throwDraining(rootKey: String, h: Held): Nothing = {
    drainingRoots.add(rootKey)
    throw new PlaneDrainingException(
      s"commit aborted: the write plane for ${h.root} is draining for a " +
        "coordinated rescale/maintenance window — this claim releases and " +
        "re-acquires after the coordinator clears the drain; retry the " +
        "operation")
  }

  private def fenceAtCommit(rootKey: String, h: Held, lf: LeaseFile): Nothing = {
    fencedRoots.add(rootKey)
    held.remove(rootKey)
    throw new PlaneFencedException(
      s"commit rejected: the plane lease for ${h.root} under ${lf.dir.getName} " +
        s"was superseded past epoch ${lf.epoch} (another process took over after " +
        "missed heartbeats) — refusing to commit with stale authority")
  }

  private def assertNotFenced(rootKey: String): Unit =
    if (fencedRoots.contains(rootKey))
      throw new PlaneFencedException(
        s"this process's plane lease was superseded by a higher epoch " +
          "(another process took over after a missed heartbeat) — refusing to " +
          "write with stale authority; restart the store to contend for a " +
          "fresh lease")

  /** The highest epoch this JVM holds for a root, if any: the `/metrics`
    * gauge's source (an INCREASE across scrapes means a takeover happened
    * somewhere) and the forensic stamp in the meta swaps' file names.
    */
  private[graft] def heldEpoch(rootKey: String): Option[Long] =
    Option(held.get(rootKey)).map(_.files.map(_.epoch).max)

  // ---------------------------------------------------------- heartbeats

  private def startBeater(): Unit = this.synchronized {
    if (beater == null) {
      // clean exits RELEASE (the reference's goodbye gossip): a restarted
      // driver contends immediately instead of waiting out the TTL; a
      // crash skips the hook and leaves the lease to expire — exactly the
      // takeover path
      Runtime.getRuntime.addShutdownHook(new Thread(
        () => held.values().forEach(release(_)), "graft-plane-lease-release"))
      beater = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-plane-lease")
        t.setDaemon(true)
        t
      })
      // one global beat at DefaultTtl/4: a per-root ttl OVERRIDE shorter
      // than that is honored for acquisition/takeover decisions but is
      // not kept alive between beats — short TTLs are a test/dev knob,
      // and the owner-recorded TTL in the lease content means a healthy
      // default-TTL owner can never be judged stale by one
      beater.scheduleWithFixedDelay(() => heartbeatTick(),
        DefaultTtlMs / 4, DefaultTtlMs / 4, TimeUnit.MILLISECONDS)
      ()
    }
  }

  /** One heartbeat pass over every held claim: refresh each lease file's
    * liveness, FENCE the root when a higher epoch is visible or an own
    * file vanished (re-creating it at the old epoch is how a paused owner
    * would regain authority it already lost), release an idle scoped
    * claim on a drain request, and drop claims whose root no longer
    * exists. All FS access goes through the acquisition FileSystem.
    * Package-visible so the fencing tests can drive it deterministically.
    */
  private[graft] def heartbeatTick(): Unit = {
    val it = held.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = e.getValue
      try {
        if (!h.fs.exists(new Path(h.root))) {
          it.remove() // the store is gone; nothing left to guard
        } else if (h.claim != Claim.Root && masterDrainActive(h)) {
          // an idle claimant (no commit has observed the drain): release
          // here so the drain completes without waiting out the TTL. Mark
          // draining FIRST — a racing in-flight commit then aborts
          // retryably on its vanished lease file instead of passing a
          // vacuous fence
          drainingRoots.add(e.getKey)
          release(h)
          it.remove()
        } else {
          val lost = h.files.exists { lf =>
            // a higher epoch, or the own file vanished
            val gone = !listLeases(h.fs, lf.dir).lastOption.exists(_._1 == lf.epoch)
            if (!gone) refreshLease(h, lf)
            gone
          }
          if (lost) { fencedRoots.add(e.getKey); it.remove() }
        }
      } catch {
        case _: InterruptedException => throw new InterruptedException
        case ex: Exception =>
          heartbeatFailures.incrementAndGet() // visible on /metrics; next tick
          log.warn(s"plane-lease heartbeat for ${h.root} failed; retrying next tick", ex)
      }
    }
  }

  // schemes whose setTimes threw UnsupportedOperationException: later
  // beats go straight to the beat twin (S3A and most object-store
  // connectors do not support setTimes)
  private val setTimesUnsupported = ConcurrentHashMap.newKeySet[String]()

  /** Heartbeat refreshes that fell back from `setTimes` to PUTting the
    * lease's `beat-` twin (the object-store liveness path).
    */
  private[graft] val leaseRefreshBeats = new AtomicLong

  /** The liveness twin of a lease file: same epoch, `beat-` prefix, in
    * the same dir — so every listing that sees the lease sees the beat
    * for free, and name-prefix filters keep it out of epoch chains.
    */
  private[graft] def beatPath(lf: LeaseFile): Path =
    new Path(lf.dir, f"beat-${lf.epoch}%020d")

  /** Refresh one held lease file's liveness: `setTimes` where supported
    * (one tiny metadata op that FAILS on a vanished file — inherently
    * resurrection-safe), otherwise PUT the `beat-` twin. The AUTHORITY
    * file is NEVER re-PUT: a rewrite is check-then-PUT, and an external
    * sweep's delete inside that window would be silently undone. A
    * resurrected BEAT twin is inert: liveness readers pair it with a
    * PRESENT lease file of the same epoch. A transient failure of either
    * path propagates to the tick's counter and retries next beat.
    */
  private def refreshLease(h: Held, lf: LeaseFile): Unit = {
    def beat(): Unit = { putOwnerId(h.fs, beatPath(lf)); leaseRefreshBeats.incrementAndGet(); () }
    // NB: FileSystem.getScheme is unimplemented on some bases
    // (RawLocalFileSystem) — the URI scheme is always present
    val scheme = Option(h.fs.getUri.getScheme).getOrElse("")
    if (setTimesUnsupported.contains(scheme)) beat()
    else try h.fs.setTimes(lf.path, System.currentTimeMillis(), -1)
    catch {
      case _: UnsupportedOperationException =>
        setTimesUnsupported.add(scheme) // definitive: skip next time
        beat()
      case _: java.io.IOException =>
        beat() // transient or capability-shaped: the beat refreshes either way
    }
  }

  /** Test aid: forget (and delete) this JVM's claim for a root so a new
    * acquisition contends from scratch; clears any fenced mark.
    */
  private[graft] def dropForTests(rootKey: String): Unit = {
    fencedRoots.remove(rootKey)
    drainingRoots.remove(rootKey)
    releaseOwned(rootKey)
  }

  // ------------------------------------------------- coordinated draining

  private def assertNotDraining(fs: FileSystem, plane: Path, root: String): Unit =
    if (activeDrainAt(fs, new Path(plane, DrainFileName)))
      throw new PlaneDrainingException(
        s"the write plane for $root is draining for a coordinated " +
          "rescale/maintenance window — scoped claims cannot be acquired " +
          "until the coordinator clears the drain; retry later (the store " +
          "re-acquires automatically on the next mutating call)")

  /** COORDINATOR side of the online rescale: ask every scoped claimant
    * (partition producers, consumer members) to flush-and-release — the
    * online half of the reference's serve-while-splitting range flip
    * (`internal/ownership/process_local_split_range.go:12-132`). Writes
    * the master drain file (gates NEW scoped acquisitions) plus one copy
    * in each scoped claim dir, where current claimants observe it for
    * free in their next per-commit fence listing (idle claimants notice
    * on the next heartbeat, TTL/4). Refuses when a live ROOT owner
    * exists — issue the maintenance there instead.
    */
  def requestDrain(root: String, conf: Configuration): Unit = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    fs.mkdirs(plane)
    liveRealLease(fs, plane, DefaultTtlMs).foreach { case (e, info) =>
      throw new IllegalStateException(
        s"the root plane for $root is owned live by ${ownerName(info)} " +
          s"(epoch $e) — issue the rescale/maintenance on that process " +
          "instead of draining")
    }
    def put(d: Path): Unit = putOwnerId(fs, new Path(d, DrainFileName))
    put(plane)
    subtree(fs, plane).foreach(put)
    // second pass: a claimant that passed assertNotDraining just before
    // the master write may have created its claim dir after the listing
    // above — re-list once now that the master gates new acquisitions, so
    // the race window collapses to the one in-flight acquisition. The
    // residual worst case (a copy-less claimant that acquired inside
    // that instant) still observes the MASTER at its next heartbeat
    // (DefaultTtl/4 = 15 s, under rescaleWithDrain's 60 s default
    // timeout) — callers shortening the drain timeout below TTL/4 must
    // expect the drain-poll to report that claimant live until then.
    subtree(fs, plane)
      .filter(d => !activeDrainAt(fs, new Path(d, DrainFileName)))
      .foreach(put)
  }

  /** Remove every drain file under the plane — per-dir copies FIRST, the
    * master LAST: the fence honors a per-dir copy only while the master
    * exists, and handleDraining gates re-acquisition on the master, so
    * deleting in this order can never strand a claimant behind an
    * orphaned per-dir copy. Per-dir delete failures retry and then THROW
    * with the master left in place.
    */
  def clearDrain(root: String, conf: Configuration): Unit = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    def rm(d: Path): Unit = {
      val p = new Path(d, DrainFileName)
      var attempt = 0
      var last: Exception = null
      while (attempt < 3) {
        try { fs.delete(p, false); return }
        catch { case e: Exception => last = e; attempt += 1; Thread.sleep(50L) }
      }
      throw new IllegalStateException(
        s"clearDrain($root): could not delete the drain copy at $p after " +
          s"3 attempts — the master drain file is left in place so the " +
          "window stays coherent; clear manually or retry", last)
    }
    subtree(fs, plane).foreach(rm)
    rm(plane)
  }

  /** Human-readable names of the scoped claims still LIVE under the root
    * (non-marker, within their owner-recorded TTL) — the coordinator
    * polls this after [[requestDrain]] until empty.
    */
  def liveScopedClaims(root: String, conf: Configuration): Seq[String] = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    subtree(fs, plane).flatMap(d =>
      liveRealLease(fs, d, DefaultTtlMs).map { case (_, info) =>
        s"${nodeName(d)} (${ownerName(info)})"
      })
  }

  /** Release this JVM's claim for a root cleanly (delete lease files,
    * forget the claim — no fence): the coordinator hands the plane back
    * after a maintenance window so scoped claimants can re-acquire.
    */
  def releaseOwned(rootKey: String): Unit = Option(held.remove(rootKey)).foreach(release)
}
