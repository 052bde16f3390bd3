package graft.engine

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.SortedSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

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
  * Three claim shapes, splitting the reference's broker role across
  * processes:
  *
  *  - ROOT lease (`<root>/_meta/_plane/lease-<epoch>`): ONE writer JVM
  *    owns every mutating path — produce, maintenance, rescale, consumer
  *    registry, group commits.
  *  - PARTITION leases (`<root>/_meta/_plane/part-p<NNNNN>/lease-<epoch>`,
  *    one directory per ring partition): N writer JVMs own DISJOINT ring
  *    partitions of one root and produce to them concurrently — the
  *    reference's horizontal write plane, where each broker owns disjoint
  *    token ranges and assigns their offsets without coordination
  *    (`internal/ownership/generator.go:134-144`,
  *    `internal/discovery/discoverer.go:343-366`). A partition-scoped
  *    writer may ONLY produce to its owned partitions (watermarks land in
  *    a per-claim lane table, never the shared root table).
  *  - CONSUMER-PLANE lease (`<root>/_meta/_plane/consumer/lease-<epoch>`):
  *    one JVM owns the registry rows and group-offset commits — the
  *    consumer-serving half of the reference broker — COMPATIBLE with
  *    live partition producers (disjoint tables), exclusive with a root
  *    owner and with a second consumer process (group commits are a
  *    cross-process read-modify-write).
  *  - RANGE-SCOPED CONSUMER leases
  *    (`<root>/_meta/_plane/consumer/part-p<NNNNN>/lease-<epoch>`): N
  *    JVMs fan the consumer plane out over disjoint ring partitions —
  *    each registers its own consumers and commits group offsets for its
  *    claim only (per-claim lane tables under the group-offset scopes) —
  *    the reference's consumers-per-broker assignment
  *    (`docs/developer/CONSUMER_ASSIGNMENT.md`). Compatible with
  *    partition producers and with each other; exclusive with a root
  *    owner and with a FULL consumer owner (both ways).
  *
  *  Whatever no shape covers — rescale, maintenance, the stream ledger —
  *  stays with a root-lease owner and fails loudly elsewhere
  *  ([[assertAuthority]]).
  *
  * COORDINATED DRAIN ([[requestDrain]]/[[clearDrain]]): a maintenance
  * coordinator asks every scoped claimant to flush-and-release without
  * operator sequencing — drain files ride the per-commit fence listing
  * (zero extra round-trips for active claimants; idle ones release at
  * the next beat), in-flight commits abort RETRYABLY
  * ([[PlaneDrainingException]]), and claimants re-acquire automatically
  * after the clear. Abandoned drains age out ([[DrainMaxAgeMs]]).
  *
  * Mutual exclusion is CREATE-EXCLUSIVE on the fixed per-epoch name inside
  * each directory: the epoch number itself is the mutex, so an acquisition
  * race has exactly one winner per directory (O_CREAT|O_EXCL via NIO on
  * the local filesystem; HDFS `create(overwrite=false)` is atomic
  * create-exclusive; object-store connectors that advertise conditional
  * creates — `fs.option.create.conditional.overwrite`, S3 If-None-Match /
  * GCS generation-match under the hood — get the builder path below;
  * everything else falls back to plain `create(overwrite=false)` with a
  * once-per-scheme warning, a narrow check-then-create window on
  * simultaneous FIRST acquisition only).
  *
  * Root/partition exclusion is claim-then-validate, safe under races
  * because each side validates AFTER creating its own file, so at least
  * one side always observes the other and backs off (both backing off is
  * possible — loud and retryable, never dual authority):
  *  - a root claimant creates its root lease, then scans the partition
  *    dirs: any LIVE foreign partition lease → release + throw; any STALE
  *    one is superseded at epoch+1 (file kept, so a paused partition owner
  *    resuming later fences instead of writing).
  *  - a partition claimant first supersedes a STALE real root lease with a
  *    higher-epoch MARKER file (`mode=parts` in the content — it fences a
  *    paused root owner but does not claim root authority, so concurrent
  *    partition claimants are not blocked by it), claims its partition
  *    dirs ascending, then re-validates that no live real root lease
  *    appeared.
  *
  * Liveness is judged by the TTL the OWNER recorded in its lease file
  * content (falling back to the claimant's TTL for pre-TTL-format files):
  * a claimant configured with a short test TTL can therefore never judge
  * a healthy production owner stale.
  *
  * Fencing is two-layered:
  *  - heartbeat-granular: the beat (TTL/4) refreshes mtimes THROUGH THE
  *    FILESYSTEM RESOLVED AT ACQUISITION (a fresh default Configuration
  *    here silently broke conf-dependent filesystems — S3A credentials,
  *    custom `fs.<scheme>.impl` — leaving the owner unrefreshed AND
  *    unfenced: the exact dual-writer the lease exists to prevent), and
  *    fences when a higher epoch is visible. Beat failures are counted on
  *    [[heartbeatFailures]] (a `/metrics` counter), never swallowed into
  *    silence.
  *  - per-write: mutating commit points (the store's rename-first meta
  *    swaps, the Spark produce's segment publish) call
  *    [[assertCurrentAtCommit]], which re-lists the relevant lease
  *    directory and rejects the commit when a higher epoch is visible —
  *    the reference's per-group generation re-check
  *    (`internal/producing/coalescer.go:93-106`). This closes the TTL/4
  *    dual-writer window at the point that matters: a paused owner's next
  *    COMMIT fails, not merely its next heartbeat.
  *
  * Read-only observers (the DSv2 source/observer pattern) never acquire
  * and need no lease.
  */
object PlaneLease {

  /** What a mutating operation needs from the lease plane. A ROOT-lease
    * holder has all three; a partition-scoped holder has only
    * [[ProduceAuthority]] within its claim; a consumer-plane holder has
    * only [[ConsumerAuthority]].
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
    * may register their own consumers, the reference's
    * consumers-per-broker fan-out (`docs/developer/CONSUMER_ASSIGNMENT.md`).
    */
  case object ConsumerAuthority extends Authority
  /** Committing group offsets for exactly `parts` — a range-scoped
    * consumer holder has it within its claim only (commits land in a
    * per-claim lane table, like producer watermarks).
    */
  final case class ConsumerCommitAuthority(parts: Set[Int]) extends Authority

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

  /** One lease file this JVM holds: the directory it guards (the root
    * plane dir, or one ring partition's dir) and the epoch claimed there.
    */
  private final case class LeaseFile(dir: Path, epoch: Long) {
    def path: Path = new Path(dir, f"lease-$epoch%020d")
  }

  /** Everything needed to keep (and release) a claim WITHOUT re-resolving
    * session state: `fs` is the FileSystem resolved from the acquisition
    * Configuration — heartbeats and the shutdown release reuse it, so a
    * root whose filesystem needs session conf keeps beating.
    */
  private final case class Held(
      root: String,
      files: Vector[LeaseFile],
      parts: Option[SortedSet[Int]],
      consumer: Boolean,
      ttlMs: Long,
      fs: FileSystem)

  /** Parsed lease-file content. `ttlMs` None for pre-format or in-flight
    * (empty) files; `marker` for a partition claimant's root-dir fence
    * marker, which fences a paused root owner but claims no authority.
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
  private def partDir(plane: Path, p: Int) = new Path(plane, f"part-p$p%05d")
  private def consumerDir(plane: Path) = new Path(plane, "consumer")

  /** Fast-path guard for every root-authority mutating store operation:
    * no-op when this JVM already holds the root's ROOT lease (one map
    * lookup), acquisition on first touch, loud [[PlaneLeaseHeldException]]
    * if another live process holds the plane or any of its partitions,
    * loud [[PlaneFencedException]] forever after a takeover.
    */
  def ensureOwned(
      rootKey: String,
      root: String,
      conf: Configuration,
      ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, ttlMs, None, consumer = false)

  /** CONSUMER-PLANE acquisition: claim the registry/group-commit plane
    * of the root (`_meta/_plane/consumer/lease-<epoch>`) without any
    * produce or maintenance authority. Compatible with live
    * partition-scoped producers (they never touch consumer tables);
    * mutually exclusive with a root-lease owner (who IS the consumer
    * plane) and with a second consumer-plane process (group-offset
    * commits are a cross-process read-modify-write).
    */
  def ensureOwnedConsumer(
      rootKey: String,
      root: String,
      conf: Configuration,
      ttlMs: Long = DefaultTtlMs): Boolean =
    ensure(rootKey, root, conf, ttlMs, None, consumer = true)

  /** RANGE-SCOPED consumer-plane acquisition
    * (`_meta/_plane/consumer/part-p<NNNNN>/lease-<epoch>`): this process
    * serves polls and commits group offsets for exactly `parts` — the
    * reference's consumers-per-broker fan-out over disjoint token ranges
    * (`docs/developer/CONSUMER_ASSIGNMENT.md`). Compatible with live
    * partition producers AND with other range-scoped consumer members
    * (disjoint claims); exclusive with a root owner and with a FULL
    * consumer-plane owner (whose commits cover every partition).
    */
  def ensureOwnedConsumerPartitions(
      rootKey: String,
      root: String,
      conf: Configuration,
      parts: SortedSet[Int],
      ttlMs: Long = DefaultTtlMs): Boolean = {
    require(parts.nonEmpty && parts.head >= 0,
      s"consumer-partition lease needs a non-empty set of ring ordinals, got $parts")
    ensure(rootKey, root, conf, ttlMs, Some(parts), consumer = true)
  }

  /** Partition-scoped acquisition: claim exactly `parts` (ring partition
    * ordinals) of the root. Disjoint claimants coexist; an overlapping
    * claim or a live root-lease owner rejects loudly. The holding JVM may
    * only produce to these partitions.
    */
  def ensureOwnedPartitions(
      rootKey: String,
      root: String,
      conf: Configuration,
      parts: SortedSet[Int],
      ttlMs: Long = DefaultTtlMs): Boolean = {
    require(parts.nonEmpty && parts.head >= 0,
      s"partition lease needs a non-empty set of ring ordinals, got $parts")
    ensure(rootKey, root, conf, ttlMs, Some(parts), consumer = false)
  }

  private def ensure(
      rootKey: String,
      root: String,
      conf: Configuration,
      ttlMs: Long,
      parts: Option[SortedSet[Int]],
      consumer: Boolean): Boolean = {
    if (fencedRoots.contains(rootKey))
      throw new PlaneFencedException(
        s"this process's plane lease for $root was superseded by a higher epoch " +
          "(another process took over after a missed heartbeat) — refusing to " +
          "write with stale authority; restart the store against the root to " +
          "contend for a fresh lease")
    // a drain window releases this JVM's scoped claims and holds off
    // re-acquisition until the coordinator clears it (retryable). Under
    // the acquisition lock with a RE-CHECK: two threads racing here after
    // a clear would otherwise double-release — the second one deleting
    // the first one's freshly re-acquired lease files (a retryable drain
    // turned into a permanent fence, or a vacuous-fence window while
    // held is empty).
    if (drainingRoots.contains(rootKey)) monitorFor(rootKey).synchronized {
      if (drainingRoots.contains(rootKey)) handleDraining(rootKey, root, conf)
    }
    val cur = held.get(rootKey)
    if (cur != null) {
      if (cur.parts == parts && cur.consumer == consumer) return false
      throw new IllegalStateException(
        s"plane-lease mode change for $root (held=${modeName(cur.parts, cur.consumer)}, " +
          s"requested=${modeName(parts, consumer)}): a process claims ONE shape per " +
          "root for its lifetime — restart the process to change the claim")
    }
    // PER-ROOT monitor: acquisition and drain handling for one root
    // serialize with each other (the double-release fix needs exactly
    // that atomicity) without stalling unrelated roots behind this
    // root's filesystem round-trips
    monitorFor(rootKey).synchronized {
      if (held.containsKey(rootKey)) {
        return ensure(rootKey, root, conf, ttlMs, parts, consumer)
      }
      val h =
        if (consumer) parts match {
          case None => acquireConsumer(root, conf, ttlMs)
          case Some(ps) => acquireConsumerParts(root, conf, ps, ttlMs)
        }
        else parts match {
          case None => acquireRoot(root, conf, ttlMs)
          case Some(ps) => acquireParts(root, conf, ps, ttlMs)
        }
      held.put(rootKey, h)
      startBeater()
      true
    }
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
    val h = held.remove(rootKey)
    if (h != null) h.files.foreach { lf =>
      deleteLease(h.fs, lf)
    }
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    if (activeDrainAt(fs, new Path(plane, DrainFileName)))
      throw new PlaneDrainingException(
        s"the write plane for $root is draining for a coordinated " +
          "rescale/maintenance window — this process's scoped claims were " +
          "released; retry after the coordinator clears the drain (the store " +
          "re-acquires automatically on the next mutating call)")
    drainingRoots.remove(rootKey)
    ()
  }

  /** A drain file exists at `p` and is young enough to honor. */
  private def activeDrainAt(fs: FileSystem, p: Path): Boolean =
    try drainActive(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => false }

  private def modeName(parts: Option[SortedSet[Int]], consumer: Boolean): String =
    if (consumer) parts.fold("consumer-plane")(ps => s"consumer partitions ${specOf(ps)}")
    else parts.fold("root")(ps => s"partitions ${specOf(ps)}")

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

  /** Acquire (or take over) the root's ROOT lease: claim the plane dir,
    * then validate no live foreign partition claims exist (superseding
    * stale ones so their paused owners fence on resume).
    */
  private def acquireRoot(root: String, conf: Configuration, ttlMs: Long): Held = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    fs.mkdirs(plane)
    val rootClaim = claimDir(fs, plane, ttlMs,
      what = s"the produce/maintenance plane for $root")
    val taken = Vector.newBuilder[LeaseFile]
    taken += rootClaim
    try {
      // a root claim subsumes every SCOPED claim (partition producers,
      // the consumer plane): live foreign scoped claims reject the root
      // claim; stale ones are superseded at epoch+1 (file KEPT) so a
      // paused scoped owner resuming later observes the higher epoch and
      // fences instead of writing
      scopedDirs(fs, plane).foreach { d =>
        newestLease(fs, d) match {
          case Some((e, st, info)) if info.owner != ownerId =>
            if (isLive(st, info, ttlMs))
              throw new PlaneLeaseHeldException(
                s"${scopedName(d)} of $root is leased by ${ownerName(info)} " +
                  s"(epoch $e) — a root-plane writer would race the scoped " +
                  "owner; wait for the scoped processes to exit")
            val lf = LeaseFile(d, e + 1)
            if (!createExclusive(fs, lf.path, leaseContent(ttlMs)))
              throw new PlaneLeaseHeldException(
                s"lost the race superseding a stale scoped lease under $d")
            taken += lf
          case _ => ()
        }
      }
    } catch {
      case t: Throwable =>
        taken.result().foreach(lf =>
          deleteLease(fs, lf))
        throw t
    }
    val files = taken.result()
    // fold superseded epochs only AFTER the whole acquisition validated: a
    // rollback above deletes only OUR files, so every pre-existing epoch
    // (including a scoped claimant's fence marker over a paused root
    // owner) survives a FAILED acquisition — folding inside claimDir
    // erased that history and let the paused owner self-heal unfenced
    files.foreach(lf => foldBelow(fs, lf.dir, lf.epoch))
    Held(root, files, None, consumer = false, ttlMs, fs)
  }

  /** Acquire the FULL CONSUMER-PLANE lease: fence a stale real root owner
    * with a marker, claim the consumer dir, re-validate the root — the
    * same claim-then-validate dance as partitions; live partition
    * producer claims are COMPATIBLE (producers never touch
    * registry/group tables), but live RANGE-SCOPED consumer claims
    * (`consumer/part-p*`) reject (a full owner's commits cover every
    * partition); stale ones are superseded at epoch+1 (file kept) so a
    * paused scoped owner fences on resume.
    */
  private def acquireConsumer(root: String, conf: Configuration, ttlMs: Long): Held = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    fs.mkdirs(plane)
    assertNotDraining(fs, plane, root)
    supersedeStaleRoot(fs, plane, root, ttlMs, "consumer-plane")
    val d = consumerDir(plane)
    fs.mkdirs(d)
    val claim = claimDir(fs, d, ttlMs,
      what = s"the consumer plane (registry/group commits) for $root")
    val taken = Vector.newBuilder[LeaseFile]
    taken += claim
    try {
      liveRealRootLease(fs, plane, ttlMs).foreach { case (e, info) =>
        throw new PlaneLeaseHeldException(
          s"the root plane for $root was claimed concurrently " +
            s"(epoch $e by ${ownerName(info)}) — releasing this consumer-plane claim")
      }
      partSubDirs(fs, d).foreach { pd =>
        newestLease(fs, pd) match {
          case Some((e, st, info)) if info.owner != ownerId =>
            if (isLive(st, info, ttlMs))
              throw new PlaneLeaseHeldException(
                s"${scopedName(pd)} of $root is leased by ${ownerName(info)} " +
                  s"(epoch $e) — a full consumer-plane owner would race the " +
                  "range-scoped member's group commits; wait for the scoped " +
                  "consumer processes to exit")
            val lf = LeaseFile(pd, e + 1)
            if (!createExclusive(fs, lf.path, leaseContent(ttlMs)))
              throw new PlaneLeaseHeldException(
                s"lost the race superseding a stale consumer range claim under $pd")
            taken += lf
          case _ => ()
        }
      }
    } catch {
      case t: Throwable =>
        taken.result().foreach(lf =>
          deleteLease(fs, lf))
        throw t
    }
    val files = taken.result()
    files.foreach(lf => foldBelow(fs, lf.dir, lf.epoch)) // post-validation only
    Held(root, files, None, consumer = true, ttlMs, fs)
  }

  /** Acquire RANGE-SCOPED consumer leases: fence a stale real root owner
    * and a stale FULL consumer owner with markers, claim each
    * `consumer/part-p*` dir ascending, re-validate both.
    */
  private def acquireConsumerParts(
      root: String, conf: Configuration, parts: SortedSet[Int], ttlMs: Long): Held = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    fs.mkdirs(plane)
    assertNotDraining(fs, plane, root)
    supersedeStaleRoot(fs, plane, root, ttlMs, "consumer-partition")
    val cd = consumerDir(plane)
    fs.mkdirs(cd)
    // a live FULL consumer owner blocks; a stale one is superseded by a
    // marker in the consumer dir (fences it on resume, claims nothing)
    newestLease(fs, cd) match {
      case Some((e, st, info)) if !info.marker && info.owner != ownerId =>
        if (isLive(st, info, ttlMs))
          throw new PlaneLeaseHeldException(
            s"the consumer plane for $root is leased PLANE-WIDE by " +
              s"${ownerName(info)} (epoch $e) — consumer-partition claimants " +
              "cannot coexist with a full consumer-plane owner")
        if (!createExclusive(fs, new Path(cd, f"lease-${e + 1}%020d"),
            markerContent(ttlMs, "consumer-partition"))) {
          liveRealDirLease(fs, cd, ttlMs).foreach { case (e2, i2) =>
            throw new PlaneLeaseHeldException(
              s"the consumer plane for $root was claimed (epoch $e2 by " +
                s"${ownerName(i2)}) while this consumer-partition claim was " +
                "superseding a stale lease")
          }
        } else foldBelow(fs, cd, e + 1)
      case _ => ()
    }
    val taken = Vector.newBuilder[LeaseFile]
    var ok = false
    try {
      parts.foreach { p =>
        val d = new Path(cd, f"part-p$p%05d")
        fs.mkdirs(d)
        taken += claimDir(fs, d, ttlMs,
          what = s"consumer range partition $p of $root")
      }
      liveRealRootLease(fs, plane, ttlMs).foreach { case (e, info) =>
        throw new PlaneLeaseHeldException(
          s"the root plane for $root was claimed concurrently " +
            s"(epoch $e by ${ownerName(info)}) — releasing this consumer-partition claim")
      }
      liveRealDirLease(fs, cd, ttlMs).foreach { case (e, info) =>
        throw new PlaneLeaseHeldException(
          s"the consumer plane for $root was claimed PLANE-WIDE concurrently " +
            s"(epoch $e by ${ownerName(info)}) — releasing this consumer-partition claim")
      }
      ok = true
    } finally {
      if (!ok) taken.result().foreach(lf =>
        deleteLease(fs, lf))
    }
    val files = taken.result()
    files.foreach(lf => foldBelow(fs, lf.dir, lf.epoch)) // post-validation only
    Held(root, files, Some(parts), consumer = true, ttlMs, fs)
  }

  /** A live REAL (non-marker) foreign lease in one directory, if any. */
  private def liveRealDirLease(
      fs: FileSystem, dir: Path, ttlMs: Long): Option[(Long, LeaseInfo)] =
    newestLease(fs, dir) match {
      case Some((e, st, info))
          if !info.marker && info.owner != ownerId && isLive(st, info, ttlMs) =>
        Some((e, info))
      case _ => None
    }

  /** `part-p*` claim dirs directly under `dir`. */
  private def partSubDirs(fs: FileSystem, dir: Path): Seq[Path] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("part-p"))
      .map(_.getPath)

  /** A live REAL (non-marker) foreign root lease, if any. */
  private def liveRealRootLease(
      fs: FileSystem, plane: Path, ttlMs: Long): Option[(Long, LeaseInfo)] =
    liveRealDirLease(fs, plane, ttlMs)

  /** A STALE real root lease is superseded by a higher-epoch MARKER
    * (fences the paused root owner, blocks no scoped claimant); a LIVE
    * one throws. Shared by the partition and consumer acquisitions.
    */
  private def supersedeStaleRoot(
      fs: FileSystem, plane: Path, root: String, ttlMs: Long, who: String): Unit =
    newestLease(fs, plane) match {
      case Some((e, st, info)) if !info.marker && info.owner != ownerId =>
        if (isLive(st, info, ttlMs))
          throw new PlaneLeaseHeldException(
            s"the produce/maintenance plane for $root is leased ROOT-WIDE by " +
              s"${ownerName(info)} (epoch $e) — $who claimants cannot coexist " +
              "with a root-plane owner")
        if (createExclusive(fs, new Path(plane, f"lease-${e + 1}%020d"),
            markerContent(ttlMs, who))) {
          foldBelow(fs, plane, e + 1)
        } else {
          // lost the supersede race: a real claimant winning here means
          // the root plane is being taken — back off
          liveRealRootLease(fs, plane, ttlMs).foreach { case (e2, i2) =>
            throw new PlaneLeaseHeldException(
              s"the root plane for $root was claimed (epoch $e2 by ${ownerName(i2)}) " +
                s"while this $who claim was superseding a stale lease")
          }
        }
      case _ => ()
    }

  /** Acquire partition-scoped leases: fence a stale real root owner with
    * a marker, claim each partition dir ascending, re-validate the root.
    */
  private def acquireParts(
      root: String, conf: Configuration, parts: SortedSet[Int], ttlMs: Long): Held = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    fs.mkdirs(plane)
    assertNotDraining(fs, plane, root)
    // step 1: a live real root lease blocks; a STALE one is superseded by
    // a higher-epoch MARKER (fences the paused root owner, blocks nobody)
    supersedeStaleRoot(fs, plane, root, ttlMs, "partition")
    // step 2: claim each partition dir ascending (the partition name is
    // the mutex — overlapping claimants get exactly one winner per part)
    val taken = Vector.newBuilder[LeaseFile]
    var ok = false
    try {
      parts.foreach { p =>
        val d = partDir(plane, p)
        fs.mkdirs(d)
        taken += claimDir(fs, d, ttlMs,
          what = s"ring partition $p of $root")
      }
      // step 3: validate-after-claim against a racing root claimant (it
      // validates the scoped dirs after creating its root file, so at
      // least one of us observes the other)
      liveRealRootLease(fs, plane, ttlMs).foreach { case (e, info) =>
        throw new PlaneLeaseHeldException(
          s"the root plane for $root was claimed concurrently " +
            s"(epoch $e by ${ownerName(info)}) — releasing this partition claim")
      }
      ok = true
    } finally {
      if (!ok) taken.result().foreach(lf =>
        deleteLease(fs, lf))
    }
    val files = taken.result()
    files.foreach(lf => foldBelow(fs, lf.dir, lf.epoch)) // post-validation only
    Held(root, files, Some(parts), consumer = false, ttlMs, fs)
  }

  /** Claim the next epoch in one lease directory. Loud on a live foreign
    * lease (or an in-flight claimant's empty file); a stale one — judged
    * by the TTL its owner recorded — is superseded at epoch+1. Superseded
    * epochs are NOT folded here: the caller folds after its WHOLE
    * acquisition validates, so a failed acquisition (which rolls back only
    * its own files) leaves every pre-existing epoch — fence markers
    * included — in place to keep paused former owners fenced.
    */
  private def claimDir(
      fs: FileSystem, dir: Path, ttlMs: Long, what: String): LeaseFile = {
    val claim = newestLease(fs, dir) match {
      case Some((e, st, info)) =>
        // a MARKER (a scoped claimant's fence over a stale root owner)
        // claims no authority and never blocks: the real exclusion for a
        // root claimant is the scoped-dir validation that follows its
        // claim — but the marker's EPOCH still seeds the chain, so the
        // fenced old owner stays fenced
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
    * claimant's own TTL only for pre-format files) — a short-TTL claimant
    * can never judge a healthy long-TTL owner stale. An in-flight
    * claimant's empty content reads as live-but-unknown (still loud).
    */
  private def isLive(st: FileStatus, info: LeaseInfo, claimantTtlMs: Long): Boolean =
    System.currentTimeMillis() - st.getModificationTime <
      info.ttlMs.getOrElse(claimantTtlMs)

  private def ownerName(info: LeaseInfo): String =
    if (info.owner.isEmpty) "an in-flight claimant" else info.owner

  private def leaseContent(ttlMs: Long): String = ownerId + s"\nttl=$ttlMs"

  /** A fence MARKER's content: supersedes a stale root owner's epoch
    * without claiming root authority. Tagged with the superseder's role
    * (`by=partition` / `by=consumer-plane`) so a takeover is attributable
    * from the file alone; `mode=parts` kept for pre-r11 files.
    */
  private def markerContent(ttlMs: Long, by: String): String =
    ownerId + s"\nttl=$ttlMs\nmode=marker\nby=$by"

  /** Delete a lease file and its `beat-` twin, best-effort. The twin
    * delete is UNCONDITIONAL (one cheap extra RPC on lease-release paths,
    * which are rare — exit, drain, fold): twin presence cannot be
    * inferred from the setTimes-capability latch, because a transient
    * IOException beats the twin WITHOUT latching the scheme.
    */
  private def deleteLease(fs: FileSystem, lf: LeaseFile): Unit = {
    try { fs.delete(lf.path, false); () } catch { case _: Exception => () }
    try { fs.delete(beatPath(lf), false); () } catch { case _: Exception => () }
  }

  /** Delete superseded epochs below `claim` (and their beat twins) in
    * one dir (best-effort: a failure just leaves tiny stale files below
    * the winning epoch).
    */
  private def foldBelow(fs: FileSystem, dir: Path, claim: Long): Unit =
    listLeases(fs, dir).filter(_._1 < claim)
      .foreach { case (e, _) => deleteLease(fs, LeaseFile(dir, e)) }

  /** Conditional-create capability probe: connectors that support atomic
    * put-if-absent (S3 If-None-Match / GCS generation-match) advertise
    * the public Hadoop option key as a path capability; the builder path
    * below then makes first-acquisition races single-winner on object
    * stores too. (Hadoop's `Options.CreateFileOptionKeys`.)
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
      fs match {
        case _ if fs.hasPathCapability(p, CondCreateCapability) =>
          // conditional-write connector: overwrite(false) + the option key
          // make the PUT atomic put-if-absent; the race loser throws at
          // close() (the connector's conditional-PUT failure)
          val out = fs.createFile(p).overwrite(false)
            .opt(CondCreateCapability, true).build()
          try out.write(bytes) finally out.close()
          true
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          val local = java.nio.file.Paths.get(p.toUri.getPath)
          java.nio.file.Files.createFile(local) // O_CREAT|O_EXCL
          java.nio.file.Files.write(local, bytes)
          true
        case _ =>
          val scheme = Option(p.toUri.getScheme).getOrElse(fs.getScheme)
          if (scheme != "hdfs" && warnedSchemes.add(scheme))
            System.err.println(
              s"graft: filesystem scheme '$scheme' advertises no conditional " +
                "creates; plane-lease acquisition falls back to " +
                "create(overwrite=false) — atomic on HDFS, check-then-create " +
                "on classic object stores (narrow first-acquisition race only; " +
                "steady-state rejection and fencing are unaffected)")
          val out = fs.create(p, false) // atomic create-exclusive on HDFS
          try out.write(bytes) finally out.close()
          true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => if (fs.exists(p)) false else throw e
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
    * twin (see [[refreshLease]] — on stores without `setTimes` the beat
    * twin carries liveness so the AUTHORITY file is never re-PUT). The
    * twin rides the SAME listing: no extra round-trip. An orphaned beat
    * (its lease vanished) pairs with nothing and confers nothing; it is
    * also always OLDER than any later lease at a reused epoch, so the
    * max() can never extend a fresh lease with stale history.
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

  /** All SCOPED claim dirs under the plane: per-partition producer dirs,
    * the consumer-plane dir, and range-scoped consumer claim dirs inside
    * it (`consumer/part-p*`).
    */
  private def scopedDirs(fs: FileSystem, plane: Path): Seq[Path] = {
    val top = (try fs.listStatus(plane).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("part-p") || st.getPath.getName == "consumer"))
      .map(_.getPath)
    top ++ top.filter(_.getName == "consumer").flatMap(partSubDirs(fs, _))
  }

  private def scopedName(d: Path): String =
    if (d.getName == "consumer") "the consumer plane"
    else if (Option(d.getParent).exists(_.getName == "consumer"))
      s"consumer range partition ${d.getName.stripPrefix("part-p")}"
    else s"ring partition ${d.getName.stripPrefix("part-p")}"

  // ------------------------------------------------------ write authority

  /** Cheap authority check at a mutating operation's ENTRY (no FS I/O):
    * fenced roots throw; a root-lease holder has every authority; a
    * partition-scoped holder has [[ProduceAuthority]] within its claim
    * only; a consumer-plane holder has [[ConsumerAuthority]] only.
    */
  def assertAuthority(rootKey: String, a: Authority): Unit = {
    assertNotFenced(rootKey)
    val h = held.get(rootKey)
    if (h == null) return // acquisition happens first on every mutating path
    if (h.consumer) h.parts match {
      case None => a match {
        case ConsumerAuthority | ConsumerCommitAuthority(_) => ()
        case _ =>
          throw new PlaneLeaseHeldException(
            s"this process holds the CONSUMER-PLANE lease for ${h.root} — it may " +
              "register consumers and commit group offsets only; produce, " +
              "maintenance, rescale and the stream ledger need a root-lease " +
              "(or, for produce, partition-scoped) owner process")
      }
      case Some(owned) => a match {
        case ConsumerAuthority => () // registry writes: convergent across members
        case ConsumerCommitAuthority(ps) =>
          val missing = ps.filterNot(owned.contains)
          if (missing.nonEmpty)
            throw new PlaneLeaseHeldException(
              s"group-offset commit touches ring partitions " +
                s"${missing.toSeq.sorted.mkString(",")} outside this process's " +
                s"consumer-partition lease (${specOf(owned)}) for ${h.root} — " +
                "route the consumer to the member owning those ranges, or " +
                "widen the claim")
        case _ =>
          throw new PlaneLeaseHeldException(
            s"this process holds a RANGE-SCOPED consumer lease (${specOf(owned)}) " +
              s"for ${h.root} — it may register consumers and commit group " +
              "offsets within its claim only; produce, maintenance, rescale " +
              "and the stream ledger live in other processes")
      }
    }
    else h.parts match {
      case None => ()
      case Some(owned) =>
        a match {
          case ProduceAuthority(ps) =>
            val missing = ps.filterNot(owned.contains)
            if (missing.nonEmpty)
              throw new PlaneLeaseHeldException(
                s"batch touches ring partitions ${missing.toSeq.sorted.mkString(",")} " +
                  s"outside this process's partition lease (${specOf(owned)}) for " +
                  s"${h.root} — route records to the owning writer " +
                  "(BrokerGroup/ShardRouter), or widen the claim")
          case _ =>
            throw new PlaneLeaseHeldException(
              s"this process holds a PARTITION-scoped lease (${specOf(owned)}) for " +
                s"${h.root} — root-authority operations (maintenance, rescale, " +
                "the stream ledger) and the consumer plane (registry, group " +
                "commits) live in other processes")
        }
    }
  }

  /** Per-write fence at a COMMIT point: re-list the lease directory (root
    * dir for a root holder; each touched partition dir for a
    * partition-scoped holder; the consumer dir for a consumer-plane
    * holder) and reject the commit when a higher epoch is visible — a
    * paused owner's next commit fails loudly instead of landing with
    * stale authority, closing the heartbeat-granular dual-writer window
    * at the point that matters. One tiny-dir listStatus per commit (per
    * touched partition in partition mode).
    */
  def assertCurrentAtCommit(rootKey: String, a: Authority): Unit = {
    assertNotFenced(rootKey)
    val h = held.get(rootKey)
    if (h == null) return // read-side/test paths that never acquired
    if (h.consumer) {
      assertAuthority(rootKey, a)
      h.parts match {
        case None => checkDirCurrent(rootKey, h, h.files.head)
        case Some(owned) =>
          val ps = a match {
            case ConsumerCommitAuthority(x) => x
            case _ => owned.toSet // registry write: re-check the whole claim
          }
          checkClaimDirs(rootKey, h, ps)
      }
    }
    else h.parts match {
      case None =>
        // root holder: files.head is the root-dir claim (scoped-dir
        // supersede files follow it and need no per-write re-check —
        // scoped claimants validate against OUR live root lease)
        checkDirCurrent(rootKey, h, h.files.head)
      case Some(owned) =>
        assertAuthority(rootKey, a) // subset / authority contract
        val ps = a match {
          case ProduceAuthority(x) => x
          case _ => owned.toSet // unreachable: assertAuthority threw
        }
        checkClaimDirs(rootKey, h, ps)
    }
  }

  /** Fence-check every claim dir whose partition is in `ps`. */
  private def checkClaimDirs(rootKey: String, h: Held, ps: Set[Int]): Unit = {
    val toCheck = h.files.filter(lf => dirPart(lf.dir).exists(ps.contains))
    if (toCheck.sizeIs <= 1 || localFs(h.fs))
      // per-dir listings: on the LOCAL filesystem they are the fast
      // path (a recursive listFiles materializes LocatedFileStatus,
      // whose eager permission load forks a process per entry — 5x
      // on the wire bench), and latency-per-round-trip is nil anyway
      toCheck.foreach(lf => checkDirCurrent(rootKey, h, lf))
    else {
      // multi-partition commit on a remote store: ONE recursive
      // listing of the plane dir covers every touched partition dir —
      // a single prefix LIST on S3-shaped connectors instead of one
      // LIST round-trip per partition (a 12-partition flush would
      // otherwise pay 12 sequential LISTs). Producer claim dirs and
      // consumer claim dirs share the part-p name shape but have
      // different PARENTS — key the recursive map on parent/name.
      commitFenceLists.incrementAndGet()
      val (newestByDir, drainSeen) = listLeasesRecursive(h.fs, planeDir(h.root))
      // same master cross-check as the single-dir fence: a drain file in
      // the recursive listing aborts only while the master copy is live
      if (drainSeen && masterDrainActive(h)) throwDraining(rootKey, h)
      toCheck.foreach { lf =>
        val newest = newestByDir.get(dirKeyOf(lf.dir))
        if (newest.exists(_ > lf.epoch)) fenceAtCommit(rootKey, h, lf)
        else if (!newest.contains(lf.epoch)) {
          if (drainingRoots.contains(rootKey)) throwDraining(rootKey, h)
          else fenceAtCommit(rootKey, h, lf)
        }
      }
    }
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

  /** Newest visible lease epoch per lease DIRECTORY NAME under the whole
    * plane dir, from one recursive listing (object stores answer it with
    * a single prefix LIST).
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
    // the listing it already pays for: abort this commit RETRYABLY and
    // release the claims at the next ensure() (root holders ignore drain
    // files — a drain targets scoped claims so a root claimant can run).
    // The per-dir copy is honored only while the MASTER drain file is
    // still active (one extra getFileStatus, paid only when a copy is
    // visible): the master is the drain's source of truth everywhere
    // else (acquisition gate, heartbeat release, handleDraining), so an
    // orphaned per-dir copy — a clearDrain whose per-dir delete failed —
    // must not trap this claimant in an abort/release/re-acquire loop
    // for up to DrainMaxAgeMs while the coordinator believes the drain
    // is over
    if ((h.parts.isDefined || h.consumer) &&
        sts.exists(st => st.getPath.getName == DrainFileName && drainActive(st)) &&
        masterDrainActive(h))
      throwDraining(rootKey, h)
    val epochs = sts.map(_.getPath.getName).filter(_.startsWith("lease-"))
      .flatMap(n => n.stripPrefix("lease-").toLongOption)
    if (epochs.nonEmpty && epochs.max > lf.epoch)
      fenceAtCommit(rootKey, h, lf)
    else if (!epochs.contains(lf.epoch)) {
      // our own lease file is gone with no higher epoch visible: either
      // this JVM's drain release raced an in-flight commit (retryable) or
      // the claim was erased externally (fence — same rule as the beat)
      if (drainingRoots.contains(rootKey)) throwDraining(rootKey, h)
      else fenceAtCommit(rootKey, h, lf)
    }
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

  /** Highest epoch this JVM holds for a root (forensic stamp for the meta
    * swaps' filenames; 0 before acquisition).
    */
  def commitEpoch(rootKey: String): Long =
    Option(held.get(rootKey)).map(_.files.map(_.epoch).max).getOrElse(0L)

  // ---------------------------------------------------------- heartbeats

  private def startBeater(): Unit = this.synchronized {
    if (beater == null) {
      // clean exits RELEASE (the reference's goodbye gossip): a restarted
      // driver contends immediately instead of waiting out the TTL; a
      // crash skips the hook and leaves the lease to expire — exactly the
      // takeover path. Best-effort: a failed delete just means TTL expiry.
      // Uses each claim's ACQUISITION FileSystem — a fresh default
      // Configuration cannot resolve conf-dependent schemes.
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val it = held.values().iterator()
        while (it.hasNext) {
          val h = it.next()
          h.files.foreach { lf =>
            deleteLease(h.fs, lf)
          }
        }
      }, "graft-plane-lease-release"))
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
    * mtime, detect takeover (higher epoch visible → FENCE this root), and
    * drop claims whose root no longer exists (a torn-down test/dev
    * store). All FS access goes through the FileSystem resolved at
    * ACQUISITION (`Held.fs`) — resolving with a fresh default
    * Configuration broke every conf-dependent root (S3A credentials,
    * custom impls): the beat failed silently, the lease expired
    * unrefreshed, a successor took over, and the live owner never fenced.
    * Failures now count on [[heartbeatFailures]] and retry next tick.
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
        } else if ((h.parts.isDefined || h.consumer) &&
            activeDrainAt(h.fs, new Path(planeDir(h.root), DrainFileName))) {
          // a coordinator requested a drain and this claimant is idle (no
          // commit has observed it): release here so the drain completes
          // without waiting out the TTL. Mark draining FIRST — a racing
          // in-flight commit then aborts retryably on its vanished lease
          // file instead of passing a vacuous fence.
          drainingRoots.add(e.getKey)
          h.files.foreach { lf =>
            deleteLease(h.fs, lf)
          }
          it.remove()
        } else {
          var fenced = false
          h.files.foreach { lf =>
            if (!fenced) {
              if (listLeases(h.fs, lf.dir).lastOption.exists(_._1 > lf.epoch)) {
                // superseded: fence, and do NOT touch the successor's file
                fencedRoots.add(e.getKey)
                it.remove()
                fenced = true
              } else if (!h.fs.exists(lf.path)) {
                // our own lease file vanished with no higher epoch visible:
                // a takeover whose trace was folded/rolled back, or an
                // external sweep — either way this process cannot prove it
                // still holds the claim, so FENCE (re-creating at the old
                // epoch here is how a paused owner regains authority it
                // already lost)
                fencedRoots.add(e.getKey)
                it.remove()
                fenced = true
              } else {
                refreshLease(h, lf)
              }
            }
          }
        }
      } catch {
        case _: InterruptedException => throw new InterruptedException
        case ex: Exception =>
          if (sys.env.contains("GRAFT_DEBUG_HB")) ex.printStackTrace()
          heartbeatFailures.incrementAndGet() // visible on /metrics; next tick
          ()
      }
    }
  }

  // schemes whose setTimes threw UnsupportedOperationException: later
  // beats go straight to the rewrite (S3A and most object-store
  // connectors do not support setTimes — without the fallback a healthy
  // owner's lease would silently expire at TTL, inviting a takeover the
  // commit fence then has to repel)
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
    * file is NEVER re-PUT: a rewrite is check-then-PUT, and in the window
    * between the existence check and the PUT an external sweep's delete
    * would be silently undone — the resurrection-at-the-old-epoch the
    * vanished-lease fence rule forbids. A resurrected BEAT twin is inert:
    * liveness readers pair it with a PRESENT lease file of the same
    * epoch, and the owner's next tick fences on the vanished lease. A
    * transient failure of either path propagates to the tick's counter
    * and retries next beat.
    */
  private def refreshLease(h: Held, lf: LeaseFile): Unit = {
    def beat(): Unit = {
      val out = h.fs.create(beatPath(lf), true)
      try out.write(ownerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      leaseRefreshBeats.incrementAndGet()
      ()
    }
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

  /** The epoch this JVM holds for a root, if any — the `/metrics`
    * gauge's source (an epoch INCREASE across scrapes means a takeover
    * happened somewhere: alert-worthy). Partition-scoped claims report
    * their highest partition epoch.
    */
  private[graft] def heldEpoch(rootKey: String): Option[Long] =
    Option(held.get(rootKey)).map(_.files.map(_.epoch).max)

  /** Test aid: forget (and delete) this JVM's claim for a root so a new
    * acquisition contends from scratch; clears any fenced mark.
    */
  private[graft] def dropForTests(rootKey: String): Unit = {
    val h = held.remove(rootKey)
    fencedRoots.remove(rootKey)
    drainingRoots.remove(rootKey)
    if (h != null) {
      h.files.foreach { lf =>
        deleteLease(h.fs, lf)
      }
    }
  }

  // ------------------------------------------------- coordinated draining

  private def assertNotDraining(fs: FileSystem, plane: Path, root: String): Unit =
    if (activeDrainAt(fs, new Path(plane, DrainFileName)))
      throw new PlaneDrainingException(
        s"the write plane for $root is draining for a coordinated " +
          "rescale/maintenance window — scoped claims cannot be acquired " +
          "until the coordinator clears the drain; retry later")

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
    liveRealRootLease(fs, plane, DefaultTtlMs).foreach { case (e, info) =>
      throw new IllegalStateException(
        s"the root plane for $root is owned live by ${ownerName(info)} " +
          s"(epoch $e) — issue the rescale/maintenance on that process " +
          "instead of draining")
    }
    def put(d: Path): Unit = {
      val out = fs.create(new Path(d, DrainFileName), true)
      try out.write(ownerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    put(plane)
    scopedDirs(fs, plane).foreach(put)
    // second pass: a claimant that passed assertNotDraining just before
    // the master write may have created its claim dir after the listing
    // above — re-list once now that the master gates new acquisitions, so
    // the race window collapses to the one in-flight acquisition. The
    // residual worst case (a copy-less claimant that acquired inside
    // that instant) still observes the MASTER at its next heartbeat
    // (DefaultTtl/4 = 15 s, under rescaleWithDrain's 60 s default
    // timeout) — callers shortening the drain timeout below TTL/4 must
    // expect the drain-poll to report that claimant live until then.
    scopedDirs(fs, plane)
      .filter(d => !activeDrainAt(fs, new Path(d, DrainFileName)))
      .foreach(put)
  }

  /** Remove every drain file under the plane — per-dir copies FIRST, the
    * master LAST: the fence honors a per-dir copy only while the master
    * exists, and handleDraining gates re-acquisition on the master, so
    * deleting in this order can never strand a claimant behind an
    * orphaned per-dir copy. Per-dir delete failures retry and then THROW
    * (the master is left in place): a silently-swallowed failure here
    * used to trap the claimant in a retryable-abort loop for up to
    * [[DrainMaxAgeMs]].
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
    scopedDirs(fs, plane).foreach(rm)
    rm(plane)
  }

  /** Human-readable names of the scoped claims still LIVE under the root
    * (non-marker, within their owner-recorded TTL) — the coordinator
    * polls this after [[requestDrain]] until empty.
    */
  def liveScopedClaims(root: String, conf: Configuration): Seq[String] = {
    val plane = planeDir(root)
    val fs = plane.getFileSystem(conf)
    scopedDirs(fs, plane).flatMap { d =>
      newestLease(fs, d) match {
        case Some((_, st, info))
            if !info.marker && info.owner != ownerId &&
              isLive(st, info, DefaultTtlMs) =>
          Some(s"${scopedName(d)} (${ownerName(info)})")
        case _ => None
      }
    }
  }

  /** Release this JVM's claim for a root cleanly (delete lease files,
    * forget the claim — no fence): the coordinator hands the plane back
    * after a maintenance window so scoped claimants can re-acquire.
    */
  def releaseOwned(rootKey: String): Unit = {
    val h = held.remove(rootKey)
    if (h != null) h.files.foreach { lf =>
      deleteLease(h.fs, lf)
    }
  }
}
