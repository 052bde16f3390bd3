package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** The one owner of the `_meta` table protocol — the store's SQLite
  * metadata module analog (`internal/localdb/queries.go:99-271`). A
  * table is a directory of driver-side parquet files, of which the
  * lexically-newest visible one is current; [[swap]] writes a new one
  * rename-first and folds the older ones. Every `_meta` table —
  * `generations`, `groups`, `producer_offsets`, `group_offsets` and
  * `stream_batches` — reads and writes through this class. Offsets
  * tables may also hold per-claim `lane-<spec>` sub-tables
  * ([[readOffsets]], [[lane]], [[foldLanes]]).
  *
  * `conf` resolves the file systems (the session's Hadoop conf, read at
  * each call); `rootKey` is the normalized store root the plane lease is
  * held under.
  */
private[graft] final class MetaTable(conf: Configuration, rootKey: String) {
  import MetaTable._

  /** The current rows of the table in `dir`: the lexically-newest visible
    * `.parquet` file, decoded row by row; empty when the dir is missing
    * or holds no visible table. Retries on [[TopicStore.Vanished]].
    */
  def read[T](dir: String, table: Table[T]): Seq[T] =
    retrying(0)(listed(dir).fold(Seq.empty[T])(l => newest(l._2, table)))

  /** An offsets table (`producer_offsets`, `group_offsets`,
    * `stream_batches`) with its lanes: the base table plus the
    * per-partition MAX over every `lane-*` sub-table. Lanes hold disjoint
    * partition sets while their claimants live, and a lane left behind
    * after a full-authority fold only ever carries values the folded
    * base already contains; offsets are monotonic per partition, so the
    * max IS the latest write. The stream ledger never has lanes.
    */
  def readOffsets(dir: String): Map[Int, Long] = retrying(0) {
    listed(dir).fold(Map.empty[Int, Long]) { case (fs, statuses) =>
      statuses.filter(isLane).foldLeft(newest(statuses, Offsets).toMap) { (acc, laneDir) =>
        newest(fs.listStatus(laneDir.getPath).toSeq, Offsets).foldLeft(acc) {
          case (a, (part, next)) =>
            if (next > a.getOrElse(part, Long.MinValue)) a + (part -> next) else a
        }
      }
    }
  }

  /** Delete every `lane-*` sub-table of the offsets table in `dir`: a
    * full-authority writer folds them after swapping the merged base.
    */
  def foldLanes(dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(isLane).foreach { st =>
      if (!fs.delete(st.getPath, true))
        throw new java.io.IOException(s"meta lane fold: could not delete ${st.getPath}")
    }
  }

  /** Swap-write a tiny driver-side parquet table: dot-prefixed while
    * being written (Spark and the group readers both skip hidden files),
    * then swap — rename the new table visible FIRST, then delete the old
    * files. A crash leaves the old state alone, or both tables visible
    * (readers take the lexically-newest; the next swap folds the rest).
    * Loud failure on either swap step: proceeding past a failed rename
    * would leave the old state silently current after a "successful"
    * write, past a failed delete an ever-growing dir.
    */
  def swap[T](
      p: String,
      table: Table[T],
      rows: Seq[T],
      fence: PlaneLease.Authority = PlaneLease.RootAuthority): Unit = {
    val dirPath = new Path(p)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    // RENAME-FIRST swap: the old delete-then-rename order had a window
    // with NO visible file, which an unlocked cross-instance reader
    // (refreshed DSv2 observer) read as VALID EMPTY state — a default
    // generation chain or empty offsets — and cached. With rename first
    // the window holds TWO visible files instead, and every reader
    // resolves it by taking the lexically-newest name (the zero-padded
    // monotonic stamp below); a crash between rename and delete leaves
    // both files for the NEXT swap's delete pass to fold.
    //
    // The stamp is derived from DURABLE state, not a process clock:
    // max(wall clock, newest visible stamp + 1). System.nanoTime()'s
    // origin is per-JVM/per-boot, so after a crash between rename and
    // delete a successor writer on another host (or after a reboot)
    // could stamp its fresh table lexically OLDER than the stale
    // leftover — readers would then prefer the stale chain/offsets
    // until a delete pass folded it, or forever if that delete throws.
    // Taking the on-disk maximum + 1 keeps lexical order = write order
    // across JVMs and reboots (and absorbs legacy nanoTime-stamped
    // files, whose huge values simply become the floor).
    val newestStamp = fs.listStatus(dirPath).iterator
      .map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && n.startsWith("part-"))
      .flatMap { n =>
        val digits = n.stripPrefix("part-").takeWhile(_.isDigit)
        scala.util.Try(digits.toLong).toOption
      }
      .foldLeft(0L)(math.max)
    val stamp = math.max(System.currentTimeMillis(), newestStamp + 1L)
    // the held lease epoch rides in the name (after the ordering stamp —
    // readers keep taking the lexically-newest, and at equal stamps a
    // higher epoch correctly sorts later): forensics for a takeover, and
    // the per-write fence below makes a stale-epoch commit impossible
    val fin = new Path(dirPath,
      f"part-$stamp%019d-e${PlaneLease.heldEpoch(rootKey).getOrElse(0L)}%012d-" +
        s"${java.util.UUID.randomUUID()}.parquet")
    val tmp = SegmentWriter.hidden(fin)
    val gf = new SimpleGroupFactory(table.schema)
    val w = SegmentWriter.groupWriter(tmp, table.schema, SegmentWriter.conf(conf))
    try rows.foreach(r => w.write(table.encode(gf.newGroup(), r))) finally w.close()
    // PER-WRITE epoch fence at the commit point (the reference's
    // per-group generation re-check, `coalescer.go:93-106`): a paused
    // process whose lease was taken over is rejected HERE — before the
    // rename makes its stale-authority table visible — not merely at its
    // next heartbeat. `fence` names the authority this table belongs to:
    // producer watermarks carry the touched partitions, group/registry
    // tables the consumer plane, everything else root.
    PlaneLease.assertCurrentAtCommit(rootKey, fence)
    SegmentWriter.publish(fs, tmp)
    // FILES only: an offsets scope may also hold lane-* DIRS (claimants'
    // sub-tables) — those are not part of this swap; a full-authority
    // writer folds them deliberately (foldLanes)
    fs.listStatus(dirPath).filter(_.isFile).foreach { st =>
      val n = st.getPath.getName
      // fold only files lexically OLDER than ours, and tolerate a
      // concurrent folder having deleted them first: most scopes are
      // single-writer (lease + lock serialized), but the group REGISTRY
      // is written concurrently by RANGE-SCOPED consumer members — the
      // old "delete everything but fin" pass could annihilate a
      // concurrent winner's newer table (each side deleting the other's)
      // and threw when the loser's file was already gone. Readers take
      // the lexically-newest name, so leaving a NEWER file in place is
      // exactly right: our own write is the superseded one.
      if (!n.startsWith(".") && n < fin.getName &&
          !fs.delete(st.getPath, false) && fs.exists(st.getPath))
        throw new java.io.IOException(s"meta swap: could not delete ${st.getPath}")
      // crashed swaps orphan dot-tmp files nothing reads — but a
      // CONCURRENT registry swapper's in-flight tmp is indistinguishable
      // by name, so reclaim only tmps old enough that their writer is
      // certainly gone (best-effort)
      if (n.startsWith(".") && n.endsWith(".tmp") && n != tmp.getName &&
          System.currentTimeMillis() - st.getModificationTime > 10 * 60 * 1000L) {
        fs.delete(st.getPath, false); ()
      }
    }
  }

  /** `dir`'s file system and listing; None when `dir` does not exist. */
  private def listed(dir: String): Option[(FileSystem, Seq[FileStatus])] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) Some((fs, fs.listStatus(p).toSeq)) else None
  }

  /** The rows of the lexically-newest visible table among `statuses`:
    * two visible files are a rename-first swap in flight (or a crash
    * between its rename and delete), and merging them would resurrect
    * stale rows the new table moved on from.
    */
  private def newest[T](statuses: Seq[FileStatus], table: Table[T]): Seq[T] =
    statuses.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.map(_.getPath).sortBy(_.getName).lastOption.fold(Seq.empty[T]) { f =>
      val r = TopicStore.groupReader(f, conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map(table.decode).toList
      finally r.close()
    }

  /** A concurrent writer's swap (rename new in, delete old) can yank a
    * just-listed OLD file from under a reader — a cross-instance observer
    * such as the DSv2 source — between the list and the open: retry the
    * list + read. The swap window is milliseconds and the tables are
    * ring-size rows.
    */
  @annotation.tailrec
  private def retrying[T](attempt: Int)(body: => T): T =
    (try Right(body) catch {
      case TopicStore.Vanished(e) if attempt < ReadRetries => Left(e)
    }) match {
      case Right(v) => v
      case Left(_) =>
        Thread.sleep(ReadRetryMs)
        retrying(attempt + 1)(body)
    }
}

private[graft] object MetaTable {
  private val ReadRetries = 5
  private val ReadRetryMs = 100L

  /** One `_meta` table shape: its parquet schema and row codec. */
  final class Table[T] private[MetaTable] (
      val schema: MessageType, val encode: (Group, T) => Group, val decode: Group => T)

  /** `producer_offsets`, `group_offsets`, `stream_batches`: (part, next).
    * Files written by the old Spark path read identically.
    */
  val Offsets: Table[(Int, Long)] = new Table(
    MessageTypeParser.parseMessageType(
      "message offsets { required int32 part; required int64 next; }"),
    (g, r) => g.append("part", r._1).append("next", r._2),
    g => g.getInteger("part", 0) -> g.getLong("next", 0))

  /** `generations`: the live chain plus dropped-empty tombstones
    * (`cluster_size = 0`).
    */
  val Generations: Table[Generation] = new Table(
    MessageTypeParser.parseMessageType(
      "message generation { required int32 version; required int32 cluster_size; }"),
    (g, r) => g.append("version", r.version).append("cluster_size", r.clusterSize),
    g => Generation(g.getInteger("version", 0), g.getInteger("cluster_size", 0)))

  /** One `groups` registry row: the policy always, plus one row per
    * Latest-snapshot (topic, part, next, snap_version).
    */
  final case class RegistryRow(
      policy: String, topic: Option[String], part: Option[Int], next: Option[Long],
      snapVersion: Option[Int])

  /** `groups`. Registries written by the old Spark path (optional
    * fields), and those persisted before snapshots carried a version (no
    * `snap_version` column), read identically.
    */
  val Registry: Table[RegistryRow] = new Table(
    {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      Types.buildMessage()
        .addField(Types.required(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named("policy"))
        .addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named("topic"))
        .addField(Types.optional(INT32).named("part"))
        .addField(Types.optional(INT64).named("next"))
        .addField(Types.optional(INT32).named("snap_version"))
        .named("group")
    },
    (g, r) => {
      g.append("policy", r.policy)
      r.topic.foreach(g.append("topic", _))
      r.part.foreach(g.append("part", _))
      r.next.foreach(g.append("next", _))
      r.snapVersion.foreach(g.append("snap_version", _))
      g
    },
    g => {
      def has(field: String) =
        g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0
      RegistryRow(g.getString("policy", 0),
        if (has("topic")) Some(g.getString("topic", 0)) else None,
        if (has("part")) Some(g.getInteger("part", 0)) else None,
        if (has("next")) Some(g.getLong("next", 0)) else None,
        if (has("snap_version")) Some(g.getInteger("snap_version", 0)) else None)
    })

  /** The lane sub-table of `claim` in offsets table `dir`. */
  def lane(dir: String, claim: scala.collection.immutable.SortedSet[Int]): String =
    s"$dir/lane-${PlaneLease.specOf(claim)}"

  private def isLane(st: FileStatus): Boolean =
    st.isDirectory && st.getPath.getName.startsWith("lane-")
}
