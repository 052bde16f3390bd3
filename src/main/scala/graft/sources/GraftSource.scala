package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.graft.GraftConfHolder
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.TopicStore

/** DataSource V2 connector: a graft topic as a first-class Spark table.
  *
  * ```
  * spark.read.format("graft").option("root", r).option("topic", t).load()
  * spark.readStream.format("graft").option("root", r).option("topic", t).load()
  * ```
  *
  * The batch read scans the topic's current generation. The STREAMING
  * read is the broker-consume semantics done Spark-first: each
  * micro-batch's endpoint is the producer high-watermark table (`_meta/
  * producer_offsets`) — per-partition offset maps, NOT file arrival — so
  * a batch is an exact, replayable offset range `[from, until)` per ring
  * partition and the checkpoint's offset log gives end-to-end
  * exactly-once to an idempotent sink. Readers push an offset-range
  * predicate into the parquet scan (row-group statistics skip), and the
  * record-exact bound is enforced per row against the per-partition
  * maps.
  *
  * Scale notes: batch planning is one metadata read (the offsets table)
  * plus a directory listing pruned to `topic=`/`version=`; each file is
  * one input partition, so read parallelism is file-granular. The
  * listing runs per trigger (like any file-based source) and every
  * planned file gets a task whose row groups the offset predicate then
  * skips — for long-lived topics, `compact` keeps the file count (and
  * so per-trigger planning cost) bounded. Offsets are
  * generation-stamped (they restart per partition at a rescale), and
  * the stream RIDES THROUGH generation flips: it drains its positioned
  * generation to that generation's frozen watermarks, then continues at
  * the next live generation's offset 0 — the reference consumer's R6
  * split/join continuity (`offset_state.go:492-611`). Only a
  * mid-stream `sweepStaleGenerations` of the positioned generation
  * fails loudly (the records are gone). One source instance follows ONE
  * topic (each topic has independent offsets); a reference-style
  * multi-topic subscription is the union of per-topic streams —
  * `stream("a").union(stream("b"))` — each with its own offset log.
  */
class GraftSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // DSv2 hands getTable the ORIGINAL-cased option keys; the contract
    // is case-insensitive resolution (inferSchema already gets a
    // CaseInsensitiveStringMap) — a raw properties.get("root") misses
    // .option("Root", ...) and silently drops .option("MaxRecordsPerTrigger", ...)
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftTable(opts.get("root"), opts.get("topic"),
      Option(opts.get("maxRecordsPerTrigger")).map(_.toLong))
  }
}

object GraftSource {
  /** The record envelope (mirrors TopicStore.recordSchema). */
  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", BinaryType),
    StructField("timestamp", TimestampType),
    StructField("part", IntegerType),
    StructField("offset", LongType),
    StructField("topic", StringType),
    StructField("token", LongType),
    StructField("range", IntegerType),
    StructField("version", IntegerType)))

  // compiled once: seg() ran three Pattern.compile calls PER FILE on the
  // per-trigger planning path
  private val TokenRe = "/token=([^/]+)/".r
  private val RangeRe = "/range=([^/]+)/".r
  private val VersionRe = "/version=([^/]+)/".r

  /** Driver-side file snapshot of a topic's generation set: (path,
    * token, range, version) parsed from the partition directories.
    */
  private[sources] def listFiles(
      spark: SparkSession, root: String, topic: String, versions: Set[Int]): Seq[GraftFile] = {
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(topic)
    val topicDir = new Path(s"$root/data/topic=$esc")
    val fs = topicDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(topicDir)) return Seq.empty
    val it = fs.listFiles(topicDir, true)
    val out = Seq.newBuilder[GraftFile]
    while (it.hasNext) {
      val st: FileStatus = it.next()
      val p = st.getPath.toString
      if (st.isFile && p.endsWith(".parquet")) {
        def seg(re: scala.util.matching.Regex): Option[String] =
          re.findFirstMatchIn(p + "/").map(_.group(1))
        (seg(TokenRe), seg(RangeRe), seg(VersionRe)) match {
          case (Some(t), Some(r), Some(v)) if versions.contains(v.toInt) =>
            out += GraftFile(p, t.toLong, r.toInt, v.toInt)
          case _ => ()
        }
      }
    }
    out.result()
  }
}

private[sources] case class GraftFile(path: String, token: Long, range: Int, version: Int)

class GraftTable(root: String, topic: String, maxRecordsPerTrigger: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite {
  require(root != null && topic != null,
    """format("graft") needs .option("root", <store root>) and .option("topic", <name>)""")
  override def name(): String = s"graft:$topic@$root"
  override def schema(): StructType = GraftSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      // BATCH_WRITE routes DataFrameWriter onto the DSv2 write plan;
      // V1_BATCH_WRITE tells that plan to execute this table's Write as
      // the V1 InsertableRelation fallback (AppendDataExecV1)
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftScan(root, topic, maxRecordsPerTrigger)
    }

  /** Batch write = `TopicStore.produce` behind the DSv2 surface:
    *
    * ```
    * df.write.format("graft").option("root", r).option("topic", t)
    *   .mode("append").save()
    * ```
    *
    * Contiguous per-ring-partition offsets are a CROSS-task property (a
    * window over the whole batch keyed by (token, range)), which the
    * per-partition DataWriter API cannot express — independent writers
    * cannot agree on offset ranks without a coordination channel the API
    * doesn't have. So the write goes through Spark's V1 fallback
    * (`V1Write` → `InsertableRelation`) straight into the engine's
    * produce plan: one shuffle to the ring partitioning, one offset
    * window, one partitioned zstd parquet append, watermark commit —
    * the exact plan every other produce surface uses.
    *
    * `ACCEPT_ANY_SCHEMA`: producers write the *producer* shape
    * (`key`, `value`, optional `timestamp`), not the full 9-column record
    * envelope the table reads back — the adapter below normalizes types
    * (string values are UTF-8 encoded, a missing timestamp gets the
    * server-assigned ingest time, §2.6.5) and rejects anything else.
    * Streaming writes stay on `StreamingTopic.ingest` (foreachBatch +
    * the produceOnce replay ledger) — a DSv2 `StreamingWrite` has the
    * same per-writer independence, plus exactly-once bookkeeping the
    * ledger already provides.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new V1Write {
      override def toInsertableRelation: InsertableRelation = new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          if (overwrite) throw new UnsupportedOperationException(
            "graft topics are append-only logs: use mode(\"append\") " +
              "(retention/compaction reclaim space, not overwrite)")
          val store = new TopicStore(data.sparkSession, root)
          store.produce(topic, GraftTable.adaptProducerBatch(data))
          ()
        }
      }
    }
  }
}

object GraftTable {
  import org.apache.spark.sql.functions.{col, current_timestamp, encode}

  /** Normalize a producer-shaped DataFrame to produce()'s contract:
    * `key` string, `value` binary (strings UTF-8 encoded), `timestamp`
    * defaulting to the server ingest time when absent (§2.6.5).
    * Column names resolve case-insensitively (Spark's default analyzer
    * behavior — a frame named `Key`/`Value` is conventionally valid),
    * and ambiguous folded duplicates are rejected.
    */
  private[sources] def adaptProducerBatch(data: DataFrame): DataFrame = {
    val byFolded = data.columns.groupBy(_.toLowerCase(java.util.Locale.ROOT))
    byFolded.collect { case (n, vs) if vs.length > 1 => n } match {
      case dups if dups.nonEmpty => throw new IllegalArgumentException(
        s"graft write: ambiguous columns after case folding: ${dups.mkString(", ")}")
      case _ => ()
    }
    def named(n: String): Option[org.apache.spark.sql.Column] =
      byFolded.get(n).map(vs => col(s"`${vs.head}`"))
    require(named("key").nonEmpty && named("value").nonEmpty,
      s"graft write needs columns (key, value[, timestamp]); got ${data.columns.mkString(", ")}")
    val extras = byFolded.keySet -- Set("key", "value", "timestamp")
    require(extras.isEmpty,
      s"graft write accepts only (key, value[, timestamp]); unexpected: ${extras.mkString(", ")} " +
        "— the engine assigns part/offset/token/range/version itself")
    val valueName = byFolded("value").head
    val valueCol = data.schema(valueName).dataType match {
      case BinaryType => named("value").get
      case StringType => encode(named("value").get, "UTF-8")
      case other => throw new IllegalArgumentException(
        s"graft write: value must be BINARY or STRING, got $other")
    }
    // NO blanket cast(TimestampType): Spark casts numerics to timestamp as
    // epoch SECONDS, while every produce surface in this engine speaks
    // epoch MICROS — a micros-as-LONG producer column would silently land
    // ~50,000 years in the future and corrupt offsetsForTime/seekToTime
    // cuts. Integral columns are therefore converted explicitly as micros;
    // anything else is rejected like the strict key/value handling.
    val tsCol = named("timestamp").map { c =>
      data.schema(byFolded("timestamp").head).dataType match {
        case TimestampType => c
        // LongType ONLY: IntegerType can represent barely ±35 minutes of
        // epoch micros, so an int column here is certainly epoch SECONDS
        // (or worse) — accepting it lands every record in Jan 1970, the
        // silent corruption this whole branch exists to reject
        case LongType =>
          org.apache.spark.sql.functions.timestamp_micros(c)
        case other => throw new IllegalArgumentException(
          s"graft write: timestamp must be TIMESTAMP or a LONG epoch-MICROS column, got $other")
      }
    }.getOrElse(current_timestamp())
    data.select(named("key").get.cast(StringType).as("key"),
      valueCol.as("value"), tsCol.as("timestamp"))
  }
}

class GraftScan(root: String, topic: String, maxRecordsPerTrigger: Option[Long] = None)
    extends Scan {
  override def readSchema(): StructType = GraftSource.schema
  override def description(): String = s"GraftScan(topic=$topic)"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val spark = SparkSession.active
      val store = new TopicStore(spark, root)
      // broadcast ONCE: each InputPartition serializes independently, so an
      // inline conf holder would ship the full ~100KB Hadoop Configuration
      // with every task — the broadcast handle ships once per executor
      val conf = spark.sparkContext.broadcast(
        new GraftConfHolder(spark.sparkContext.hadoopConfiguration))
      // generation read + file listing under the (JVM-global) topic read
      // lock: a maintenance swap (purge/compact/retention) holds the write
      // lock across its whole rename-then-delete, so a listing can never
      // see the half-swapped state (original + rewritten file at the same
      // offsets = silent double delivery). Files deleted AFTER planning
      // fail the task loudly instead — the batch analog of a consumer
      // paging into retention, and a retry replans coherently.
      store.withTopicReads(topic) {
        // the whole LIVE lineage: after a metadata-only rescale the
        // topic's history stays in ancestor generations — a current-
        // generation-only batch read would see an empty topic
        val live = store.generations(topic).map(_.version).toSet
        GraftSource.listFiles(spark, root, topic, live).map { f =>
          GraftInputPartition(f, topic, Map.empty, Map.empty, conf): InputPartition
        }.toArray
      }
    }
    override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(root, topic, maxRecordsPerTrigger)
}

/** Streaming offset: the per-ring-partition high-watermark map, stamped
  * with the generation it was read under — offsets restart per
  * generation (rescale), so a watermark is only meaningful within one.
  */
case class GraftOffset(gen: Int, parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }
      .mkString(s"""{"gen":$gen,"parts":{""", ",", "}}")
}

object GraftOffset {
  private val genRe = """"gen":(\d+)""".r
  private val entry = """"(\d+)":(-?\d+)""".r
  def fromJson(s: String): GraftOffset = GraftOffset(
    genRe.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(1),
    entry.findAllMatchIn(s).map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

class GraftMicroBatchStream(
    root: String,
    topic: String,
    maxRecordsPerTrigger: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  private val spark = SparkSession.active
  private val store = new TopicStore(spark, root)
  // broadcast once per stream (see the batch plan's note): partitions
  // carry the handle, not the serialized Configuration
  private val conf = spark.sparkContext.broadcast(
    new GraftConfHolder(spark.sparkContext.hadoopConfiguration))

  /** A fresh stream reads the WHOLE live topic: start at the earliest
    * live generation (after metadata-only rescales the history lives in
    * ancestors) with empty positions.
    */
  override def initialOffset(): Offset =
    GraftOffset(pollChain().head.version, Map.empty)

  /** One chain poll per trigger (latestOffset caches, reportLatestOffset
    * reuses). Watermarks are the PERSISTED maps, never the healing read —
    * a read-side observer must not write `_meta` or surface records
    * ahead of their watermark commit.
    */
  @volatile private var lastPoll: (Int, Map[Int, Long]) = _

  private def pollChain(): Seq[graft.engine.Generation] = {
    // another store instance owns the writes: drop the read-side caches
    // so the poll observes its advanced watermarks (and chain). A
    // concurrent swap can still yank a just-listed OLD file between the
    // list and the read — retry through THAT window only (Vanished): a broad
    // Exception retry would sit through 5 sleeps on genuinely fatal
    // misconfiguration (bad root, permissions) and delay cancellation.
    var attempt = 0
    while (true) {
      try {
        store.refreshOffsets(topic)
        return store.generations(topic)
      } catch {
        case TopicStore.Vanished(_) if attempt < 5 =>
          attempt += 1
          Thread.sleep(100)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def highFor(version: Int): Map[Int, Long] =
    store.persistedProducerOffsets(topic, version)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used — SupportsAdmissionControl")

  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  /** Rate-limited endpoint (maxRecordsPerTrigger) with GENERATION
    * CONTINUATION: the stream drains its positioned generation to that
    * generation's frozen watermarks, then advances to the next live
    * generation from offset 0 (one generation step per micro-batch) —
    * the reference consumer's ride-through of a split/join (R6 offset
    * projection, `offset_state.go:492-611`). Offsets restart per
    * generation, so positions are only ever compared within the
    * generation they were read under. A positioned generation that was
    * SWEPT from under a mid-stream checkpoint fails loudly (its records
    * are gone — at-least-once cannot be silently faked); a checkpoint
    * that consumed NOTHING yet re-anchors at the earliest live
    * generation. Within a generation, partitions advance in ascending
    * order, each taking what remains of the record budget —
    * deterministic, so a replayed batch plans the identical range.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[GraftOffset]
    val chain = pollChain()
    val idx = chain.indexWhere(_.version == so.gen)
    val (serveGen, from) =
      if (idx >= 0) {
        val high = highFor(so.gen)
        val drained = high.forall { case (p, hi) => so.parts.getOrElse(p, 0L) >= hi }
        if (drained && idx < chain.size - 1) (chain(idx + 1).version, Map.empty[Int, Long])
        else (so.gen, so.parts)
      } else if (store.droppedEmptyVersions(topic).contains(so.gen) &&
          chain.exists(_.version >= so.gen))
        // the positioned generation is no longer live but left a
        // dropped-empty TOMBSTONE: it never held a record (rescale's
        // chain hygiene, or a sweep of a never-produced generation), so
        // nothing was lost — re-anchor at the earliest live generation
        // at or after it. A generation swept WITH data leaves no
        // tombstone and falls through to the loud failure below, even
        // when this stream had consumed nothing from it (its records
        // existed and this stream never delivered them — at-least-once
        // cannot be silently faked).
        (chain.find(_.version >= so.gen).get.version, Map.empty[Int, Long])
      else throw new IllegalStateException(
        s"topic '$topic': checkpointed offsets are for generation ${so.gen}, " +
          s"which is no longer live (chain: ${chain.map(_.version).mkString(",")}) — " +
          "its records were swept out from under this stream; restart with a " +
          "fresh checkpoint")
    val high = highFor(serveGen)
    lastPoll = (serveGen, high)
    limit match {
      case r: ReadMaxRows =>
        var budget = r.maxRows()
        val capped = high.toSeq.sortBy(_._1).map { case (p, hi) =>
          val lo = from.getOrElse(p, 0L)
          val take = math.min(math.max(hi - lo, 0L), budget)
          budget -= take
          p -> (lo + take)
        }.toMap
        GraftOffset(serveGen, capped)
      case _ => GraftOffset(serveGen, high)
    }
  }

  override def reportLatestOffset(): Offset = {
    val (gen, high) =
      if (lastPoll != null) lastPoll
      else { val c = pollChain(); (c.last.version, highFor(c.last.version)) }
    GraftOffset(gen, high)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    // a cross-generation batch starts the new generation at 0 — the old
    // generation's positions are meaningless in the new numbering
    val from = if (so.gen == eo.gen) so.parts else Map.empty[Int, Long]
    val until = eo.parts
    if (until.forall { case (p, hi) => from.getOrElse(p, 0L) >= hi }) return Array.empty
    // same read-lock discipline as the batch scan: the listing must not
    // observe a maintenance swap mid-flight (see GraftScan.toBatch)
    store.withTopicReads(topic) {
      val live = store.generations(topic).map(_.version).toSet
      if (!live.contains(eo.gen)) throw new IllegalStateException(
        s"topic '$topic': batch targets generation ${eo.gen}, which is no " +
          s"longer live (chain: ${live.toSeq.sorted.mkString(",")}) — its records " +
          "were swept mid-stream; restart with a fresh checkpoint")
      GraftSource.listFiles(spark, root, topic, Set(eo.gen)).map { f =>
        GraftInputPartition(f, topic, from, until, conf): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One topic parquet file plus the batch's per-partition offset bounds
  * (empty maps = unbounded batch read).
  */
case class GraftInputPartition(
    file: GraftFile,
    topic: String,
    from: Map[Int, Long],
    until: Map[Int, Long],
    conf: org.apache.spark.broadcast.Broadcast[GraftConfHolder]) extends InputPartition

class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition])
}

/** Reads one topic file with an offset-range parquet predicate (row-group
  * statistics skip) and enforces the exact per-partition bounds per row.
  * Uses the parquet example Group API — the file carries only the data
  * columns (key, value, timestamp, part, offset); token/range/version
  * come from the partition directory the file lives in.
  */
class GraftPartitionReader(p: GraftInputPartition) extends PartitionReader[InternalRow] {
  private val reader = {
    val builder = TopicStore.groupReader(new Path(p.file.path), p.conf.value.value)
    // coarse pushdown: the union of all partitions' bounds — row groups
    // wholly outside [min-from, max-until) never decompress. The lower
    // bound must be valid for EVERY partition that may appear in this
    // file, INCLUDING partitions absent from `from` (their scan starts
    // at 0): parquet-mr applies the predicate per RECORD, so a
    // min-over-from-values bound would permanently drop a new
    // partition's first records. The exact per-partition bound is the
    // reader's per-row check below.
    val lo =
      if (p.until.isEmpty) 0L
      else p.until.keys.map(part => p.from.getOrElse(part, 0L)).min
    val hiOpt = if (p.until.isEmpty) None else Some(p.until.values.max)
    val offCol = FilterApi.longColumn("offset")
    val pred = hiOpt match {
      case Some(hi) =>
        FilterApi.and(FilterApi.gtEq(offCol, java.lang.Long.valueOf(lo)),
          FilterApi.lt(offCol, java.lang.Long.valueOf(hi)))
      case None => FilterApi.gtEq(offCol, java.lang.Long.valueOf(lo))
    }
    builder.withFilter(FilterCompat.get(pred)).build()
  }

  private val topicUtf = UTF8String.fromString(p.topic)
  private var row: InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val part = g.getInteger("part", 0)
      val off = g.getLong("offset", 0)
      val lo = p.from.getOrElse(part, 0L)
      val hi = if (p.until.isEmpty) Long.MaxValue else p.until.getOrElse(part, 0L)
      if (off >= lo && off < hi) {
        def field(name: String): Boolean = g.getFieldRepetitionCount(name) > 0
        val ts: Any =
          if (!field("timestamp")) null
          else try g.getLong("timestamp", 0)
          catch { case _: ClassCastException | _: UnsupportedOperationException =>
            throw new IllegalStateException(
              s"${p.file.path}: timestamp is not INT64 micros — the file " +
                "predates the TIMESTAMP_MICROS store format (INT96); " +
                "rewrite the topic (compact) with a current session")
          }
        row = new GenericInternalRow(Array[Any](
          if (field("key")) UTF8String.fromString(g.getString("key", 0)) else null,
          if (field("value")) g.getBinary("value", 0).getBytes else null,
          ts,
          part, off, topicUtf, p.file.token, p.file.range, p.file.version))
        return true
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
