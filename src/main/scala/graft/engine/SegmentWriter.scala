package graft.engine

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow

/** The store's one parquet writer, like the reference's one segment
  * writer (`internal/data/segment_writer.go:88-127,243-296`): both
  * produce planes, compaction, purge and the `_meta` tables write
  * through it. It owns the segment format — [[schema]], zstd level 1,
  * INT64 micros timestamps — fixed here in its own Configuration copy,
  * never read from the calling session, so a store written from any
  * session reads back through its own readers. And it owns visibility:
  * a file is written as `.<name>.tmp` (hidden from every reader) and
  * made visible by one rename ([[publish]]); a crashed writer's hidden
  * file is reclaimed by `TopicStore.retentionSweep`'s aged-tmp rule.
  *
  * The output is chosen by the path's URI scheme. A `file:` path is
  * written through parquet's `LocalOutputFile` and published with one
  * `Files.move(ATOMIC_MOVE)`; every other scheme keeps `HadoopOutputFile`
  * and `FileSystem.rename`. On a host without libhadoop, Hadoop's local
  * create runs `chmod` in a child process twice (file + `.crc`), ~16 ms
  * of fixed cost per file. The choice is by scheme, not by FileSystem
  * class: filesystems that subclass `RawLocalFileSystem` under their own
  * schemes keep their `create`/`rename` hooks. Neither path fsyncs. A
  * `file:` segment has no `.crc` sidecar; its integrity rests on
  * parquet's page CRCs, which the writer emits by default and a reader
  * checks under `parquet.page.verify-checksum.enabled`.
  */
object SegmentWriter {

  /** Record file schema, in [[Segment.append]]'s order; the
    * `topic=/token=/range=/version=` dirs carry the rest of the envelope.
    */
  val schema: MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("key"))
      .addField(Types.optional(BINARY).named("value"))
      .addField(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named("timestamp"))
      .addField(Types.required(INT32).named("part"))
      .addField(Types.required(INT64).named("offset"))
      .named("record")
  }

  /** `base` (filesystem settings: scheme impls, credentials) plus the
    * codec level: zstd 1 halves level 3's encode cost for a few % of
    * ratio on compression-bound produce batches. One per batch of files.
    */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.setInt("parquet.compression.codec.zstd.level", 1)
    c
  }

  def hidden(fin: Path): Path = new Path(fin.getParent, s".${fin.getName}.tmp")

  /** `p` as a local file when its scheme (else `defaultScheme`, the
    * scheme of its FileSystem) is `file`.
    */
  private def localFile(p: Path, defaultScheme: => String): Option[java.nio.file.Path] =
    if (Option(p.toUri.getScheme).getOrElse(defaultScheme) == "file")
      Some(java.nio.file.Paths.get(p.toUri.getPath))
    else None

  /** Rename hidden file `tmp` to its visible name; loud on failure. */
  def publish(fs: FileSystem, tmp: Path): Unit = {
    val n = tmp.getName
    require(n.startsWith(".") && n.endsWith(".tmp"), s"not a hidden segment name: $tmp")
    val fin = new Path(tmp.getParent, n.substring(1, n.length - ".tmp".length))
    localFile(tmp, fs.getUri.getScheme) match {
      case Some(t) =>
        Files.move(t, t.resolveSibling(fin.getName), StandardCopyOption.ATOMIC_MOVE); ()
      case None =>
        if (!fs.rename(tmp, fin))
          throw new java.io.IOException(s"publish: rename $tmp -> $fin failed")
    }
  }

  /** The store's only parquet writer construction (segments, `_meta`). */
  private[engine] def groupWriter(
      tmp: Path, schema: MessageType, conf: Configuration): ParquetWriter[Group] = {
    val out = localFile(tmp, FileSystem.getDefaultUri(conf).getScheme) match {
      case Some(t) =>
        Files.createDirectories(t.getParent)
        new LocalOutputFile(t)
      case None => HadoopOutputFile.fromPath(tmp, conf)
    }
    ExampleParquetWriter.builder(out).withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .build()
  }

  /** Whether segment `st` stores `timestamp` as INT64, this writer's
    * encoding, by its footer. An older engine's Spark produce plane took
    * the encoding from the calling session and wrote INT96 from sessions
    * without `Graft.configure`; [[Segment.copy]] cannot rewrite those.
    */
  def int64Timestamps(st: FileStatus, conf: Configuration): Boolean = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, conf), HadoopReadOptions.builder(conf).build())
    try {
      val s: GroupType = rd.getFooter.getFileMetaData.getSchema
      s.containsField("timestamp") && s.getType("timestamp").isPrimitive &&
        s.getType("timestamp").asPrimitiveType.getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.INT64
    } finally rd.close()
  }

  /** What a reader or rewriter meeting a legacy INT96 segment reports. */
  def legacyInt96(file: String): String =
    s"$file: timestamp is INT96, not the store's INT64 micros — written by the " +
      "Spark produce plane of an older engine, which took its timestamp encoding " +
      "from the calling session (INT96 is Spark's default outside Graft.configure). " +
      "Compaction leaves such files out of its merges and purge cannot rewrite " +
      "them: read the leaf dirs with spark.read.parquet, which decodes INT96, and " +
      "produce the records into a new topic"

  /** One segment file being written under its hidden name. */
  final class Segment private[SegmentWriter] (val hiddenPath: Path, conf: Configuration) {
    private val gf = new SimpleGroupFactory(schema)
    private val w = groupWriter(hiddenPath, schema, conf)

    /** Append one record; `key`, `value` and `tsMicros` may be null. */
    def append(key: Binary, value: Binary, tsMicros: java.lang.Long, part: Int, offset: Long): Unit = {
      val g = gf.newGroup()
      if (key != null) g.append("key", key)
      if (value != null) g.append("value", value)
      if (tsMicros != null) g.append("timestamp", tsMicros.longValue)
      w.write(g.append("part", part).append("offset", offset))
    }

    /** Append a record read back from a segment (compaction, purge). */
    def copy(g: Group): Unit = {
      def has(f: String) = g.getFieldRepetitionCount(f) > 0
      append(if (has("key")) g.getBinary("key", 0) else null,
        if (has("value")) g.getBinary("value", 0) else null,
        if (has("timestamp")) Long.box(g.getLong("timestamp", 0)) else null,
        g.getInteger("part", 0), g.getLong("offset", 0))
    }

    def close(): Unit = w.close()
  }

  /** Write segment `fin`: `fill` appends under the hidden name, then the
    * file is published. A failed write deletes its hidden file.
    */
  def write(fs: FileSystem, fin: Path, conf: Configuration)(fill: Segment => Unit): Unit = {
    val seg = new Segment(hidden(fin), conf)
    try { try fill(seg) finally seg.close() }
    catch { case e: Throwable =>
      try fs.delete(seg.hiddenPath, false) catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    publish(fs, seg.hiddenPath)
  }

  /** The Spark produce plane's task body. `rows` are offset-assigned
    * (key, value, timestamp, part, offset) records; each ring partition's
    * rows go to ONE hidden file `<prefix>-<uuid>` in its leaf dir, left
    * for the driver to publish. The offset window's sort delivers a
    * partition's rows contiguous and offset-ascending; that is asserted,
    * not assumed — one file per partition per batch is what makes the
    * batch's visibility atomic, and compaction's merge needs every file
    * offset-sorted. Returns (part, hidden path, rows) per file.
    */
  def writeParts(
      rows: Iterator[InternalRow], leafDirs: Map[Int, String], prefix: String,
      base: Configuration): Iterator[(Int, String, Long)] = {
    lazy val conf = this.conf(base)
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var seg: Segment = null
    var part, n = 0
    var next = 0L
    def finish(): Unit = if (seg != null) {
      seg.close()
      done += ((part, seg.hiddenPath.toString, n.toLong))
      seg = null
    }
    try {
      rows.foreach { r =>
        val (p, off) = (r.getInt(3), r.getLong(4))
        if (seg == null || p != part) {
          finish()
          if (done.exists(_._1 == p)) throw new IllegalStateException(
            s"produce: ring partition $p's rows are not contiguous within the task")
          part = p
          n = 0
          seg = new Segment(hidden(new Path(leafDirs(p),
            s"$prefix-${java.util.UUID.randomUUID()}.zstd.parquet")), conf)
        } else if (off != next) throw new IllegalStateException(
          s"produce: ring partition $p's offsets are not ascending: $off after ${next - 1}")
        seg.append(
          if (r.isNullAt(0)) null else Binary.fromConstantByteArray(r.getUTF8String(0).getBytes),
          if (r.isNullAt(1)) null else Binary.fromConstantByteArray(r.getBinary(1)),
          if (r.isNullAt(2)) null else Long.box(r.getLong(2)),
          p, off)
        next = off + 1
        n += 1
      }
      finish()
    } catch { case e: Throwable =>
      if (seg != null) try seg.close() catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    done.iterator
  }
}
