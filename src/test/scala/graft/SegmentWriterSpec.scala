package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{SegmentWriter, TopicStore}
import graft.engine.TopicStore.LocalRecord

/** `SegmentWriter` on a `file:` root: segments and `_meta` tables are
  * written without Hadoop's `.crc` sidecar and stay hidden until their
  * one atomic move; a store that a Hadoop-writer engine left with
  * sidecars keeps working through compaction and purge; and the page
  * CRCs that replace the sidecar's check are in the files.
  */
class SegmentWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("segment-writer-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val t0 = 1700000000000000L

  private def walk(dir: String): List[File] = {
    val w = Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.map(_.toFile).filter(_.isFile).toList finally w.close()
  }
  private def visible(f: File) = f.getName.endsWith(".parquet") && !f.getName.startsWith(".")
  private def crcs(dir: String) = walk(dir).filter(_.getName.endsWith(".crc"))
  private def crcOf(f: File) = new File(f.getParentFile, s".${f.getName}.crc")

  private def records(f: File): List[Group] = {
    val r = TopicStore.groupReader(new Path(f.toURI), spark.sparkContext.hadoopConfiguration).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).toList finally r.close()
  }

  private def delivered(store: TopicStore, group: String): Set[(Long, String)] = {
    store.registry.register(group, "c", Seq("t"), store.StartFrom.Earliest)
    store.poll(group, "t", "c").select(col("offset"), decode(col("value"), "UTF-8"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
  }

  test("a segment written but never moved on a file: root stays invisible and is reclaimed") {
    val root = Files.createTempDirectory("graft-crashwin").toString
    val store = new TopicStore(spark, root)
    assert(store.produceLocal("t", Seq(LocalRecord("k", "a".getBytes("UTF-8"), t0, 0L))) == 1L)
    val seg = walk(store.dataDir).filter(visible) match {
      case Seq(f) => f
      case fs => fail(s"want one segment, got $fs")
    }
    val part = records(seg).head.getInteger("part", 0)
    val watermark = store.persistedProducerOffsets("t")
    assert(watermark.getOrElse(part, 0L) == 1L && watermark.values.sum == 1L, s"$watermark")

    // the crash window of the Spark produce plane: its task wrote the
    // partition's next offsets under a hidden name, and the process died
    // before the driver's publish
    val rows = (1 to 3).iterator.map(i => InternalRow(UTF8String.fromString("k"),
      s"lost$i".getBytes("UTF-8"), t0 + i * 1000000L, part, i.toLong))
    val written = SegmentWriter.writeParts(rows, Map(part -> seg.getParent), "part-crashed",
      spark.sparkContext.hadoopConfiguration).toList
    assert(written.map(w => (w._1, w._3)) == List((part, 3L)))
    val hidden = new File(new Path(written.head._2).toUri.getPath)
    assert(hidden.isFile && hidden.getName.startsWith(".") && hidden.getName.endsWith(".tmp"))
    assert(crcs(root).isEmpty, s"the writer left checksum sidecars: ${crcs(root)}")

    TopicStore.dropCachesForTests(root, spark.sparkContext.hadoopConfiguration)
    val fresh = new TopicStore(spark, root)
    assert(delivered(fresh, "g1") == Set((0L, "a")))
    val scanned = spark.read.format("graft").option("root", root).option("topic", "t").load()
      .select(decode(col("value"), "UTF-8")).collect().map(_.getString(0)).toSet
    assert(scanned == Set("a"))
    // the hidden records at offsets 1-3 would put the cut for offset 2's
    // timestamp at 2; unseen, the partition maps to its watermark
    assert(fresh.offsetsForTime("t", new Timestamp((t0 + 2000000L) / 1000L))(part) == 1L)
    assert(fresh.persistedProducerOffsets("t") == watermark, "the watermark advanced")
    // the heal reads visible files only: the next produce reuses offset 1
    assert(fresh.produceLocal("t", Seq(LocalRecord("k", "b".getBytes("UTF-8"), t0 + 5000000L, 0L))) == 1L)
    assert(delivered(fresh, "g2") == Set((0L, "a"), (1L, "b")))

    // the retention sweep's aged-tmp rule: a young hidden file may be a
    // live writer's, an hour-old one is an orphan
    val longAgo = new Timestamp(0L)
    assert(fresh.retentionSweep("t", longAgo) == 0 && hidden.exists())
    assert(hidden.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    assert(fresh.retentionSweep("t", longAgo) == 1)
    assert(!hidden.exists())
    assert(delivered(fresh, "g3") == Set((0L, "a"), (1L, "b")))
  }

  test("a store with Hadoop-written sidecars compacts and purges without orphaned .crc files") {
    val root = Files.createTempDirectory("graft-mixed").toString
    val store = new TopicStore(spark, root)
    val keys = (0 until 6).map(i => s"k$i")
    for (batch <- 0 until 2)
      store.produceLocal("t", keys.zipWithIndex.map { case (k, i) =>
        LocalRecord(k, s"$k-$batch".getBytes("UTF-8"), t0 + batch * 1000000L, i.toLong)
      })
    assert(crcs(root).isEmpty, s"the writer left checksum sidecars: ${crcs(root)}")

    // what an engine writing through HadoopOutputFile left on disk: the
    // same segments, each with its `.crc` sidecar
    val conf = spark.sparkContext.hadoopConfiguration
    val legacy = walk(store.dataDir).filter(visible)
    legacy.foreach { f =>
      val rs = records(f)
      Files.delete(f.toPath)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(f.toURI), conf))
        .withConf(conf).withType(SegmentWriter.schema)
        .withCompressionCodec(CompressionCodecName.ZSTD).build()
      try rs.foreach(w.write) finally w.close()
    }
    assert(legacy.forall(crcOf(_).isFile), "the Hadoop writer wrote no sidecars")
    val want = keys.flatMap(k => Seq(s"$k-0", s"$k-1")).toSet
    assert(delivered(store, "g1").map(_._2) == want)

    def orphans = crcs(store.dataDir).filterNot { c =>
      new File(c.getParentFile, c.getName.stripPrefix(".").stripSuffix(".crc")).isFile
    }
    def rewritten = walk(store.dataDir).filter(f => visible(f) && !legacy.contains(f))
    assert(store.purgeKeys("t", Seq("k0", "k1")) == 4L)
    assert(orphans.isEmpty, s"purge orphaned $orphans")
    assert(rewritten.forall(!crcOf(_).exists), s"purge wrote sidecars: ${crcs(store.dataDir)}")
    assert(store.compact("t") > 0)
    assert(orphans.isEmpty, s"compaction orphaned $orphans")
    assert(rewritten.nonEmpty && rewritten.forall(!crcOf(_).exists),
      s"compaction wrote sidecars: ${crcs(store.dataDir)}")
    assert(delivered(store, "g2").map(_._2) == want.filterNot(v => v.startsWith("k0") || v.startsWith("k1")))
  }

  test("segments carry parquet page CRCs: a flipped data-page byte fails a verifying read") {
    val root = Files.createTempDirectory("graft-pagecrc").toString
    val store = new TopicStore(spark, root)
    val rnd = new scala.util.Random(11)
    store.produceLocal("t", (0 until 64).map(i =>
      LocalRecord("k", Array.fill(256)(('a' + rnd.nextInt(26)).toByte), t0 + i, i.toLong)))
    val seg = walk(store.dataDir).filter(visible).head
    val copy = Files.createTempDirectory("graft-pagecrc-copy").resolve("flipped.parquet")
    Files.copy(seg.toPath, copy, StandardCopyOption.COPY_ATTRIBUTES)

    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setBoolean("parquet.page.verify-checksum.enabled", true)
    val path = new Path(copy.toUri)
    // the value column's first data page: its header, then its bytes
    val chunk = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try r.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "value").get
      finally r.close()
    }
    val bytes = Files.readAllBytes(copy)
    var pos = chunk.getStartingPos
    var target = -1L
    while (target < 0 && pos < chunk.getStartingPos + chunk.getTotalSize) {
      val in = new java.io.ByteArrayInputStream(bytes, pos.toInt, bytes.length - pos.toInt)
      val header = Util.readPageHeader(in)
      val body = bytes.length - in.available()
      if (header.getType == PageType.DATA_PAGE || header.getType == PageType.DATA_PAGE_V2) {
        assert(header.isSetCrc, s"data page at $pos has no CRC")
        target = body + header.getCompressed_page_size / 2
      }
      pos = body + header.getCompressed_page_size
    }
    assert(target > 0, "no data page in the value column")
    bytes(target.toInt) = (bytes(target.toInt) ^ 0x01).toByte
    Files.write(copy, bytes)

    val e = intercept[Exception] {
      val r = TopicStore.groupReader(path, conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).size finally r.close()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toList
    assert(msgs.exists(_.contains("CRC checksum verification failed")), msgs.mkString(" / "))
    // the untouched segment reads back under the same verifying conf
    val r = TopicStore.groupReader(new Path(seg.toURI), conf).build()
    try assert(Iterator.continually(r.read()).takeWhile(_ != null).size == 64) finally r.close()
  }
}
