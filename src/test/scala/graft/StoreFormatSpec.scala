package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TopicStore

/** The on-disk store format does not depend on how the caller built its
  * session: a session with Spark's own parquet defaults (snappy, INT96
  * timestamps) still writes zstd segments with INT64 micros timestamps,
  * and reads them back through the store's readers.
  */
class StoreFormatSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("store-format-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("a session not built by Graft.configure writes and reads the store's own format") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    s.conf.set("spark.sql.parquet.compression.codec", "snappy")
    import s.implicits._
    val root = Files.createTempDirectory("graft-format").toString
    val store = new TopicStore(s, root)
    val rows = (0 until 40).map(i =>
      (i, s"k${i % 7}", s"v$i".getBytes("UTF-8"), new Timestamp(1700000000000L + i * 1000L)))
    val df = rows.toDF("i", "key", "value", "timestamp")
    assert(store.produce("t", df.where(col("i") < 20).drop("i")) == 20L)
    df.where(col("i") >= 20).drop("i")
      .write.format("graft").option("root", root).option("topic", "t").mode("append").save()

    val want = rows.map(r => (r._2, s"v${r._1}", r._4)).toSet
    def got(frame: org.apache.spark.sql.DataFrame) =
      frame.select(col("key"), decode(col("value"), "UTF-8"), col("timestamp"))
        .as[(String, String, Timestamp)].collect().toSet
    assert(got(s.read.format("graft").option("root", root).option("topic", "t").load()) == want)
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    assert(got(store.poll("g", "t", "c")) == want)

    val conf = s.sparkContext.hadoopConfiguration
    val files = {
      val walk = Files.walk(java.nio.file.Paths.get(store.dataDir))
      try walk.iterator().asScala.map(_.toFile)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      val footer = try r.getFooter finally r.close()
      val codecs = footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      assert(codecs == Set(CompressionCodecName.ZSTD), s"$f: $codecs")
      val ts = footer.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == "timestamp").get.asPrimitiveType
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$f: $ts")
      assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.MICROS), s"$f: $ts")
    }
  }

  test("compaction merges around a legacy INT96 segment; purge names it instead of rewriting it") {
    val root = Files.createTempDirectory("graft-int96").toString
    val store = new TopicStore(spark, root)
    // one key, one partition: two small INT64 segments in one leaf dir
    val t0 = 1700000000000000L
    Seq("a", "b").zipWithIndex.foreach { case (v, i) =>
      store.produceLocal("t", Seq(TopicStore.LocalRecord("k", v.getBytes("UTF-8"), t0 + i, 0L)))
    }
    def segments(dir: java.io.File) = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).sortBy(_.getName)
    val leaf = {
      val walk = Files.walk(java.nio.file.Paths.get(store.dataDir))
      try walk.iterator().asScala.map(_.toFile)
        .filter(d => d.isDirectory && segments(d).nonEmpty).toList
      finally walk.close()
    } match {
      case Seq(d) => d
      case ds => fail(s"want one leaf dir, got $ds")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val part = {
      val r = TopicStore.groupReader(new Path(segments(leaf).head.toURI), conf).build()
      try r.read().getInteger("part", 0) finally r.close()
    }
    // what an older engine's Spark produce plane wrote from a session
    // without Graft.configure: the same columns, INT96 timestamps, here
    // with a second key so that a purge of "k" must rewrite it
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    import legacy.implicits._
    val out = Files.createTempDirectory("graft-int96-out").resolve("seg").toString
    Seq(("k", "c".getBytes("UTF-8"), new Timestamp(1700000000002L), part, 2L),
        ("j", "d".getBytes("UTF-8"), new Timestamp(1700000000003L), part, 3L))
      .toDF("key", "value", "timestamp", "part", "offset").coalesce(1).write.parquet(out)
    val int96 = new java.io.File(leaf, "part-legacy-int96.parquet")
    Files.move(segments(new java.io.File(out)).head.toPath, int96.toPath)

    assert(store.compact("t") == 2)
    val after = segments(leaf)
    assert(after.size == 2 && after.contains(int96), s"$after")
    val merged = after.filterNot(_ == int96).head
    val r = TopicStore.groupReader(new Path(merged.toURI), conf).build()
    val offsets = try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(_.getLong("offset", 0)).toList finally r.close()
    assert(offsets == List(0L, 1L))

    val io = intercept[java.io.IOException](store.purgeKeys("t", Seq("k")))
    assert(io.getMessage.contains(int96.getName) && io.getMessage.contains("spark.read.parquet"),
      io.getMessage)
    assert(int96.exists(), "purge removed the INT96 segment it could not rewrite")
  }
}
