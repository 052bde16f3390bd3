package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TopicStore
import graft.engine.TopicStore.LocalRecord

/** `produceLocal` (the broker-local segment write behind the serving
  * coalescers) must be BYTE-EQUIVALENT to the Spark produce plane: same
  * routing, same in-batch order (the offset window's (timestamp, key,
  * __seq, xxhash64(value)) with Spark's UTF8String byte order), same
  * offsets, same readback through poll/compact/purge. The adversarial
  * batch leans on exactly the places a driver-side reimplementation
  * could diverge: supplementary-plane keys (UTF-8 vs UTF-16 order
  * flips), null vs empty keys (value-hash routing, null-first sort),
  * timestamp ties broken by seq, seq ties broken by value hash, and
  * non-UTF-8 value bytes.
  */
class LocalProduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("local-produce-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def newStore() =
    new TopicStore(spark, Files.createTempDirectory("graft-local").toString, clusterSize = 3)

  /** The full delivered envelope of a topic, canonically ordered. */
  private def dump(store: TopicStore, topic: String, group: String)
      : Seq[(Int, Int, Long, String, Seq[Byte], Long)] = {
    store.registry.register(group, "c", Seq(topic), store.StartFrom.Earliest)
    store.poll(group, topic, "c").collect().toSeq.map { r =>
      val ts = r.getAs[java.sql.Timestamp]("timestamp")
      (r.getAs[Int]("version"), r.getAs[Int]("part"), r.getAs[Long]("offset"),
        r.getAs[String]("key"), r.getAs[Array[Byte]]("value").toSeq,
        ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L)
    }.sortBy(t => (t._1, t._2, t._3))
  }

  /** An adversarial batch: tricky keys/values, dense timestamp ties. */
  private def adversarialBatch(): Seq[LocalRecord] = {
    val rnd = new scala.util.Random(7)
    val keys: Seq[String] = Seq(
      null, "", "a", "A", "aa", "zz", "key-1", "key-10", "key-2",
      "\uFFFD", "\uD83D\uDE00", "\uD83D\uDE00x", "\uFFFDx", // UTF-8 vs UTF-16 order flips
      "é", "e\u0301", "ß", "ẞ", "\u0001", "\u007F", "\u0080", "ñ-key")
    val values: Seq[Array[Byte]] = Seq(
      """{"a":1}""".getBytes("UTF-8"),
      """{"a":2}""".getBytes("UTF-8"),
      Array[Byte](0, -1, 127, -128, 64), // non-UTF-8 bytes
      Array[Byte](0),
      "x".getBytes("UTF-8"))
    (0 until 400).map { i =>
      LocalRecord(
        keys(rnd.nextInt(keys.size)),
        values(rnd.nextInt(values.size)),
        // only 5 distinct timestamps: most comparisons fall through to
        // the key/seq/value-hash tiebreaks
        1700000000000000L + rnd.nextInt(5).toLong,
        i.toLong)
    }
  }

  private def asDf(recs: Seq[LocalRecord]) = {
    import spark.implicits._
    recs.map(r => (r.key, r.value, r.tsMicros, r.seq))
      .toDF("key", "value", "tsMicros", "__seq")
      .withColumn("timestamp", timestamp_micros(col("tsMicros")))
      .select("key", "value", "timestamp", "__seq")
  }

  for (seed <- Seq(3, 19)) test(s"randomized envelope equivalence vs the Spark plane, seed $seed") {
    val rnd = new scala.util.Random(seed)
    val alphabet = "ab€😀�é́ßñz-0"
    def randKey(): String = rnd.nextInt(6) match {
      case 0 => null
      case 1 => ""
      case _ => (0 until 1 + rnd.nextInt(6)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    def randValue(): Array[Byte] = {
      val b = new Array[Byte](rnd.nextInt(24))
      rnd.nextBytes(b)
      b
    }
    val recs = (0 until 300).map { i =>
      LocalRecord(randKey(), randValue(),
        1700000000000000L + rnd.nextInt(4).toLong, // dense ts ties
        if (rnd.nextBoolean()) i.toLong else 0L)   // seq ties too
    }
    val viaSpark = newStore()
    val viaLocal = newStore()
    viaSpark.produce("t", asDf(recs))
    assert(viaLocal.produceLocal("t", recs) == recs.size.toLong)
    val a = dump(viaSpark, "t", "g")
    val b = dump(viaLocal, "t", "g")
    assert(a.size == recs.size && a == b,
      s"seed $seed: planes diverged at ${a.zip(b).indexWhere(p => p._1 != p._2)}")
  }

  test("produceLocal is envelope-identical to the Spark produce plane") {
    val recs = adversarialBatch()
    val viaSpark = newStore()
    val viaLocal = newStore()
    assert(viaSpark.produce("t", asDf(recs)) == recs.size.toLong)
    assert(viaLocal.produceLocal("t", recs) == recs.size.toLong)
    val a = dump(viaSpark, "t", "g")
    val b = dump(viaLocal, "t", "g")
    assert(a.size == recs.size && b.size == recs.size)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"envelope diverged at row $i:\n spark $x\n local $y")
    }
  }

  test("planes mix on one topic: contiguous offsets, per-key order") {
    val store = newStore()
    def rows(tag: String, n: Int, t0: Long) = (0 until n).map(i =>
      LocalRecord(s"k${i % 4}", s"$tag#$i".getBytes("UTF-8"), t0 + i, i.toLong))
    assert(store.produceLocal("t", rows("local1", 20, 1700000000000000L)) == 20L)
    store.produce("t", asDf(rows("spark1", 20, 1700000001000000L)))
    assert(store.produce("t", asDf(rows("conc1", 20, 1700000002000000L))) == 20L)
    assert(store.produceLocal("t", rows("local2", 20, 1700000003000000L)) == 20L)

    val env = dump(store, "t", "g")
    assert(env.size == 80)
    // contiguous offsets per partition
    env.groupBy(t => (t._1, t._2)).foreach { case ((_, part), rs) =>
      assert(rs.map(_._3) == (0L until rs.size.toLong), s"offset gap in part $part")
    }
    // per-key batch order: local1 < spark1 < conc1 < local2, in-batch by i
    val byKey = env.sortBy(t => (t._1, t._2, t._3))
      .groupBy(_._4).view.mapValues(_.map(t => new String(t._5.toArray, "UTF-8"))).toMap
    for (k <- 0 until 4) {
      val want = Seq("local1", "spark1", "conc1", "local2").flatMap(tag =>
        (0 until 20).filter(_ % 4 == k).map(i => s"$tag#$i"))
      assert(byKey(s"k$k") == want, s"k$k diverged: ${byKey(s"k$k")}")
    }
    // the watermark accounts for everything
    assert(store.producerOffsets("t").values.sum == 80L)
  }

  test("crash between local data-in-place and watermark-advance heals on restart") {
    val store = newStore()
    def rows(tag: String, n: Int, t0: Long) = (0 until n).map(i =>
      LocalRecord(s"k${i % 3}", s"$tag#$i".getBytes("UTF-8"), t0 + i, i.toLong))
    assert(store.produceLocal("t", rows("a", 12, 1700000000000000L)) == 12L)
    // simulate the documented crash window: segment files are durably in
    // place but the watermark merge never ran — delete the watermark
    // table and every shared cache, the state a fresh JVM would recover
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"${store.root}/_meta/producer_offsets/t/v1"))
    TopicStore.dropCachesForTests(store.root, spark.sparkContext.hadoopConfiguration)
    // the next produce's reconcile must heal the watermark FROM THE
    // FILES, or it would reissue the orphaned offsets
    val fresh = new TopicStore(spark, store.root, clusterSize = 3)
    assert(fresh.produceLocal("t", rows("b", 12, 1700000001000000L)) == 12L)
    val env = dump(fresh, "t", "g")
    assert(env.size == 24)
    assert(env.map(t => (t._1, t._2, t._3)).distinct.size == 24,
      "healed produce reissued an orphaned offset")
    val byKey = env.sortBy(t => (t._1, t._2, t._3))
      .groupBy(_._4).view.mapValues(_.map(t => new String(t._5.toArray, "UTF-8"))).toMap
    for (k <- 0 until 3) {
      val want = Seq("a", "b").flatMap(tag => (0 until 12).filter(_ % 3 == k).map(i => s"$tag#$i"))
      assert(byKey(s"k$k") == want, s"k$k: ${byKey(s"k$k")}")
    }
  }

  test("local files ride compact, purge, bounded paging, and rescale lineage") {
    val store = newStore()
    def rows(tag: String, n: Int, t0: Long) = (0 until n).map(i =>
      LocalRecord(s"k${i % 3}", s"$tag#$i".getBytes("UTF-8"), t0 + i, i.toLong))
    // several small local files per partition + one spark-written batch
    assert(store.produceLocal("t", rows("a", 12, 1700000000000000L)) == 12L)
    assert(store.produceLocal("t", rows("b", 12, 1700000001000000L)) == 12L)
    store.produce("t", asDf(rows("c", 12, 1700000002000000L)))

    // bounded paging over mixed files: every page honors maxRecords and
    // the pages concatenate to the full per-key sequence
    store.registry.register("pg", "c", Seq("t"), store.StartFrom.Earliest)
    var pages = 0
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    var n = 1
    while (n > 0 && pages < 100) {
      val rs = store.poll("pg", "t", "c", maxRecords = 5L).collect()
      n = rs.length
      assert(rs.groupBy(_.getAs[Int]("part")).values.forall(_.length <= 5))
      got ++= rs.sortBy(r => (r.getAs[Int]("part"), r.getAs[Long]("offset")))
        .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
      pages += 1
    }
    assert(got.size == 36)

    // compact merges local + spark files; envelopes survive byte-for-byte
    val before = dump(store, "t", "g1")
    assert(store.compact("t") > 0, "expected small local files to compact")
    val after = dump(store, "t", "g2")
    assert(before == after)

    // purge erases one key across local-written data, survivors keep offsets
    val purged = store.purgeKeys("t", Seq("k1"))
    assert(purged == 12L)
    val postPurge = dump(store, "t", "g3")
    assert(postPurge.forall(_._4 != "k1"))
    assert(postPurge == after.filter(_._4 != "k1"))

    // rescale: local produce lands in the new generation, lineage serves
    // ancestors first
    store.rescale("t", 6)
    assert(store.produceLocal("t", rows("d", 12, 1700000003000000L)) == 12L)
    val lineage = dump(store, "t", "g4")
    assert(lineage.count(_._1 == 2) == 12)
    val k0 = lineage.sortBy(t => (t._1, t._2, t._3)).filter(_._4 == "k0")
      .map(t => new String(t._5.toArray, "UTF-8"))
    assert(k0 == Seq("a#0", "a#3", "a#6", "a#9", "b#0", "b#3", "b#6", "b#9",
      "c#0", "c#3", "c#6", "c#9", "d#0", "d#3", "d#6", "d#9"),
      s"k0 lineage order: $k0")
  }

  test("groupReader reads a produceLocal file from the passed conf: projection, offset window, object store") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.ReadSupport
    val store = newStore()
    val recs = (0 until 300).map(i =>
      LocalRecord(s"k$i", Array[Byte](i.toByte), 1700000000000000L + i, i.toLong))
    assert(store.produceLocal("t", recs) == recs.size.toLong)
    val local = {
      val walk = Files.walk(java.nio.file.Paths.get(store.dataDir))
      try walk.iterator().asScala.filter(_.getFileName.toString.startsWith("part-local-"))
        .maxBy(f => Files.size(f))
      finally walk.close()
    }
    def drain(r: ParquetReader[Group]): Seq[Group] =
      try Iterator.continually(r.read()).takeWhile(_ != null).toList finally r.close()
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(local.toUri)
    val offsets = drain(TopicStore.groupReader(path, conf).build()).map(_.getLong("offset", 0))
    assert(offsets.size > 10 && offsets == offsets.sorted)

    // the maxOffsetByRead probe: the read schema rides in the conf
    val probe = new org.apache.hadoop.conf.Configuration(conf)
    probe.set(ReadSupport.PARQUET_READ_SCHEMA, "message probe { required int64 offset; }")
    val projected = drain(TopicStore.groupReader(path, probe).build())
    assert(projected.map(_.getType.getFieldCount).distinct == Seq(1))
    assert(projected.map(_.getLong("offset", 0)) == offsets)

    // the bounded poll's record filter returns exactly the window
    val (lo, hi) = (offsets(3), offsets(offsets.size - 3))
    val offCol = FilterApi.longColumn("offset")
    val window = FilterCompat.get(FilterApi.and(
      FilterApi.gtEq(offCol, Long.box(lo)), FilterApi.lt(offCol, Long.box(hi))))
    val want = offsets.filter(o => o >= lo && o < hi)
    def windowOf(p: Path, c: org.apache.hadoop.conf.Configuration) =
      drain(TopicStore.groupReader(p, c).withFilter(window).build()).map(_.getLong("offset", 0))
    assert(windowOf(path, conf) == want)

    // an object-store path resolves its file system from the passed conf
    // alone: the scheme maps to the counting subclass only there
    val s3 = new org.apache.hadoop.conf.Configuration(conf)
    s3.set("fs.s3x.impl", classOf[CountingObjStoreFs].getName)
    s3.setBoolean("fs.s3x.impl.disable.cache", true)
    val remote = new Path(
      s"s3x://bucket-${java.util.UUID.randomUUID().toString.take(12)}/seg.parquet")
    val out = remote.getFileSystem(s3).create(remote, true)
    try out.write(Files.readAllBytes(local)) finally out.close()
    val opensBefore = CountingObjStoreFs.opens.get
    assert(windowOf(remote, s3) == want)
    assert(CountingObjStoreFs.opens.get > opensBefore)
  }
}

/** [[ObjStoreFs]] that counts `open`s; reachable only through a conf that
  * maps `fs.s3x.impl` to it.
  */
class CountingObjStoreFs extends ObjStoreFs {
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingObjStoreFs.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object CountingObjStoreFs {
  val opens = new java.util.concurrent.atomic.AtomicLong
}
