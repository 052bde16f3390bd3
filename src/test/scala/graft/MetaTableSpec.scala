package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{MetaTable, TopicStore}

/** A local filesystem whose first open of one armed file fails as if the
  * file had vanished — what a reader sees when a concurrent `_meta` swap
  * deletes the file it just listed.
  */
class VanishOnceFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mockvan:///")
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val armed = VanishOnceFs.armed.get
    if (armed == p.toUri.getPath && VanishOnceFs.armed.compareAndSet(armed, null))
      throw new FileNotFoundException(s"$p (vanished)")
    super.open(p, bufferSize)
  }
}
object VanishOnceFs {
  val armed = new java.util.concurrent.atomic.AtomicReference[String](null)
}

/** The `_meta` read protocol ([[MetaTable]]) over all five tables a store
  * writes, plus a producer and a group lane: the lexically-newest visible
  * file is the table, and a file vanishing between list and open is
  * retried.
  */
class MetaTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("meta-table-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // lanes over partitions the base tables' rewrites do not reach, so a
  // lane's max-merge cannot hide a base change
  private val producerLane = scala.collection.immutable.SortedSet(9, 10, 11)
  private val groupLane = scala.collection.immutable.SortedSet(6, 7, 8)

  /** One `_meta` table: its dir on the local disk, how it is read, and a
    * store action that swaps a new table into it.
    */
  private case class Table(name: String, dir: File, read: () => Any, rewrite: () => Unit)

  /** A store root holding all five tables and two lanes, written by the
    * store (lanes by `MetaTable.swap`, as a scoped claimant writes them).
    */
  private lazy val (store, meta, tables) = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockvan.impl", classOf[VanishOnceFs].getName)
    hc.setBoolean("fs.mockvan.impl.disable.cache", true)
    val tmp = Files.createTempDirectory("graft-meta").toString
    val root = "mockvan:" + tmp
    val store = new TopicStore(spark, root)
    val meta = new MetaTable(hc, TopicStore.normalizeRoot(root, hc))
    var n = 0L
    def produce(): Unit = {
      n += 1
      store.produceLocal("t", (0 until 48).map(i =>
        TopicStore.LocalRecord(s"k$i", Array[Byte](1), 1700000000000000L + n, n)))
      ()
    }
    import spark.implicits._
    def produceOnce(batch: Long): Unit = {
      store.produceOnce("t", Seq.empty[(String, Array[Byte], java.sql.Timestamp)]
        .toDF("key", "value", "timestamp"), "s", batch)
      ()
    }
    produce()
    store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
    store.commit("g", "t", Map(0 -> 1L))
    produceOnce(1L)
    store.rescale("u", 6)
    def lane(scope: String, claim: scala.collection.immutable.SortedSet[Int], next: Long) =
      meta.swap(MetaTable.lane(scope, claim), MetaTable.Offsets, claim.toSeq.map(_ -> next))
    val m = s"$root/_meta"
    lane(s"$m/producer_offsets/t/v1", producerLane, 100L)
    lane(s"$m/group_offsets/g/t/v1", groupLane, 50L)
    def at(rel: String) = new File(s"$tmp/_meta/$rel")
    val tables = Seq(
      Table("generations", at("generations/u"),
        () => meta.read(s"$m/generations/u", MetaTable.Generations),
        () => { store.rescale("u", 12); () }),
      Table("groups", at("groups/g"),
        () => meta.read(s"$m/groups/g", MetaTable.Registry),
        () => meta.swap(s"$m/groups/g", MetaTable.Registry,
          Seq(MetaTable.RegistryRow("Latest", Some("t"), Some(0), Some(7L), Some(1))))),
      Table("producer_offsets", at("producer_offsets/t/v1"),
        () => meta.readOffsets(s"$m/producer_offsets/t/v1"), () => produce()),
      Table("group_offsets", at("group_offsets/g/t/v1"),
        () => meta.readOffsets(s"$m/group_offsets/g/t/v1"),
        () => { store.commit("g", "t", Map(0 -> 2L, 1 -> 1L)); () }),
      Table("stream_batches", at("stream_batches/s/t"),
        () => meta.readOffsets(s"$m/stream_batches/s/t"), () => produceOnce(n + 1)),
      Table("producer lane", at(MetaTable.lane("producer_offsets/t/v1", producerLane)),
        () => meta.readOffsets(s"$m/producer_offsets/t/v1"),
        () => lane(s"$m/producer_offsets/t/v1", producerLane, 200L)),
      Table("group lane", at(MetaTable.lane("group_offsets/g/t/v1", groupLane)),
        () => meta.readOffsets(s"$m/group_offsets/g/t/v1"),
        () => lane(s"$m/group_offsets/g/t/v1", groupLane, 60L)))
    (store, meta, tables)
  }

  private def visible(dir: File): Seq[File] =
    dir.listFiles().toSeq.filter { f =>
      f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith(".")
    }.sortBy(_.getName)

  test("two visible tables: every reader takes the lexically-newest") {
    val scratch = Files.createTempDirectory("graft-meta-kept")
    tables.foreach { t =>
      assert(visible(t.dir).size == 1, s"${t.name}: ${visible(t.dir)}")
      // the crash between a swap's rename and its delete: the old table
      // stays visible beside the new one, under an older stamp
      val old = visible(t.dir).head
      val before = t.read()
      val kept = Files.copy(old.toPath, scratch.resolve(old.getName))
      t.rewrite()
      val after = t.read()
      assert(after != before, s"${t.name}: the rewrite changed nothing")
      Files.move(kept, old.toPath)
      assert(visible(t.dir).size == 2, s"${t.name}: ${visible(t.dir)}")
      assert(t.read() == after, s"${t.name}: an older table shadowed the newest")
      // the same file under a lexically-newer name is the table
      val newer = new File(t.dir, "part-8999999999999999999-e000000000000-leftover.parquet")
      Files.move(old.toPath, newer.toPath)
      assert(t.read() == before, s"${t.name}: the lexically-newest file was not read")
      Files.delete(newer.toPath)
    }
  }

  test("a newest table that vanishes on its first open is read on the retry") {
    tables.foreach { t =>
      val want = t.read()
      val newest = visible(t.dir).last
      VanishOnceFs.armed.set(newest.getPath)
      try {
        assert(t.read() == want, s"${t.name}: wrong rows after the retry")
        assert(VanishOnceFs.armed.get == null, s"${t.name}: the reader never opened $newest")
      } finally VanishOnceFs.armed.set(null)
    }
    // the store reads through the same protocol
    val chain = meta.read(s"${store.root}/_meta/generations/u", MetaTable.Generations)
      .filter(_.clusterSize > 0).sortBy(_.version)
    TopicStore.dropCachesForTests(store.root, spark.sparkContext.hadoopConfiguration)
    VanishOnceFs.armed.set(visible(tables.head.dir).last.getPath)
    try {
      assert(store.generations("u") == chain)
      assert(VanishOnceFs.armed.get == null, "the store never opened the generations table")
    } finally VanishOnceFs.armed.set(null)
  }
}
