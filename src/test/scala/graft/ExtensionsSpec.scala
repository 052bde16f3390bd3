package graft

import scala.collection.mutable

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("graft functions resolve via spark.sql.extensions") {
    // other suites may hold a session (and SparkContext) already; the
    // static `spark.sql.extensions` conf cannot apply over a reused
    // context, so drive the same injection through the builder's
    // withExtensions hook — it calls the identical GraftExtensions.apply.
    // Clear thread bindings so getOrCreate builds a NEW session, and
    // restore them instead of stop()ping a shared context.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .appName("ext-spec").master("local[2]")
      .withExtensions(new GraftExtensions().apply)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val t = spark.sql("SELECT murmur3_token('hello') AS t").head().getLong(0)
      assert(t == 0xcbd8a7b341bd9b02L)
      val c = spark.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      // l2_sq: (1,0) vs (0,2) -> 1 + 4, exact in double
      val l2 = spark.sql(
        "SELECT l2_sq(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(0.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d").head().getDouble(0)
      assert(l2 == 5.0)
      // minhash_sig over a hash array matches the shared core math
      val sig = spark.sql(
        "SELECT minhash_sig(array(murmur3_token('a'), murmur3_token('b')), 8, 42) AS s")
        .head().getSeq[Long](0)
      val expected = core.MinHash.signature(
        Array(core.Murmur3x64.hash("a".getBytes("UTF-8")),
          core.Murmur3x64.hash("b".getBytes("UTF-8"))), 8, 42L).toSeq
      assert(sig == expected)

      // table-valued function: the ring partition table on the SQL surface
      val ring = spark.sql(
        "SELECT part, token, range FROM ring_partitions(3, 4) ORDER BY part").collect()
      assert(ring.length == 12)
      assert(ring.head.getLong(1) == Long.MinValue) // StartToken
      assert(ring.map(_.getInt(2)).toSeq == Seq(0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3))
      val planParts = graft.core.TokenRing.allPartitions(3, 4)
      assert(ring.map(r => (r.getLong(1), r.getInt(2))).toSeq == planParts)

      // topic_records TVF: a produced topic is queryable straight from SQL
      val root = java.nio.file.Files.createTempDirectory("graft-ext-topic").toString
      val store = new graft.engine.TopicStore(spark, root)
      store.produceStrings("t",
        (0 until 6).map(i => (s"k${i % 2}", s"m$i",
          new java.sql.Timestamp(1700000000000L + i * 1000L))))
      val rows = spark.sql(
        s"SELECT key, CAST(value AS STRING) AS v, offset FROM topic_records('$root', 't') " +
          "ORDER BY part, offset").collect()
      assert(rows.length == 6)
      assert(rows.map(_.getString(1)).toSet == (0 until 6).map(i => s"m$i").toSet)
      // WHERE on the envelope composes (and lands on the scan)
      val one = spark.sql(
        s"SELECT count(*) FROM topic_records('$root', 't') WHERE key = 'k0'")
        .head().getLong(0)
      assert(one == 3L)

      // topic_list TVF: discovery listing with the current generation
      val listed = spark.sql(
        s"SELECT topic, version, cluster_size FROM topic_list('$root')").collect()
      assert(listed.map(_.getString(0)).toSeq == Seq("t"))
      assert(listed.head.getInt(1) == 1)

      // topic_offsets_for_time TVF: the time cut on the SQL surface. A
      // timestamp before every record cuts at offset 0 on produced
      // partitions; one after every record lands at the high watermark
      // (Kafka's convention). TIMESTAMP and string literals both bind.
      val early = spark.sql(
        "SELECT part, offset FROM topic_offsets_for_time(" +
          s"'$root', 't', TIMESTAMP '2023-01-01 00:00:00')").collect()
      assert(early.map(_.getLong(1)).sum == 0L, "pre-history cut must be offset 0")
      val late = spark.sql(
        s"SELECT sum(offset) FROM topic_offsets_for_time('$root', 't', '2030-01-01 00:00:00')")
        .head().getLong(0)
      assert(late == 6L, s"post-history cut must land at the watermarks, got $late")
      // the cut agrees with the engine API it mirrors
      val mid = new java.sql.Timestamp(1700000000000L + 3 * 1000L)
      val apiCut = store.offsetsForTime("t", mid)
      val sqlCut = spark.sql(
        s"SELECT part, offset FROM topic_offsets_for_time('$root', 't', '${mid.toString}')")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(sqlCut == apiCut, s"SQL cut $sqlCut != API cut $apiCut")
      // sub-millisecond precision survives (r7 fix: the millis-only
      // Timestamp constructor truncated micros, shifting a cut 500 µs
      // after the 3 s record EARLIER so it wrongly included that record)
      val micro = new java.sql.Timestamp(1700000000000L + 3 * 1000L)
      micro.setNanos(500000)
      val apiMicro = store.offsetsForTime("t", micro)
      val sqlMicro = spark.sql(
        s"SELECT part, offset FROM topic_offsets_for_time('$root', 't', '${micro.toString}')")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(sqlMicro == apiMicro,
        s"micro-precision SQL cut $sqlMicro != API cut $apiMicro")
      assert(apiMicro != apiCut,
        "the 500 µs shift must move the cut past the 3 s record")

      // topic_stats TVF: per-partition storage observability. Watermarks
      // agree with the engine API; produced partitions have files+bytes,
      // never-produced ones report zeros.
      val stats = spark.sql(
        s"SELECT version, part, files, bytes, watermark FROM topic_stats('$root', 't')")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(stats.forall(_._1 == 1), "single-generation topic: all rows carry version 1")
      assert(stats.map(_._5).sum == 6L, s"watermarks must sum to 6: ${stats.toSeq}")
      assert(stats.forall { case (_, _, files, bytes, hw) =>
        if (hw > 0L) files > 0L && bytes > 0L else files == 0L && bytes == 0L
      }, s"files/bytes must track the watermark: ${stats.toSeq}")
      val apiStats = store.topicStats("t")
      assert(stats.toSeq == apiStats, s"SQL stats ${stats.toSeq} != API $apiStats")

      // a metadata-only rescale opens generation 2; topic_list reports it
      store.rescale("t", 6)
      // ...and topic_stats now spans the lineage: generation 1 keeps the
      // bytes, generation 2 is empty
      val statsAfter = spark.sql(
        s"SELECT version, sum(watermark), sum(bytes) FROM topic_stats('$root', 't') GROUP BY 1")
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(statsAfter(1)._1 == 6L && statsAfter(1)._2 > 0L,
        s"ancestor storage vanished from topic_stats: $statsAfter")
      assert(statsAfter(2) == ((0L, 0L)), s"empty current generation: $statsAfter")
      val after = spark.sql(
        s"SELECT version, cluster_size FROM topic_list('$root')").head()
      assert(after.getInt(0) == 2 && after.getInt(1) == 6)

      // topic_lag TVF: the operational watermark/committed/lag table,
      // one row per (LIVE generation, ring partition) — after the
      // metadata-only rescale the group's whole backlog is ancestor
      // (generation-1) lag, which a current-generation-only readout
      // would hide. Before any consumption every produced record is
      // lag; after a full poll + auto-commit the group is caught up
      // everywhere in the lineage.
      store.registry.register("g", "c", Seq("t"), store.StartFrom.Earliest)
      val pre = spark.sql(
        s"SELECT version, part, watermark, committed, lag FROM topic_lag('$root', 'g')")
        .collect()
      // gen 1 ring (3×4) + gen 2 ring (6×4), INCLUDING never-produced
      // partitions — the producerOffsets map is sparse (r7 fix)
      assert(pre.length == (3 + 6) * store.rangesPerToken,
        s"topic_lag must enumerate every live generation's ring, got ${pre.length} rows")
      assert(pre.map(_.getInt(0)).distinct.sorted.toSeq == Seq(1, 2))
      assert(pre.map(_.getLong(2)).sum == 6L, "watermarks must cover all 6 records")
      assert(pre.filter(_.getInt(0) == 1).map(_.getLong(4)).sum == 6L,
        "the whole backlog is generation-1 lag")
      assert(pre.forall(r => r.getLong(4) == r.getLong(2) - r.getLong(3)),
        "lag must equal watermark - committed on every row")
      store.poll("g", "t", "c").collect()
      val post = spark.sql(
        s"SELECT sum(lag), sum(watermark) FROM topic_lag('$root', 'g')").head()
      assert(post.getLong(0) == 0L && post.getLong(1) == 6L,
        s"a fully polled+committed group must show zero lineage lag, got $post")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("one function table: extensions inject what registerAll registers; re-registering is a no-op") {
    val injected, injectedTables = mutable.Buffer.empty[String]
    val recorder = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName; super.injectFunction(f)
      }
      override def injectTableFunction(f: TableFunctionDescription): Unit = {
        injectedTables += f._1.funcName; super.injectTableFunction(f)
      }
    }
    new GraftExtensions().apply(recorder)
    // a session WITHOUT the extensions (other suites' sessions may carry
    // them, and a newSession() inherits its parent's), so registerAll's
    // additions are visible as a registry diff
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .appName("ext-table-spec").master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val fns = spark.sessionState.functionRegistry
      val tvfs = spark.sessionState.tableFunctionRegistry
      val (fnsBefore, tvfsBefore) = (fns.listFunction().toSet, tvfs.listFunction().toSet)
      functions.registerAll(spark)
      assert((fns.listFunction().toSet -- fnsBefore).map(_.funcName) == injected.toSet)
      assert((tvfs.listFunction().toSet -- tvfsBefore).map(_.funcName) == injectedTables.toSet)
      assert(injected.size == 9 && injectedTables.size == 6)
      // a second registration (SparkEntry.queries calls registerAll per
      // query) leaves every registration untouched: same ExpressionInfo
      // instances, no "replaced a previously registered function" churn
      def infos() =
        injected.map(n => fns.lookupFunction(FunctionIdentifier(n)).get) ++
          injectedTables.map(n => tvfs.lookupFunction(FunctionIdentifier(n)).get)
      val first = infos()
      functions.registerAll(spark)
      first.zip(infos()).foreach { case (a, b) =>
        assert(a eq b, s"${a.getName} was re-registered")
      }
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
