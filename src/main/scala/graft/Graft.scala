package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Session factory + table helpers shared by Verify, Bench, tests. */
object Graft {

  /** FAIR pool definitions, materialized once per JVM. `graft-serving`
    * gets a minShare (cores it may claim immediately, ahead of fair-share
    * arithmetic) and a higher weight so produce acks / consumer polls
    * schedule ahead of long analytics scans — the serving jobs are tiny,
    * so the share they borrow is returned within a task round. Mirrors
    * the reference's dedicated broker goroutines for the serving path.
    */
  private lazy val fairPoolsFile: String = {
    val xml =
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-serving">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>4</weight>
        |    <minShare>8</minShare>
        |  </pool>
        |  <pool name="default">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin
    val p = java.nio.file.Path.of(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-fair-pools.xml")
    java.nio.file.Files.write(p, xml.getBytes("UTF-8"))
    p.toString
  }

  /** Configs applied to every graft session. Sized for the local[32]
    * harness but chosen to be correct on a real cluster too: AQE handles
    * runtime re-planning/skew, shuffle partitions match local cores (on a
    * cluster AQE coalesces upward from the initial number anyway).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    // Tungsten execution memory OFF the Java heap: sort/agg/join pages are
    // 64 MB arrays that churn the old generation when on-heap — on a
    // memory-bandwidth-constrained host the resulting full GCs made a 2 GB
    // produce 30x slower (measured: 2M-msg produce 133 s -> 3.9 s with
    // off-heap pages + ParallelGC). Off-heap is also the right cluster
    // posture: executor GC stays flat no matter how much execution memory
    // a shuffle uses. The size is a cap, allocated on demand; it defaults
    // to what the host has left beside the heap (hostOffHeap).
    .config("spark.memory.offHeap.enabled", "true")
    .config("spark.memory.offHeap.size", sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", hostOffHeap))
    // The next three shape the session's OWN DataFrame parquet writes
    // (bench stages, query outputs, fixtures): zstd at level 1 and INT64
    // micros timestamps (INT96 is deprecated). Topic store writes do not
    // read them — engine.SegmentWriter fixes the store's file format
    // whatever the session says.
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // FAIR root scheduling: the serving path (produce/poll) runs its jobs
    // in a dedicated pool (TopicStore.inServingPool) so a long analytics
    // job can never starve a produce ack or a consumer poll — same
    // isolation the reference gets from separate broker threads.
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.scheduler.allocation.file", fairPoolsFile)
    // events.parquet carries TIMESTAMP(NANOS) which Spark's reader does not
    // natively map; read as raw nanos and convert (see eventsTable).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // testdata timestamps are naive micros (isAdjustedToUTC=false); read
    // them as instants (session tz is UTC) like DuckDB's oracle does,
    // not as TIMESTAMP_NTZ — half the function library (unix_micros,
    // window, watermarks) wants TIMESTAMP.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")

  /** Default off-heap cap: physical RAM (the container's limit where one
    * is set) minus this JVM's max heap, at least 512 MiB — a cap beyond
    * what the host holds would let Tungsten pages push the machine into
    * swap or the OOM killer instead of spilling.
    */
  private def hostOffHeap: String = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    s"${math.max(512L, (os.getTotalMemorySize - Runtime.getRuntime.maxMemory) >> 20)}m"
  }

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = configure(
      SparkSession.builder().appName(appName).master(s"local[$cpus]")
        // local-mode only: shuffle/spill scratch follows java.io.tmpdir
        // (build.sbt points it at tmpfs when the host disk is throttled);
        // cluster managers override local dirs per executor anyway
        .config("spark.local.dir", sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.registerAll(spark)
    spark
  }

  /** Testdata-table reader. The resolved RELATION (file listing + footer
    * schema, no data) is memoized per (session, path) — r12: every
    * `spark.read.parquet` re-lists the path and re-reads the parquet
    * footer for schema inference, a driver-side fixed cost paid on every
    * one of the bench's 279×3 query invocations. The corpus dirs are
    * immutable for a session's lifetime, which is the contract this
    * memo assumes: a path rewritten mid-session must not be read through
    * `table` (none is today — store/topic reads go through
    * [[Graft.topic]]/DSv2, which resolve fresh every call).
    */
  private val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tableMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    tableMemo.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      k => k._1.read.parquet(k._2))
  }

  /** A topic's LIVE log as a DataFrame — the programmatic twin of the
    * `topic_records(root, topic)` SQL TVF: record envelope off the
    * partitioned layout, other topics and non-live generation dirs
    * (swept ancestors' leftovers, pre-lineage rewrite dirs) pruned at
    * scan. Spans the whole live generation chain — after a
    * metadata-only rescale the topic's history stays in ancestor
    * generations, and "the topic's records" means all of them; order
    * within a key is (version, part, offset).
    */
  def topic(spark: SparkSession, root: String, name: String): DataFrame = {
    val store = new engine.TopicStore(spark, root)
    val live = store.generations(name).map(_.version)
    spark.read.schema(store.recordSchema).parquet(store.dataDir)
      .where(col("topic") === name && col("version").isin(live: _*))
  }

  /** `events` with `ts` normalized to TimestampType (micros). The file
    * stores int64 nanos; with nanosAsLong we get a LongType to convert.
    * Keeps full ordering fidelity (ties broken by event_id downstream).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // harden against foreign sessions (driver-created) that lack the flags;
    // both are runtime-settable SQLConfs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integral `div`, NOT `/`: double division loses precision at
        // 1.7e18 ns and shifts timestamps by up to a microsecond
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive micros → instant at UTC (session tz), same raw values
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
