package graft.tools

import org.apache.spark.sql.functions._

import graft.Graft

/** Latency attribution of ONE coalescer-shaped flush (a driver-staged
  * toDF batch -> TopicStore.produce, or rows -> produceLocal): the
  * wire-path throughput ceiling is (bytes per flush) / (flush latency),
  * so the fixed cost of a small flush is the number that decides whether
  * more brokers help. Prints per-size hot medians for the Spark lane and
  * the local lane and, with SPARK_GRAFT_STAGES=1, the per-stage
  * breakdown of the last flush.
  */
object FlushProfile {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("flush-profile")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val m = i.taskMetrics
          println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%3d " +
            f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms ${i.name.take(60)}")
        }
      })
    val root = java.nio.file.Files.createTempDirectory("flush-profile").toString
    val store = new graft.engine.TopicStore(spark, root, clusterSize = 12)
    val line = "x" * 1024
    def batch(n: Int) = (0 until n).map { i =>
      (s"k${i % 64}", line, new java.sql.Timestamp(1700000000000L + i))
    }
    def df(n: Int) = batch(n).toDF("key", "svalue", "timestamp")
      .withColumn("value", encode(col("svalue"), "UTF-8"))
      .select("key", "value", "timestamp")
    def local(n: Int) = {
      val bytes = line.getBytes("UTF-8")
      (0 until n).map(i => graft.engine.TopicStore.LocalRecord(
        s"k${i % 64}", bytes, 1700000000000000L + i, i.toLong))
    }
    // warmup both lanes
    store.produce("warm", df(1000))
    store.produceLocal("warm", local(1000))
    // bounded-page poll drain attribution: per-poll wall over a topic
    // shaped like the wire bench's (many produceLocal files per part)
    if (sys.env.contains("SPARK_GRAFT_POLL")) {
      for (b <- 0 until 20) {
        val bytes = line.getBytes("UTF-8")
        store.produceLocal("pt", (0 until 12800).map(i =>
          graft.engine.TopicStore.LocalRecord(s"k${i % 64}", bytes,
            1700000000000000L + b * 100000L + i, i.toLong)))
      }
      store.registry.register("pg", "c", Seq("pt"), store.StartFrom.Earliest)
      var drained = 0
      var idle = 0
      val t00 = System.nanoTime()
      while (idle < 3) {
        val t0 = System.nanoTime()
        val n = store.poll("pg", "pt", "c",
          maxRecords = 512L, maxBytes = 512L * 1024).collect().length
        println(f"[poll] n=$n%6d wall=${(System.nanoTime() - t0) / 1e6}%8.1f ms")
        drained += n
        if (n == 0) idle += 1 else idle = 0
      }
      println(f"[poll] drained $drained in ${(System.nanoTime() - t00) / 1e9}%.1f s")
      spark.stop()
      return
    }
    for (n <- Seq(1000, 8000, 32000)) {
      val lanes: Seq[(String, () => Unit)] = Seq(
        "spark" -> (() => { store.produce("t", df(n)); () }),
        "local" -> (() => { store.produceLocal("t", local(n)); () }))
      for ((name, fn) <- lanes) {
        val lists0 = graft.engine.PlaneLease.commitFenceLists.get
        val times = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          fn()
          (System.nanoTime() - t0) / 1e3 // micros
        }
        val med = times.sorted.apply(times.size / 2) / 1000.0
        // fence cost model: each count is one lease-dir LIST round-trip
        // per flush on an object store (PLANS.md carries the S3 math)
        val listsPerFlush =
          (graft.engine.PlaneLease.commitFenceLists.get - lists0) / 5.0
        println(f"[flush] $name n=$n%6d  median=${med}%8.1f ms  -> " +
          f"${n / med * 1000}%8.0f msgs/s/lane  fence-lists/flush=$listsPerFlush%.1f")
      }
    }
    spark.stop()
  }
}
