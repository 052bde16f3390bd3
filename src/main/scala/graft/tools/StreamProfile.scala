package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.Graft

/** Stage/batch-level attribution of the streaming ingest bench: where do
  * the seconds go in `StreamingTopic.ingest` — micro-batch machinery, the
  * per-batch count job, the write job, or checkpoint commits?
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "2000000").toLong
    val spark = Graft.session("stream-profile")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        if (m.executorRunTime > 200)
          println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%3d run=${m.executorRunTime}%7dms gc=${m.jvmGCTime}%5dms ${i.name.take(60)}")
      }
    })

    val root = java.nio.file.Files.createTempDirectory("stream-profile").toString
    val store = new graft.engine.TopicStore(spark, root, clusterSize = 12)
    val msgs = BenchData.messages(spark, sfDir, n)
    val stage = s"$root/input"
    msgs.repartition(32).write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)

    store.produce("warm", staged.limit(50000)) // JIT the write path
    println("=== warmup done ===")

    val topic = new graft.streaming.StreamingTopic(store)
    val src = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", math.max(1, staged.inputFiles.length / 4))
      .parquet(stage)
    val t0 = System.nanoTime()
    val q = topic.ingest("bench_stream", src, s"$root/_chk")
    q.processAllAvailable()
    q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    q.recentProgress.foreach { p =>
      println(f"[batch] ${p.batchId}%3d rows=${p.numInputRows}%8d batchSec=${p.batchDuration / 1000.0}%6.2f addBatch=${p.durationMs.getOrDefault("addBatch", 0L)}%6dms getBatch=${p.durationMs.getOrDefault("getBatch", 0L)}%5dms commit=${p.durationMs.getOrDefault("commitOffsets", 0L)}%5dms latestOffset=${p.durationMs.getOrDefault("latestOffset", 0L)}%5dms")
    }
    println(f"[total] stream ingest $sec%.1f s for $n msgs = ${n / sec}%.0f msgs/s")
    spark.stop()
  }
}
