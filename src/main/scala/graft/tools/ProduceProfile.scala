package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.Graft

/** Stage-level attribution of one real `TopicStore.produce` of the bench
  * message shape (2M x 1 KiB keyed): shows whether time goes to the scan,
  * the routing shuffle, the offset-window sort, the count job, or the
  * task-side segment write.
  */
object ProduceProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "2000000").toLong
    val spark = Graft.session("produce-profile")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        println(f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%3d run=${m.executorRunTime}%7dms cpu=${m.executorCpuTime / 1000000}%7dms " +
          f"gc=${m.jvmGCTime}%5dms shW=${m.shuffleWriteMetrics.bytesWritten / 1048576}%5dMB shR=${m.shuffleReadMetrics.totalBytesRead / 1048576}%5dMB ${i.name.take(50)}")
      }
    })

    val root = java.nio.file.Files.createTempDirectory("produce-profile").toString
    val store = new graft.engine.TopicStore(spark, root, clusterSize = 12)
    val msgs = BenchData.messages(spark, sfDir, n)
    val stage = s"$root/input"
    msgs.repartition(32).write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)

    // warmup
    store.produce("warm", staged.limit(50000))
    println("=== warmup done; timed produce below ===")
    val t0 = System.nanoTime()
    store.produce("bench", staged)
    println(f"[total] produce ${(System.nanoTime() - t0) / 1e9}%.1f s for ${staged.count()} msgs")
    spark.stop()
  }
}
