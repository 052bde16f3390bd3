package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry

/** `analytics`: every selected `SparkEntry.queries` entry, in sorted
  * order, materialized through `write.format("noop")` — every row and
  * every column, never a pruned `count()`. Set-up (timed [[Main.SetupRuns]] times) is
  * a fresh session answering its first query on a tiny table set. A
  * check pass in a session of its own then records each query's row
  * count and order-insensitive column checksums for the DuckDB oracle
  * comparison that follows the run; it also warms code generation. The
  * timed passes repeat ([[Main.repeats]]); the first keeps the first-use
  * memo builds, which each fresh session pays. Query timings are each
  * query's median over the passes.
  */
object Analytics {

  final case class QueryRun(name: String, secs: Double, registered: Boolean, error: String)

  /** `packs`: the selected queries, each with its operator pack. */
  def run(spark: SparkSession, data: String, warm: String, packs: Map[String, String],
      seconds: Double, trace: Trace, out: Path): Map[String, Any] = {
    val all = SparkEntry.queries
    val names = packs.keys.toSeq.sorted
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val ledger = new Ledger(spark)
    val reg = spark.sessionState.functionRegistry
    val probeFn = FunctionIdentifier("murmur3_token")
    // each registration stores a new ExpressionInfo: a changed one means
    // the query build re-registered the function table
    def registration(): AnyRef = reg.lookupFunction(probeFn).orNull

    def pass(dir: String): Seq[QueryRun] = names.map { n =>
      val t0 = System.nanoTime()
      try {
        val before = registration()
        val df = trace.span("operators.build", req = n)(all(n)(spark, dir))
        val registered = !(registration() eq before)
        trace.span("operators.execute", req = n)(
          df.write.format("noop").mode("overwrite").save())
        val t1 = System.nanoTime()
        trace.add("operators.query", t0, t1, req = n)
        QueryRun(n, (t1 - t0) / 1e9, registered, null)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] query $n failed: $e")
          QueryRun(n, (System.nanoTime() - t0) / 1e9, registered = false, String.valueOf(e))
      }
    }

    // set-up, repeated: a fresh session binds the functions and answers
    // its first query on the tiny tables
    val setups = (1 to Main.SetupRuns).map { _ =>
      Clock.secs {
        val s = spark.newSession()
        graft.functions.registerAll(s)
        all(names.head)(s, warm).write.format("noop").mode("overwrite").save()
      }._2
    }
    // the check pass runs every query once in a session of its own: it
    // warms code generation and the JIT, while the timed session's memos
    // stay cold
    val checks = checkPass(spark.newSession(), all, names, data)
    Files.write(out.resolve("analytics-check.json"), Json.write(checks).getBytes(UTF_8))
    System.gc()
    val memo0 = graft.operators.DocOps.memoBuildNanos
    val l0 = ledger.snap()
    val t0 = System.nanoTime()
    val passes = (1 to Main.repeats(seconds)).map(_ => pass(data))
    val totalS = (System.nanoTime() - t0) / 1e9
    val l1 = ledger.snap()
    val memoS = (graft.operators.DocOps.memoBuildNanos - memo0) / 1e9
    val d = l1 - l0
    val timed = passes.flatten.toSeq

    // each query's median over the timed passes
    val secs = names.flatMap { n =>
      val ok = timed.filter(r => r.name == n && r.error == null).map(_.secs)
      if (ok.isEmpty) None else Some(Stats.median(ok))
    }.toArray
    val failed = timed.count(_.error != null)
    val regCost = Stats.median((1 to 5).map(_ => Clock.secs(graft.functions.registerAll(spark))._2))
    val regCalls = timed.count(_.registered) / passes.size
    val packSecs = timed.groupBy(r => packs(r.name))
      .map { case (p, rs) => s"operators.pack.${p}_s" -> rs.map(_.secs).sum / passes.size }
    val layer = Map[String, Double](
      "operators.plan_s" -> d("plan_ns") / 1e9,
      "operators.exec_s" -> d("exec_ns") / 1e9,
      "operators.jobs" -> d("jobs").toDouble,
      "operators.stages" -> d("stages").toDouble,
      "operators.tasks" -> d("tasks").toDouble,
      "operators.aqe_replans" -> d("aqe_replans").toDouble,
      "operators.shuffle_read_mb" -> d("shuffle_read_bytes") / 1048576.0,
      "operators.shuffle_write_mb" -> d("shuffle_write_bytes") / 1048576.0,
      "operators.spill_mb" -> d("spill_bytes") / 1048576.0,
      "operators.task_run_s" -> d("task_run_ms") / 1e3,
      "operators.task_cpu_s" -> d("task_cpu_ns") / 1e9,
      "operators.gc_s" -> d("gc_ms") / 1e3,
      "operators.memo_build_s" -> memoS,
      "functions.register_calls" -> regCalls.toDouble,
      "functions.register_s" -> regCalls * regCost,
      "core.minhash_ns_per_doc" -> minhashNsPerDoc(spark, data)) ++ packSecs
    Map(
      "attempted" -> timed.size,
      "failed" -> failed,
      "end_to_end" -> Map(
        "setup_s" -> Stats.median(setups),
        "analytics_total_s" -> passes.head.map(_.secs).sum,
        "query_p50_s" -> Stats.pct(secs, 0.5),
        "query_p95_s" -> Stats.pct(secs, 0.95)),
      "per_layer" -> layer,
      "query_secs" -> secs,
      "queries_run" -> timed.size,
      "passes" -> passes.size,
      "timed_s" -> totalS,
      "register_call_s" -> regCost)
  }

  /** Row count plus, per column, the non-null count and an
    * order-insensitive sum whose kind follows the column type.
    */
  private def checkPass(spark: SparkSession,
      all: Map[String, (SparkSession, String) => DataFrame],
      names: Seq[String], data: String): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    names.map { n =>
      n -> (try {
        val df = all(n)(spark, data)
        val cols = df.schema.fields.toSeq.map(f => (f.name, kindOf(f.dataType)))
        val aggs = count(lit(1)) +: cols.flatMap { case (name, kind) =>
          val c = col(s"`${name.replace("`", "``")}`")
          count(c) +: sumOf(c, kind).toSeq
        }
        val row = df.agg(aggs.head, aggs.tail: _*).collect().head
        var i = 1
        val colOut = cols.map { case (name, kind) =>
          val nonNull = row.getLong(i); i += 1
          val sum = if (kind == "other") null else {
            val v = row.get(i); i += 1
            if (v == null) null else v.asInstanceOf[Number].doubleValue()
          }
          Map("name" -> name, "kind" -> kind, "nonnull" -> nonNull, "sum" -> sum)
        }
        Map("rows" -> row.getLong(0), "cols" -> colOut, "oracle" -> oracles.get(n))
      } catch {
        case e: Exception => Map("error" -> String.valueOf(e))
      })
    }.toMap
  }

  private def kindOf(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => "num"
    case _: DecimalType => "num"
    case StringType => "str"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "ts"
    case DateType => "date"
    case BinaryType => "bin"
    case _: ArrayType => "list"
    case _: MapType => "map"
    case _ => "other"
  }

  private def sumOf(c: Column, kind: String): Option[Column] = kind match {
    case "num" => Some(sum(c.cast(DoubleType)))
    case "str" => Some(sum(octet_length(c).cast(LongType)))
    case "bool" => Some(sum(c.cast(IntegerType).cast(LongType)))
    case "ts" => Some(sum(c.cast(TimestampType).cast(DoubleType)))
    case "date" => Some(sum(datediff(c, lit("1970-01-01").cast(DateType)).cast(LongType)))
    case "bin" => Some(sum(length(c).cast(LongType)))
    case "list" | "map" => Some(sum(when(c.isNotNull, size(c)).cast(LongType)))
    case _ => None
  }

  /** MinHash signature cost per document (5-shingles, 64 permutations),
    * on the run's own documents table.
    */
  private def minhashNsPerDoc(spark: SparkSession, data: String): Double = {
    val docs = spark.read.parquet(s"$data/documents.parquet").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    if (docs.isEmpty) return Double.NaN
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      docs.foreach { d =>
        val sig = graft.core.MinHash.signature(graft.core.Shingles.hashArray(d, 5), 64, 42L)
        acc ^= sig(0)
      }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t0).toDouble / docs.length
    }
    once()
    Stats.median((1 to 5).map(_ => once()))
  }
}
