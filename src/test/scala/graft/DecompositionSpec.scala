package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence proofs for the round-6 two-level window
  * decompositions: on ADVERSARIAL data shapes the testdata cannot
  * contain — same-microsecond timestamp collisions, events packed
  * against hour-bucket boundaries, tie-heavy vocabularies — the
  * decomposed pipelines must be row-identical to the naive
  * single-window forms they replaced. (The DuckDB oracles already prove
  * equivalence on the real testdata at two scales; these tests cover
  * the tie/boundary space.)
  */
class DecompositionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.configure(
      SparkSession.builder().appName("decomp-spec").master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seeded adversarial event set: 8 users × ~40 events each, timestamps
    * drawn on a coarse 20-minute grid across 6 hours so that (a) many
    * user-pairs collide on the exact microsecond and (b) adjacent events
    * regularly straddle hour-bucket boundaries — the two shapes the
    * two-level lag's stitch must survive.
    */
  private lazy val eventsDir: String = {
    val rnd = new scala.util.Random(42)
    val base = 1700000000000000L // epoch micros
    val rows = (0 until 320).map { i =>
      val user = 1L + rnd.nextInt(8)
      // coarse grid => deliberate duplicates and boundary adjacency
      val us = base + rnd.nextInt(18).toLong * 1200000000L +
        (if (rnd.nextBoolean()) 0L else 3599999999L) // hug the bucket edge
      val typ = Seq("view", "click", "purchase")(rnd.nextInt(3))
      (i.toLong, new Timestamp(us / 1000L), user, typ,
        rnd.nextInt(100).toDouble, "{}")
    }
    val dir = Files.createTempDirectory("graft-decomp-ev").toString
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q132's two-level gap/median pipeline equals the naive per-user window") {
    val got = SparkEntry.queries("q132_interarrival_profile")(spark, eventsDir)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val naive = Graft.events(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        max(col("gap")).as("max_gap"),
        sort_array(collect_list(col("gap"))).as("gaps"),
        sum(when(col("gap") > 1800000000L, 1L).otherwise(0L)).as("long_gaps"))
      .select(col("user_id"), col("n_gaps"), col("max_gap"),
        element_at(col("gaps"), expr("CAST((n_gaps + 1) DIV 2 AS INT)")).as("med_gap"),
        col("long_gaps"))
      .select(col("user_id"), col("n_gaps"), col("max_gap"), col("med_gap"),
        col("long_gaps"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.toSeq == naive.toSeq)
  }

  test("q163/q165's two-level bigram stream equals the naive per-user lag") {
    val wNaive = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val naiveBg = Graft.events(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("typ"))
      .withColumn("ptyp", lag(col("typ"), 1).over(wNaive))
      .withColumn("us_prev", lag(col("us"), 1).over(wNaive))
      .where(col("ptyp").isNotNull)
    val naiveTrans = naiveBg.groupBy(col("ptyp"), col("typ"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotTrans = SparkEntry.queries("q163_markov_transitions")(spark, eventsDir)
      .collect().map(r => (r.getAs[String]("cur"), r.getAs[String]("next"))
        -> r.getAs[Long]("n")).toMap
    assert(gotTrans == naiveTrans)
    // dwell sums ride the same stitched pairs — cross-check the totals
    val naiveDwell = naiveBg
      .agg(sum(col("us") - col("us_prev")).as("sg"), count(lit(1)).as("n"))
      .head()
    val gotDwell = SparkEntry.queries("q165_transition_dwell")(spark, eventsDir)
      .agg(sum(col("n")).as("n")).head()
    assert(gotDwell.getLong(0) == naiveDwell.getAs[Long]("n"))
  }

  /** Tie-heavy vocabulary: 5 sources drawing words from a 12-word pool,
    * so the (count, word) rank ordering is dominated by exact count ties
    * — the shape q136's (source, count, first-char) shards must order
    * identically to the naive per-source window.
    */
  private lazy val docsDir: String = {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("aa", "ab", "ac", "ba", "bb", "bc", "ca", "cb", "cc",
      "da", "db", "dc")
    val rows = (0 until 250).map { i =>
      val source = s"s${rnd.nextInt(5)}"
      val text = (0 until (5 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, text, "en", source, text.length.toLong)
    }
    val dir = Files.createTempDirectory("graft-decomp-doc").toString
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q136's two-level top-K rank equals the naive per-source window on tie-heavy data") {
    val got = SparkEntry.queries("q136_zipf_slope")(spark, docsDir)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val wc = spark.read.parquet(s"$docsDir/documents.parquet")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val wRank = Window.partitionBy(col("source")).orderBy(col("c").desc, col("w"))
    val top = wc.withColumn("rk", row_number().over(wRank)).where(col("rk") <= 100)
      .select(col("source"),
        log(col("rk").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
    val sums = top.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
      (col("n_terms") * col("sxx") - col("sx") * col("sx"))
    val naive = sums.where(col("n_terms") >= 2L)
      .select(col("source"), col("n_terms"),
        round(slope, 6).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n_terms"), 6).as("intercept"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.toSeq == naive.toSeq)
  }

  test("q169's two-level backward as-of equals the naive per-user running max") {
    val got = SparkEntry.queries("q169_asof_attribution")(spark, eventsDir)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val e = Graft.events(spark, eventsDir)
      .where(col("event_type").isin("view", "click"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = e.withColumn("best",
        max(when(col("tag") === 0, struct(col("us"), col("event_id")))).over(w))
      .where(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
        col("best.event_id").as("view_id"),
        (col("us") - col("best.us")).as("gap_us"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.toSeq == naive.toSeq)
  }

  test("q170's two-level forward as-of equals the naive per-user running min") {
    val got = SparkEntry.queries("q170_conversion_lag")(spark, eventsDir)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val horizon = 604800000000L
    val e = Graft.events(spark, eventsDir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("tag"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val naive = e.withColumn("best",
        min(when(col("tag") === 0, struct(col("us"), col("event_id")))).over(w))
      .where(col("tag") === 1)
      .withColumn("gap", col("best.us") - col("us"))
      .select(col("event_id"), col("user_id"),
        when(col("gap") <= horizon, col("best.event_id")).as("purchase_id"),
        when(col("gap") <= horizon, col("gap")).as("gap_us"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.toSeq == naive.toSeq)
  }

  test("q172's two-level sweep line equals the naive global running sum") {
    val got = SparkEntry.queries("q172_daily_peak")(spark, eventsDir)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    // naive sessions: plain per-user sessionize, no bucket stitch
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Graft.events(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("is_new",
        when(col("us") - lag(col("us"), 1).over(w) > 1800000000L ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
    val deltas = sess.select(col("user_id"), col("session_id"),
        explode(array(
          struct(col("start_us").as("us"), lit(1L).as("delta")),
          struct(col("end_us").as("us"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.us").as("us"), col("x.delta").as("delta"),
        col("user_id"), col("session_id"))
    val wRun = Window.orderBy(col("us"), col("delta").desc, col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = deltas.withColumn("run", sum(col("delta")).over(wRun))
      .withColumn("day", expr("us DIV 86400000000"))
      .groupBy(col("day"))
      .agg(max(col("run")).as("peak_concurrency"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.toSeq == naive.toSeq)
  }

  /** Adversarial interval shapes for q259's hour-blocked overlap join:
    * sessions whose starts/ends sit EXACTLY on hour-bucket boundaries,
    * zero-length sessions, multi-hour spans, and touching endpoints
    * (overlap exactly 0, which co-presence must exclude). Each interval
    * is laid down as two events (or one, when zero-length) well inside
    * the 6 h session gap, with ≥ 7 h between a user's intervals.
    */
  private lazy val overlapDir: String = {
    val H = 3600000000L
    val base = 1700006400000000L // an exact hour boundary
    // (user, start, end) — crafted boundary cases:
    val iv = Seq(
      (1L, 0L, 2L * H),            // ends exactly on a boundary
      (2L, 2L * H, 3L * H),        // starts exactly where u1 ends: ovl 0
      (3L, H / 2L, 5L * H / 2L),   // overlaps u1 across two buckets
      (4L, H, H),                  // zero-length, ON the boundary
      (5L, 0L, 5L * H),            // long span containing everyone
      (6L, 3L * H - 1L, 3L * H),   // 1-µs sliver against the boundary
      // second sessions, ≥ 7 h after each user's first
      (1L, 10L * H, 12L * H),
      (3L, 10L * H + 1L, 11L * H),
      (5L, 20L * H, 20L * H))
    def tsUs(totalUs: Long): Timestamp = {
      val t = new Timestamp(totalUs / 1000L)
      t.setNanos(((totalUs % 1000000L) * 1000L).toInt)
      t
    }
    val rows = iv.zipWithIndex.flatMap { case ((u, s0, e0), i) =>
      val pts = if (s0 == e0) Seq(s0) else Seq(s0, e0)
      pts.zipWithIndex.map { case (us, j) =>
        (i.toLong * 10L + j, tsUs(base + us), u, "view", 1.0, "{}")
      }
    }
    val dir = Files.createTempDirectory("graft-ovl-ev").toString
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q259's hour-blocked overlap join equals the naive unblocked inequality join") {
    val got = SparkEntry.queries("q259_copresence_pairs")(spark, overlapDir)
      .collect().map(_.toSeq).sortBy(r => (r(0).toString, r(1).toString))
    // naive: unblocked theta-join over the same 6 h-gap session table
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val g = Graft.events(spark, overlapDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("is_new",
        when(col("us") - lag(col("us"), 1).over(w) > 21600000000L ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
    val a = g.select(col("user_id").as("ua"), col("s").as("as_"), col("e").as("ae"))
    val b = g.select(col("user_id").as("ub"), col("s").as("bs"), col("e").as("be"))
    val naive = a.join(b,
        col("ua") < col("ub") && col("as_") <= col("be") && col("bs") <= col("ae"))
      .withColumn("ovl", least(col("ae"), col("be")) - greatest(col("as_"), col("bs")))
      .filter(col("ovl") > 0L)
      .groupBy(col("ua"), col("ub"))
      .agg(sum(col("ovl")).as("total_ovl_us"), count(lit(1)).as("n_meetings"))
      .orderBy(col("total_ovl_us").desc, col("ua"), col("ub")).limit(20)
      .collect().map(_.toSeq).sortBy(r => (r(0).toString, r(1).toString))
    assert(got.toSeq == naive.toSeq)
    // the touching pair (u1, u2) must NOT appear: overlap exactly 0
    assert(!got.exists(r => r(0) == 1L && r(1) == 2L))
    // the boundary-hugging pairs must appear: u5 meets everyone overlapping
    assert(got.exists(r => r(0) == 3L && r(1) == 5L))
  }

  test("q263's bounded-domain prefix-min skyline equals brute-force dominance") {
    // tie-heavy point set: duplicate skyline points (both copies must
    // survive — no STRICT dominator among equals), same-size ties,
    // same-price ties across sizes
    val pts = Seq(
      (1L, 3, 10.0), (2L, 3, 10.0),  // duplicate skyline point
      (3L, 3, 12.0),                 // dominated within its size
      (4L, 2, 10.0),                 // dominated by (3, 10.0) strictly in size
      (5L, 2, 9.0), (6L, 2, 9.0),    // duplicate skyline point
      (7L, 1, 9.0),                  // dominated by (2, 9.0)
      (8L, 1, 8.0),                  // skyline: cheapest overall
      (9L, 3, 11.0), (10L, 1, 20.0))
    val dir = Files.createTempDirectory("graft-sky").toString
    import spark.implicits._
    pts.map { case (k, sz, pr) => (k, s"part$k", "B", sz, pr) }
      .toDF("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q263_part_skyline")(spark, dir)
      .select("p_partkey").as[Long].collect().toSet
    // brute force: p survives iff NO q strictly dominates it
    val parts = spark.read.parquet(s"$dir/part.parquet")
    val q = parts.select(col("p_size").as("qs"), col("p_retailprice").as("qp"))
    val dominated = parts.join(q,
        col("qp") <= col("p_retailprice") && col("qs") >= col("p_size") &&
          (col("qp") < col("p_retailprice") || col("qs") > col("p_size")))
      .select("p_partkey").distinct().as[Long].collect().toSet
    val naive = parts.select("p_partkey").as[Long].collect().toSet -- dominated
    assert(got == naive)
    assert(got == Set(1L, 2L, 5L, 6L, 8L))
  }

  test("the bucket-last marker flags one row per bucket when timestamps are null") {
    import spark.implicits._
    val ev = Seq[(Long, java.lang.Long, Long)](
      (1L, null, 1L), (1L, null, 2L), (1L, null, 3L), // one null-ts bucket
      (1L, 5L, 4L), (1L, 6L, 5L))
      .toDF("user_id", "us", "event_id")
      .withColumn("tb", expr("us DIV 3600000000"))
    val w = Window.partitionBy(col("user_id"), col("tb")).orderBy(col("us"), col("event_id"))
    val last = ev.withColumn("is_last", graft.operators.SequenceOps.isLastIn(w))
      .where(col("is_last")).select("event_id").as[Long].collect().sorted.toSeq
    assert(last == Seq(3L, 5L))
  }

  test("q235 fails loudly on a negative label key instead of corrupting the vote") {
    val dir = Files.createTempDirectory("graft-lpa").toString
    import spark.implicits._
    Seq((1L, -5L), (1L, 3L), (2L, 3L), (2L, 7L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val e = intercept[Exception] {
      SparkEntry.queries("q235_lpa_communities")(spark, dir).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("packed-vote domain")), e)
  }
}
