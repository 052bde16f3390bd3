package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Graft

/** Event-sequence analytics (round 6, fifth pack): the Markov-chain view
  * of user behavior a feed/product team reads next to the funnels —
  * the event-type transition matrix, the frequent sequential trigrams
  * (PrefixSpan's length-3 patterns, exact), per-transition dwell times,
  * and next-step predictability (transition entropy). q72's funnel asks
  * about ONE fixed pattern; this pack mines the pattern space.
  *
  * Scale notes (the 100 TB story): everything is built on ONE shared
  * bigram stream — per-user adjacent event pairs derived with q132's
  * firehose-proof two-level lag (within-hour-bucket windows; bucket-
  * first rows stitch the previous bucket's last event from the
  * metadata-sized bucket table, the carried fields riding one struct
  * max). Trigrams are a self-join of the bigram stream on its unique
  * (user, middle-event) key — one shuffle, no second-order stitch, no
  * per-key history. Downstream tables are |types|² / |types|³ rows.
  *
  * Exactness: transition and pattern counts are integers; dwell times
  * are integer microseconds aggregated exactly; probabilities are one
  * division each; entropy's ln appears only in output columns rounded
  * at 6 (q133's transcendental rule).
  */
object SequenceOps {
  import Relational.Q

  /** True on the last row of each `w` partition. Leads a literal, which
    * is never null, so a null ordering value (a null `us`) cannot pose as
    * a missing successor and flag extra rows.
    */
  private[graft] def isLastIn(w: WindowSpec): Column = lead(lit(1), 1).over(w).isNull

  /** Adjacent event pairs per user: (user_id, ptyp, typ, us_prev, us) —
    * the shared input. Two-level lag: the carried previous-event fields
    * (timestamp, id, type) ride one struct max per bucket, so the
    * recombined pairs are identical to a single per-user lag while no
    * task ever sorts a user's full history.
    */
  private def bigrams(s: SparkSession, d: String): DataFrame = {
    val ev = Graft.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type").as("typ"))
      .withColumn("tb", expr("us DIV 3600000000"))
    val wInB = Window.partitionBy(col("user_id"), col("tb"))
      .orderBy(col("us"), col("event_id"))
    // the bucket's last event rides the SAME window as the lag (r13): a
    // lead-is-null marker replaces the old max(struct(us, event_id, typ))
    // aggregate, which has no mutable agg buffer and planned a
    // SortAggregate PAIR (partial+final, each with its own sort) over a
    // second full scan of events — the same struct-max pathology q235's
    // vote paid before r12. Identical rows: the window already orders by
    // (us, event_id), which is unique per event, so "no successor in the
    // bucket" IS the (us, event_id)-max row the aggregate picked.
    val local = ev
      .withColumn("prev_in", lag(struct(col("us"), col("event_id"), col("typ")), 1).over(wInB))
      .withColumn("is_last", isLastIn(wInB))
    val bmeta = local.where(col("is_last"))
      .select(col("user_id"), col("tb"),
        struct(col("us"), col("event_id"), col("typ")).as("last"))
    val wMeta = Window.partitionBy(col("user_id")).orderBy(col("tb"))
    val prevB = bmeta
      .withColumn("prev_last", lag(col("last"), 1).over(wMeta))
      .select(col("user_id"), col("tb"), col("prev_last"))
    local.join(prevB, Seq("user_id", "tb"))
      .withColumn("prev", coalesce(col("prev_in"), col("prev_last")))
      .where(col("prev").isNotNull)
      .select(col("user_id"), col("prev.typ").as("ptyp"), col("typ"),
        col("prev.us").as("us_prev"), col("us"), col("event_id"))
  }

  private val bigramsSqlCte: String =
    """bg AS MATERIALIZED (
      |  SELECT user_id, ptyp, event_type AS typ, us_prev, us, event_id
      |  FROM (
      |    SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
      |      lag(event_type) OVER w AS ptyp,
      |      lag(epoch_us(ts)) OVER w AS us_prev
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      |  WHERE ptyp IS NOT NULL)""".stripMargin

  // ---------------------------------------------------------------- q163
  /** Event-type transition matrix: counts and row-normalized
    * probabilities of cur → next over every adjacent pair, plus each
    * row's self-loop share. |types|² output rows; probabilities are one
    * division of exact counts.
    */
  val q163: Q = (s, d) => {
    // pinned |types|²-row count table: one bigram derivation total
    val cnt = bigrams(s, d).groupBy(col("ptyp"), col("typ"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("ptyp"))
    cnt
      .withColumn("row_total", sum(col("n")).over(w))
      .select(col("ptyp").as("cur"), col("typ").as("next"), col("n"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"))
      .orderBy("cur", "next")
  }

  val q163Sql: String =
    s"""WITH $bigramsSqlCte,
       |c AS (
       |  SELECT ptyp, typ, CAST(count(*) AS BIGINT) AS n
       |  FROM bg GROUP BY 1, 2)
       |SELECT ptyp AS cur, typ AS next, n,
       |  round(CAST(n AS DOUBLE)
       |    / CAST(sum(n) OVER (PARTITION BY ptyp) AS BIGINT), 6) AS p
       |FROM c ORDER BY cur, next""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Frequent sequential trigrams: the top 10 (a → b → c) adjacent
    * patterns by occurrence count, with user support (distinct users
    * exhibiting the pattern). Trigrams come from joining the bigram
    * stream with itself on the unique (user, middle-event) key — one
    * shuffle, no second-order boundary stitch. Integer counts; ties
    * break lexicographically.
    */
  private val TriTopK = 10

  val q164: Q = (s, d) => {
    val bg = bigrams(s, d)
    val b1 = bg.select(col("user_id"), col("ptyp").as("a"), col("typ").as("b"),
      col("us").as("mid_us"), col("event_id").as("mid_id"))
    val b2 = bg.select(col("user_id").as("u2"), col("ptyp").as("b2"), col("typ").as("c"),
      col("us_prev").as("mid_us2"), col("us"), col("event_id"))
    // b2's PREVIOUS event is b1's CURRENT event: join on the middle
    // event's (user, timestamp). us_prev carries only the timestamp, so
    // both engines join on (user, us) with the IDENTICAL rule — a
    // same-microsecond collision would fan out identically on both
    // sides, keeping the oracle exact
    b1.join(b2,
        col("user_id") === col("u2") && col("mid_us") === col("mid_us2"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("support"))
      .orderBy(col("n").desc, col("a"), col("b"), col("c"))
      .limit(TriTopK)
  }

  val q164Sql: String =
    s"""WITH $bigramsSqlCte
       |SELECT b1.ptyp AS a, b1.typ AS b, b2.typ AS c,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT b1.user_id) AS BIGINT) AS support
       |FROM bg b1 JOIN bg b2
       |  ON b2.user_id = b1.user_id AND b2.us_prev = b1.us
       |GROUP BY 1, 2, 3
       |ORDER BY n DESC, a, b, c LIMIT $TriTopK""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Dwell time by transition: per cur → next pair, the count, mean gap
    * (exact integer microseconds, one division), and max gap — which
    * step users stall on. |types|² rows.
    */
  val q165: Q = (s, d) => {
    bigrams(s, d)
      .withColumn("gap", col("us") - col("us_prev"))
      .groupBy(col("ptyp"), col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"), max(col("gap")).as("max_gap_us"))
      .select(col("ptyp").as("cur"), col("typ").as("next"), col("n"),
        round(col("sg").cast("double") / col("n") / lit(1000000.0), 6)
          .as("mean_gap_sec"),
        col("max_gap_us"))
      .orderBy("cur", "next")
  }

  val q165Sql: String =
    s"""WITH $bigramsSqlCte
       |SELECT ptyp AS cur, typ AS next, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(CAST(sum(us - us_prev) AS BIGINT) AS DOUBLE)
       |    / count(*) / 1000000.0, 6) AS mean_gap_sec,
       |  CAST(max(us - us_prev) AS BIGINT) AS max_gap_us
       |FROM bg GROUP BY 1, 2 ORDER BY cur, next""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Next-step predictability per current type: Shannon entropy of the
    * next-type distribution (nats) and the modal next step with its
    * probability — low entropy = scripted behavior, high = exploratory.
    * The per-type entropy folds its ≤ |types| terms in explicit
    * next-type order; ln touches only output columns (q133's rule).
    */
  val q166: Q = (s, d) => {
    // pinned |types|²-row count table: the modal pick and the entropy
    // agg both consume it — one bigram derivation total
    val cnt = bigrams(s, d).groupBy(col("ptyp"), col("typ"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("ptyp"))
    val withP = cnt.withColumn("tot", sum(col("n")).over(w))
    val wTop = Window.partitionBy(col("ptyp")).orderBy(col("n").desc, col("typ"))
    val top = withP.withColumn("rk", row_number().over(wTop)).where(col("rk") === 1)
      .select(col("ptyp").as("p2"), col("typ").as("modal_next"),
        round(col("n").cast("double") / col("tot"), 6).as("modal_p"))
    val ent = withP.groupBy(col("ptyp"))
      .agg(sum(col("n")).as("n_total"),
        expr("aggregate(transform(sort_array(collect_list(named_struct(" +
          "'t', typ, 'v', -(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)" +
          "))), x -> x.v), 0.0D, (a, x) -> a + x)").as("h"))
    ent.join(top, col("ptyp") === col("p2"))
      .select(col("ptyp").as("cur"), col("n_total"),
        round(col("h"), 6).as("next_entropy"),
        col("modal_next"), col("modal_p"))
      .orderBy("cur")
  }

  val q166Sql: String =
    s"""WITH $bigramsSqlCte,
       |c AS (
       |  SELECT ptyp, typ, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2),
       |pc AS (
       |  SELECT ptyp, typ, n, CAST(sum(n) OVER (PARTITION BY ptyp) AS BIGINT) AS tot
       |  FROM c),
       |tp AS (
       |  SELECT ptyp, typ AS modal_next, round(CAST(n AS DOUBLE) / tot, 6) AS modal_p
       |  FROM (
       |    SELECT ptyp, typ, n, tot, row_number() OVER (
       |      PARTITION BY ptyp ORDER BY n DESC, typ) AS rk
       |    FROM pc) WHERE rk = 1),
       |en AS (
       |  SELECT ptyp, CAST(sum(n) AS BIGINT) AS n_total,
       |    list_sum(list(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)
       |      ORDER BY typ)) AS h
       |  FROM pc GROUP BY 1)
       |SELECT en.ptyp AS cur, en.n_total, round(en.h, 6) AS next_entropy,
       |  tp.modal_next, tp.modal_p
       |FROM en JOIN tp ON tp.ptyp = en.ptyp
       |ORDER BY cur""".stripMargin

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q163_markov_transitions", q163, Some(q163Sql)),
    ("q164_seq_trigrams", q164, Some(q164Sql)),
    ("q165_transition_dwell", q165, Some(q165Sql)),
    ("q166_next_entropy", q166, Some(q166Sql)))
}
