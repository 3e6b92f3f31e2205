package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The eight ADS analytical queries of the reference (SURVEY.md §2.B),
  * re-expressed over the synthetic star schema:
  *
  *  - product_stats → lineitem ⋈ part/supplier (sku → part, trademark →
  *    supplier, category → p_type, spu → p_brand)
  *  - province_stats → orders ⋈ customer ⋈ nation ⋈ region
  *  - visitor_stats → events (user_id ≈ mid, event_type ≈ page_id)
  *  - keyword_stats → documents tokens weighted by source
  *
  * Reference semantics cited per query; e.g. B1 GMV is
  * `gmall-publisher/.../ProductStatsMapper.java:15-17`.
  *
  * Numeric convention (learned from round 1): keep ALL money arithmetic
  * exact in DECIMAL (cast before arithmetic, no division), then cast the
  * FINAL output column to DOUBLE on both the Spark side and the DuckDB
  * oracle — the exact decimal is below 2^53 in unscaled form, so the
  * IEEE conversion is identical in both engines, while DECIMAL output
  * would diverge on trailing-zero/scale padding under the driver's
  * float-normalized hash.
  *
  * Join strategy: only bounded dims (nation=25, region=5 rows) carry an
  * explicit broadcast() hint. sf-scaled tables (part, supplier,
  * customer) are left to AQE — at bench scale it still picks broadcast,
  * at the 100 TB design point it degrades to a shuffle join instead of
  * OOMing executors.
  */
object AdsQueries extends QueryModule {

  private val dec2 = DecimalType(12, 2)

  /** B1 GMV: total order revenue for one month (reference filters one
    * day via toYYYYMMDD(stt)=date; month keeps sf0.001 non-empty).
    * The month is a RANGE predicate, not date_format(...)='199806':
    * a function on the column blocks parquet filter pushdown (the
    * scan would read every row-group at 100 TB); the range reaches
    * PushedFilters and prunes on column statistics. */
  def b1Gmv(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1998-06-01" && col("o_orderdate") < "1998-07-01")
      .agg(sum(col("o_totalprice").cast(dec2)).cast(DoubleType).as("gmv"))

  /** Revenue = sum(dec(12,2)(price) × (1 − dec(8,4)(disc))) as DOUBLE,
    * in its exact FIXED-POINT form (round-14 opt): per row the two
    * decimal casts stay (they define the rounding), but the product is
    * computed on their UNSCALED longs — cents × (10⁴ − disc·10⁴) —
    * so the hot aggregate sums long-backed decimals instead of
    * BigDecimal-backed dec(21,6) products (Decimal.* is always a
    * BigDecimal multiply). Σ unscaled / 10⁶ is the identical rational
    * (unscaled-product identity; the ÷10⁶ lands at scale ≥ 6, exact),
    * so the final double is bit-identical at ANY data — verified
    * value-identical at sf0.1 and oracle-pinned at sf0.01. Overflow
    * headroom: the dec(38,0) sum buffer carries the same ~38 digits
    * the old dec(31,6) buffer did, and Spark's decimal sum degrades
    * to BigDecimal (not wraparound) past compact range. */
  private def revenue: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.SqlShims
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    def unscaled(c: org.apache.spark.sql.Column) =
      SqlShims.column(UnscaledValue(SqlShims.expression(c)))
    val cents = unscaled(col("l_extendedprice").cast(dec2))
    val d4 = unscaled(col("l_discount").cast(DecimalType(8, 4)))
    (sum((cents * (lit(10000L) - d4)).cast(DecimalType(38, 0))) /
      lit(1000000L)).cast(DoubleType)
  }

  /** B2 Top-N "SPU" by revenue → top 10 part brands.
    * ProductStatsMapper.java:20-24: group, sum, HAVING >0, ORDER DESC LIMIT. */
  def b2TopSpu(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    li.join(pt, li("l_partkey") === pt("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(revenue.as("order_amount"), count(lit(1)).as("order_ct"))
      .filter(col("order_amount") > 0)
      .orderBy(col("order_amount").desc, col("p_brand"))
      .limit(10)
  }

  /** B3 Top-N "category3" by revenue → top 10 part types. */
  def b3TopCategory(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    li.join(pt, li("l_partkey") === pt("p_partkey"))
      .groupBy(col("p_type"))
      .agg(revenue.as("order_amount"), count(lit(1)).as("order_ct"))
      .filter(col("order_amount") > 0)
      .orderBy(col("order_amount").desc, col("p_type"))
      .limit(10)
  }

  /** B4 Top-N "trademark" by revenue → top 10 suppliers. */
  def b4TopTrademark(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(revenue.as("order_amount"), count(lit(1)).as("order_ct"))
      .filter(col("order_amount") > 0)
      .orderBy(col("order_amount").desc, col("s_suppkey"))
      .limit(10)
  }

  /** B5 Province revenue map → revenue per nation (orders side; bounded
    * dim nation broadcast, sf-scaled customer left to AQE).
    * ProvinceStatsMapper.java:13-16. */
  def b5ProvinceMap(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_nationkey").as("province_id"), col("n_name").as("province_name"))
      .agg(
        sum(col("o_totalprice").cast(dec2)).cast(DoubleType).as("order_amount"),
        countDistinct(col("o_orderkey")).as("order_count"))
      .orderBy(col("province_id"))
  }

  /** B6 Visitor stats by new/old flag + derived ratios
    * (VisitorStatsMapper.java:13-16, ratios bean/VisitorStats.java:33-62).
    * is_new ≈ user_id parity; ratios computed as IEEE doubles over
    * exact counts — deterministic across engines. */
  def b6VisitorRatios(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("is_new", (col("user_id") % 2).cast(StringType))
      .groupBy(col("is_new"))
      .agg(
        countDistinct(col("user_id")).as("uv_ct"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("pv_ct"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("sv_ct"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("uj_ct"),
        sum(col("value").cast(dec2)).cast(DoubleType).as("dur_sum"))
      .withColumn("uj_rate", col("uj_ct").cast(DoubleType) * 100.0 / col("sv_ct").cast(DoubleType))
      .withColumn("pv_per_sv", col("pv_ct").cast(DoubleType) / col("sv_ct").cast(DoubleType))
      .orderBy(col("is_new"))

  /** B7 Hourly traffic curve with 24-hour zero-fill
    * (VisitorStatsMapper.java:19-22 + SugarController.java:256-281). */
  def b7HourlyCurve(s: SparkSession, d: String): DataFrame = {
    val byHour = Tables.events(s, d)
      .groupBy(hour(col("ts")).cast(LongType).as("hr"))
      .agg(
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("new_uv"),
        countDistinct(col("user_id")).as("uv_ct"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("pv_ct"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("uj_ct"))
    s.range(0, 24).toDF("hr")
      .join(byHour, Seq("hr"), "left")
      .select(
        col("hr"),
        coalesce(col("new_uv"), lit(0L)).as("new_uv"),
        coalesce(col("uv_ct"), lit(0L)).as("uv_ct"),
        coalesce(col("pv_ct"), lit(0L)).as("pv_ct"),
        coalesce(col("uj_ct"), lit(0L)).as("uj_ct"))
      .orderBy(col("hr"))
  }

  /** B8 Weighted keyword ranking (KeywordStatsMapper.java:13-19):
    * sum(ct * multiIf(source,…)) → chained `when`. Tokens from
    * documents.text, weights keyed on the source column. */
  def b8KeywordWeighted(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("keyword"))
      .filter(col("keyword") =!= "")
      .groupBy(col("keyword"))
      .agg(sum(
        when(col("source").isin("src0", "src1"), 10L)
          .when(col("source").isin("src2", "src3"), 3L)
          .when(col("source").isin("src4", "src5"), 2L)
          .otherwise(1L)).as("ct"))
      .orderBy(col("ct").desc, col("keyword"))
      .limit(20)

  /** b10 — cohort retention matrix: users grouped by their FIRST
    * active date (the cohort), then counted on each later day they
    * return, out to a 7-day offset. The standard growth-analytics
    * report (reference's visitor-stats family generalized over time:
    * VisitorStatsMapper.java:13-16 tracks only per-day uniques).
    *
    * Scale stance: the corpus-sized pass is the `(user, day)`
    * DISTINCT — one shuffle keyed by the pair with map-side partial
    * dedup, volume bounded by active user-days, not raw events. The
    * cohort date then comes from a window over the SAME user-keyed
    * rows (no join back against the event log), and everything after
    * operates on (cohort, offset) cells — at most cohorts × 8 rows.
    * Cohort sizes are read off the offset-0 cells rather than a
    * second user-level aggregation. */
  def b10Retention(s: SparkSession, d: String): DataFrame =
    retention(Tables.events(s, d))

  /** [[b10Retention]] core over any (user_id, ts) frame. */
  private[graft] def retention(events: DataFrame): DataFrame = {
    val byDay = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    val off = byDay
      .withColumn("cohort_day", min(col("day")).over(w))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast(LongType))
      .filter(col("day_offset") <= 7)
    // (user, day) is distinct and cohort_day is per-user constant, so
    // each user hits a (cohort, offset) cell at most once: count(*)
    // IS the distinct-user count, no countDistinct shuffle needed.
    val counts = off.groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("active_users"))
    val sizes = counts.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("active_users").as("cohort_users"))
    counts.join(broadcast(sizes), Seq("cohort_day"))
      .select(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("active_users"),
        (col("active_users").cast(DoubleType) /
          col("cohort_users").cast(DoubleType)).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** b11 — ordered funnel conversion (view → click → purchase): a
    * step counts only when it happens strictly AFTER the user's first
    * completion of the previous step, the sequencing the reference's
    * CEP layer (KeywordStatsApp's bounce pattern, §2.A16) expresses
    * for abandonment; here it is the positive-path twin.
    *
    * Scale stance: ONE shuffle — events hash-partitioned by user and
    * sorted once; both running-minimum window passes (first view so
    * far, first qualifying click so far) reuse that sort, and the
    * per-user flag aggregation collapses on the same partitioning, so
    * no second exchange. The frame excludes the current row, which
    * encodes "strictly earlier" with (ts, event_id) as the total
    * deterministic order. Output is 3 rows. */
  def b11Funnel(s: SparkSession, d: String): DataFrame =
    funnel(Tables.events(s, d))

  /** [[b11Funnel]] core over any (user_id, ts, event_id, event_type)
    * frame. */
  private[graft] def funnel(events: DataFrame): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prior_view",
        min(when(col("event_type") === "view", col("ts"))).over(frame))
      .withColumn("qual_click",
        col("event_type") === "click" && col("prior_view").isNotNull)
      .withColumn("prior_click",
        min(when(col("qual_click"), col("ts"))).over(frame))
    val flags = ev.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1L).otherwise(0L)).as("f1"),
      max(when(col("qual_click"), 1L).otherwise(0L)).as("f2"),
      max(when(col("event_type") === "purchase" && col("prior_click").isNotNull, 1L)
        .otherwise(0L)).as("f3"))
    flags.agg(sum(col("f1")).as("u1"), sum(col("f2")).as("u2"), sum(col("f3")).as("u3"))
      .select(explode(array(
        struct(lit(1L).as("step"), lit("view").as("step_name"), col("u1").as("users")),
        struct(lit(2L).as("step"), lit("click").as("step_name"), col("u2").as("users")),
        struct(lit(3L).as("step"), lit("purchase").as("step_name"), col("u3").as("users"))))
        .as("r"), col("u1"))
      .select(col("r.step").as("step"), col("r.step_name").as("step_name"),
        col("r.users").as("users"),
        (col("r.users").cast(DoubleType) / col("u1").cast(DoubleType)).as("conv"))
      .orderBy(col("step"))
  }

  /** b12 — DAU / rolling-7-day WAU per day, with the stickiness
    * ratio. Distinct users in a sliding window resist the
    * sum-of-partials trick (users repeat across days), so the
    * standard distributed shape is contribution fan-out: each active
    * (user, day) claims membership in the 7 windows ENDING on
    * day..day+6, and a second distinct collapses multi-day users
    * inside one window. Two keyed exchanges total, both over
    * user-day grain (≪ raw events); never a window sort over events.
    * Days with zero activity have no row (no DAU to report). */
  def b12RollingActive(s: SparkSession, d: String): DataFrame =
    rollingActive(Tables.events(s, d))

  /** [[b12RollingActive]] core over any (user_id, ts) frame. */
  private[graft] def rollingActive(events: DataFrame): DataFrame = {
    val byDay = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val days = byDay.select(col("day")).distinct()
    val wau = byDay
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
      .distinct()
      .join(days, Seq("day"), "left_semi") // drop windows past the data
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val dau = byDay.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        (col("dau").cast(DoubleType) / col("wau").cast(DoubleType)).as("stickiness"))
      .orderBy(col("day"))
  }

  private val PR_ITERS = 3          // power iterations (fixed, bounded)
  private val PR_R0 = 1000000L      // initial integer mass per page
  private val PR_BASE = 150000L     // (1 - d) · R0 with d = 0.85

  /** b13 — weighted PageRank over the page-transition graph: pages
    * (`props.k`) are nodes, a user's consecutive page views are
    * edges weighted by transition count, and PR_ITERS damped power
    * iterations rank the pages. The iterative-graph face the
    * reference's analytics layer lacks entirely (its nearest kin is
    * the visitor-path CEP, §2.A16); alongside c10's connected
    * components this completes the two classic distributed graph
    * shapes (propagation to fixpoint / weighted power iteration).
    *
    * Integer-exact: scores start at PR_R0 per node; each iteration
    * sends `(r·wt) div out_weight` along every edge and damps with
    * `BASE + (85·Σ) div 100`. Every operation is BIGINT arithmetic
    * on positive values (Spark `div` and DuckDB `//` truncate
    * identically there), so the oracle replays all three iterations
    * bit-for-bit — no float summation order to pin. Dangling pages
    * keep the teleport BASE, as in the standard formulation.
    *
    * Scale shape: one window shuffle keyed by user builds the
    * transitions (b11's exchange); edges collapse to (src, dst)
    * grain — bounded by distinct page pairs, not events. Each
    * iteration is an equi-join of the edge list with the node-grain
    * score table on src plus one keyed SUM on dst — edges stay
    * partitioned, scores are the small side (broadcast-eligible at
    * page cardinality ≪ edge count), and map-side partial
    * aggregation combines per-dst contributions before the
    * exchange. The driver loop is PR_ITERS-bounded (c10's pattern);
    * scores are localCheckpointed per round so lineage stays flat.
    * No `.collect()` anywhere — the loop body is pure DataFrames. */
  def b13Pagerank(s: SparkSession, d: String): DataFrame =
    pagerank(Tables.events(s, d))

  /** (user_id, ts, event_id, page) with invalid/missing pages
    * dropped — the node stream under b13/b14. */
  private def pageViews(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("page"))
      .where(col("page").isNotNull)

  /** Weighted page-transition edges (src, dst, wt): per-user
    * consecutive page pairs in (ts, event_id) order, self-loops
    * dropped, collapsed to distinct-pair counts. One user-keyed
    * window exchange + one pair-keyed aggregation; shared by b13's
    * power iteration and b14's transition model. */
  private[graft] def pageEdges(events: DataFrame): DataFrame =
    pageEdgesOf(pageViews(events))

  /** [[pageEdges]] over an already-built page-view frame (so callers
    * that also need the node set share one scan+parse). */
  private def pageEdgesOf(pv: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    pv
      .withColumn("src", lag(col("page"), 1).over(w))
      .where(col("src").isNotNull && col("src") =!= col("page"))
      .select(col("src"), col("page").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("wt"))
  }

  /** [[b13Pagerank]] core over any (user_id, ts, event_id, props)
    * frame. Node set = every valid page VIEWED (isolated pages rank
    * at the teleport base). */
  private[graft] def pagerank(events: DataFrame): DataFrame = {
    // ONE events scan + JSON parse feeds BOTH the node set and the
    // edge build (round-14 opt — the disjoint-lineage form re-scanned
    // and re-parsed the log twice). Lazy checkpoint: the logical plan
    // truncates immediately, materialization lands in the consuming
    // job and the cached blocks serve both branches.
    val pv = pageViews(events).localCheckpoint(false)
    pagerankEdges(
      pv.select(col("page")).distinct(),
      pageEdgesOf(pv))
  }

  /** The damped power iteration over an explicit node set and a
    * weighted edge list — b13's engine, also run by the standing
    * streaming job (graft.streaming.Jobs.pagerankIngest) against
    * its maintained edge store. */
  private[graft] def pagerankEdges(nodeSet: DataFrame, edgeList: DataFrame): DataFrame = {
    // Lazy checkpoints (round-14 opt): every per-round eager
    // localCheckpoint ran a dedicated materialize-only job — 5 jobs
    // whose only purpose was lineage truncation. localCheckpoint(false)
    // truncates the LOGICAL plan immediately (planning stays flat, the
    // reason the checkpoints exist) while materialization fuses into
    // the single output action; nodes/eo blocks cache on first compute
    // and serve every round.
    val nodes = graft.Checkpoints.loop(nodeSet)
    val edges = edgeList
    val outw = edges.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
    // Round-15 join-strategy pin (guide §3.1): the node-grain frames
    // (scores into the contrib join, contrib into the score refresh)
    // take explicit broadcast hints — the design point is page
    // cardinality ≪ edge count (the bounded page catalog), and the
    // lazy-checkpoint LogicalRDDs carry no size stats, so without the
    // hint the choice is AQE's runtime conversion; the hint makes it
    // static (no planned SMJ exchanges to convert, no reliance on
    // stage-size detection). Measured at sf0.1 (BASELINE.md, "Scale
    // probe: sf0.01 → sf0.1"): the whole 3-round loop shuffles ~KBs — the per-round contrib
    // aggregation's exchange carries node-grain bytes after map-side
    // partials. The round-15 VERDICT's suggested pre-hash-partition
    // of eo by dst was implemented and MEASURED WORSE: it adds one
    // EDGE-grain exchange (shuffle write 2.11→2.22 MB at sf0.1) to
    // save 3 node-grain ones — strictly backwards at 100 TB where
    // edge-grain dominates. Rejected; the hints are the keep.
    val eo = graft.Checkpoints.loop(edges.join(outw, "src"))
    var scores = nodes.select(col("page"), lit(PR_R0).as("r"))
    for (_ <- 1 to PR_ITERS) {
      val contrib = eo
        .join(broadcast(scores.withColumnRenamed("page", "src")), "src")
        .select(col("dst"), expr("(r * wt) div ow").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      scores = nodes
        .join(broadcast(contrib.withColumnRenamed("dst", "page")),
          Seq("page"), "left")
        .select(col("page"),
          (lit(PR_BASE) + expr("(85 * coalesce(contrib, 0L)) div 100")).as("r"))
      scores = graft.Checkpoints.loop(scores)
    }
    scores.select(col("page"), col("r").as("rank_score"))
      .orderBy(col("rank_score").desc, col("page"))
  }

  private val NEXT_K = 3 // successors reported per page

  /** b14 — next-page TRANSITION MODEL: each page's NEXT_K most
    * likely successors with the maximum-likelihood transition
    * probability wt/Σwt — the first-order Markov model over b13's
    * edge list (the "users who viewed X went to Y" panel; trained
    * exactly like a bigram LM, t31's shape on the page alphabet).
    *
    * Scale shape: [[pageEdges]]' two exchanges, then a src-keyed
    * SUM reusing the pair-grain rows and a rank window whose filter
    * compiles to WindowGroupLimit — at most NEXT_K rows per page
    * cross the final exchange. The probability is one double
    * division of two exact BIGINTs — the identical IEEE operation
    * in both engines. */
  def b14NextPage(s: SparkSession, d: String): DataFrame =
    nextPage(Tables.events(s, d))

  /** [[b14NextPage]] core over any (user_id, ts, event_id, props)
    * frame. */
  private[graft] def nextPage(events: DataFrame): DataFrame = {
    // lazy: the output action materializes; blocks serve both the
    // outw aggregation and the join probe side (see pagerankEdges)
    val edges = pageEdges(events).localCheckpoint(false)
    val outw = edges.groupBy(col("src")).agg(sum(col("wt")).as("ow"))
    val w = Window.partitionBy(col("src")).orderBy(col("wt").desc, col("dst"))
    edges.join(outw, "src")
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= NEXT_K)
      .select(col("src"), col("rk"), col("dst"), col("wt"),
        (col("wt").cast(DoubleType) / col("ow").cast(DoubleType)).as("p"))
      .orderBy(col("src"), col("rk"))
  }

  private val SPIKE_LOOKBACK = 6 // trailing hourly buckets
  private val SPIKE_MIN_N = 3    // buckets required before flagging
  private val SPIKE_SIGMA = 3L   // the 3σ rule

  /** b16 — traffic SPIKE detection: hourly event counts per type
    * flagged when they sit more than 3σ from the trailing-window
    * mean — the alerting panel over the reference's hourly-curve
    * report (§2.B7 shows the curve; b16 says which points are
    * anomalous).
    *
    * The 3σ test is evaluated in EXACT integer arithmetic by
    * cross-multiplying the z-score inequality:
    *   (n·x − Σx)² > σ²·(n·Σx² − (Σx)²)
    * (both sides × n², using the population variance of the trailing
    * buckets) — no sqrt, no division, no float anywhere, so the
    * oracle replays the flag decision bit-for-bit; a DOUBLE z-score
    * column would hang portability on two engines' sqrt rounding.
    *
    * Scale shape: one keyed count collapses the event log to
    * (type, hour) grain — bucket cardinality, not traffic — and the
    * three trailing aggregates share ONE window frame over those
    * tiny rows. Flagging needs ≥ SPIKE_MIN_N trailing buckets (cold
    * start emits unflagged rows). */
  def b16SpikeDetect(s: SparkSession, d: String): DataFrame =
    spikeDetect(Tables.events(s, d))

  /** [[b16SpikeDetect]] core over any (ts, event_type) frame. */
  private[graft] def spikeDetect(events: DataFrame): DataFrame =
    spikeFlags(events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("x")))

  /** The flag stage over a bucket-grain (event_type, hr, x) frame —
    * shared by b16 and the standing streaming job
    * (graft.streaming.Jobs.spikeAlertIngest), which maintains the
    * hourly counts from the stream and re-flags from bucket grain.
    *
    * Magnitude bound (the t32 discipline): the cross-multiplied 3σ
    * test's largest term is 9·(n·x − s1)² ≤ 9·n²·x² with n ≤
    * SPIKE_LOOKBACK = 6, so BIGINT holds while the per-(type, hour)
    * count stays under ~1.7·10^8 (≈47k events/s sustained per type)
    * — Spark (non-ANSI) would wrap silently past that while DuckDB
    * raises, so the engines diverge rather than agree-wrong. Beyond
    * that traffic, pre-scale x to a coarser unit (e.g. thousands)
    * before the quadratic terms; the flag is scale-invariant. */
  private[graft] def spikeFlags(hourly: DataFrame): DataFrame = {
    val frame = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(-SPIKE_LOOKBACK, -1)
    hourly
      .withColumn("n", count(col("x")).over(frame))
      .withColumn("s1", coalesce(sum(col("x")).over(frame), lit(0L)))
      .withColumn("s2", coalesce(sum(col("x") * col("x")).over(frame), lit(0L)))
      .select(col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:00").as("hr"),
        col("x"), col("n"), col("s1"), col("s2"),
        (col("n") >= SPIKE_MIN_N &&
          (col("n") * col("x") - col("s1")) * (col("n") * col("x") - col("s1")) >
            lit(SPIKE_SIGMA * SPIKE_SIGMA) *
              (col("n") * col("s2") - col("s1") * col("s1"))).as("spike"))
      .orderBy(col("event_type"), col("hr"))
  }

  private val PATH_LEN = 3  // pages per mined path
  private val PATH_TOP = 20 // paths reported

  /** b15 — top-K PATH MINING: the most frequent length-3 page paths
    * users actually walk (raw consecutive triples in (ts, event_id)
    * order — b14 models single steps; this surfaces the multi-step
    * trails a UX/funnel review reads). Self-transitions are kept:
    * a reload is part of the walked path here, while b13/b14 model
    * the page GRAPH and drop loops — both conventions stated, each
    * oracle replays its own.
    *
    * Scale shape: ONE user-keyed exchange whose sort feeds both lag
    * windows (same-frame windows share the single sort, b11's
    * argument), then a path-keyed count with map-side combine —
    * path cardinality saturates like t13's vocabulary — and a
    * TakeOrdered top-K, never a global sort. */
  def b15TopPaths(s: SparkSession, d: String): DataFrame =
    topPaths(Tables.events(s, d))

  /** [[b15TopPaths]] core over any (user_id, ts, event_id, props)
    * frame. */
  private[graft] def topPaths(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    pageViews(events)
      .withColumn("p1", lag(col("page"), PATH_LEN - 1).over(w))
      .withColumn("p2", lag(col("page"), PATH_LEN - 2).over(w))
      .where(col("p1").isNotNull)
      .select(col("p1"), col("p2"), col("page").as("p3"))
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("p1"), col("p2"), col("p3"))
      .limit(PATH_TOP)
  }

  private val rev =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b1_gmv" -> b1Gmv,
    "b2_topn_spu" -> b2TopSpu,
    "b3_topn_category" -> b3TopCategory,
    "b4_topn_trademark" -> b4TopTrademark,
    "b5_province_map" -> b5ProvinceMap,
    "b6_visitor_ratios" -> b6VisitorRatios,
    "b7_hourly_curve" -> b7HourlyCurve,
    "b8_keyword_weighted" -> b8KeywordWeighted,
    "b10_retention" -> b10Retention,
    "b11_funnel" -> b11Funnel,
    "b12_rolling_active" -> b12RollingActive,
    "b13_pagerank" -> b13Pagerank,
    "b14_next_page" -> b14NextPage,
    "b15_top_paths" -> b15TopPaths,
    "b16_spike_detect" -> b16SpikeDetect)

  override val oracle: Map[String, String] = Map(
    "b1_gmv" ->
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS gmv
        |FROM orders
        |WHERE o_orderdate >= '1998-06-01' AND o_orderdate < '1998-07-01'""".stripMargin,
    "b2_topn_spu" ->
      s"""SELECT p_brand, $rev AS order_amount, COUNT(*) AS order_ct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand HAVING order_amount > 0
         |ORDER BY order_amount DESC, p_brand LIMIT 10""".stripMargin,
    "b3_topn_category" ->
      s"""SELECT p_type, $rev AS order_amount, COUNT(*) AS order_ct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_type HAVING order_amount > 0
         |ORDER BY order_amount DESC, p_type LIMIT 10""".stripMargin,
    "b4_topn_trademark" ->
      s"""SELECT s_suppkey, s_name, $rev AS order_amount, COUNT(*) AS order_ct
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_suppkey, s_name HAVING order_amount > 0
         |ORDER BY order_amount DESC, s_suppkey LIMIT 10""".stripMargin,
    "b5_province_map" ->
      """SELECT n_nationkey AS province_id, n_name AS province_name,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS order_amount,
        |       COUNT(DISTINCT o_orderkey) AS order_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY province_id""".stripMargin,
    "b6_visitor_ratios" ->
      """SELECT *,
        |       CAST(uj_ct AS DOUBLE) * 100.0 / CAST(sv_ct AS DOUBLE) AS uj_rate,
        |       CAST(pv_ct AS DOUBLE) / CAST(sv_ct AS DOUBLE) AS pv_per_sv
        |FROM (
        |  SELECT CAST(user_id % 2 AS VARCHAR) AS is_new,
        |         COUNT(DISTINCT user_id) AS uv_ct,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
        |         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
        |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct,
        |         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS dur_sum
        |  FROM events GROUP BY 1
        |) ORDER BY is_new""".stripMargin,
    "b7_hourly_curve" ->
      """SELECT g.hr,
        |       COALESCE(e.new_uv, 0) AS new_uv, COALESCE(e.uv_ct, 0) AS uv_ct,
        |       COALESCE(e.pv_ct, 0) AS pv_ct, COALESCE(e.uj_ct, 0) AS uj_ct
        |FROM (SELECT UNNEST(generate_series(0, 23)) AS hr) g
        |LEFT JOIN (
        |  SELECT CAST(hour(ts) AS BIGINT) AS hr,
        |         COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS new_uv,
        |         COUNT(DISTINCT user_id) AS uv_ct,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
        |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct
        |  FROM events GROUP BY 1
        |) e ON g.hr = e.hr ORDER BY g.hr""".stripMargin,
    "b8_keyword_weighted" ->
      """SELECT keyword,
        |       CAST(SUM(CASE WHEN source IN ('src0','src1') THEN 10
        |                WHEN source IN ('src2','src3') THEN 3
        |                WHEN source IN ('src4','src5') THEN 2
        |                ELSE 1 END) AS BIGINT) AS ct
        |FROM (SELECT source, UNNEST(regexp_split_to_array(text, '\s+')) AS keyword FROM documents)
        |WHERE keyword <> '' GROUP BY keyword
        |ORDER BY ct DESC, keyword LIMIT 20""".stripMargin,
    "b10_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |off AS (
        |  SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM ud),
        |cnt AS (
        |  SELECT cohort_day,
        |         CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |         COUNT(*) AS active_users
        |  FROM off WHERE date_diff('day', cohort_day, day) <= 7
        |  GROUP BY 1, 2),
        |sz AS (SELECT cohort_day, active_users AS cohort_users FROM cnt WHERE day_offset = 0)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day, c.day_offset,
        |       c.active_users,
        |       CAST(c.active_users AS DOUBLE) / CAST(s.cohort_users AS DOUBLE) AS retention
        |FROM cnt c JOIN sz s ON c.cohort_day = s.cohort_day
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "b11_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        |  FROM events),
        |ev2 AS (
        |  SELECT *, (event_type = 'click' AND prior_view IS NOT NULL) AS qual_click
        |  FROM ev),
        |ev3 AS (
        |  SELECT *,
        |    MIN(CASE WHEN qual_click THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
        |  FROM ev2),
        |fl AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
        |    MAX(CASE WHEN qual_click THEN 1 ELSE 0 END) AS f2,
        |    MAX(CASE WHEN event_type = 'purchase' AND prior_click IS NOT NULL
        |        THEN 1 ELSE 0 END) AS f3
        |  FROM ev3 GROUP BY user_id),
        |u AS (SELECT CAST(SUM(f1) AS BIGINT) AS u1, CAST(SUM(f2) AS BIGINT) AS u2,
        |             CAST(SUM(f3) AS BIGINT) AS u3 FROM fl)
        |SELECT step, step_name, users, CAST(users AS DOUBLE) / CAST(u1 AS DOUBLE) AS conv
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, u1 AS users, u1 FROM u
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'click', u2, u1 FROM u
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', u3, u1 FROM u)
        |ORDER BY step""".stripMargin,
    "b12_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + CAST(k AS INTEGER) AS day
        |  FROM ud CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS k)),
        |wau AS (SELECT day, COUNT(*) AS wau FROM contrib
        |        WHERE day IN (SELECT day FROM days) GROUP BY day),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
        |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY day""".stripMargin,
    "b13_pagerank" -> {
      // One damped iteration r_prev -> r_next, integer-exact.
      def iter(prev: String, next: String): String =
        s"""c_$next AS (SELECT eo.dst, SUM((r.r * eo.wt) // eo.ow) AS contrib
           |  FROM eo JOIN $prev r ON eo.src = r.page GROUP BY eo.dst),
           |$next AS (SELECT n.page,
           |    $PR_BASE + (85 * COALESCE(c.contrib, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN c_$next c ON n.page = c.dst)""".stripMargin
      val iters = (1 to PR_ITERS)
        .map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
         |  FROM events
         |  WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |tr AS (
         |  SELECT page AS dst,
         |         lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (SELECT src, dst, COUNT(*) AS wt FROM tr
         |          WHERE src IS NOT NULL AND src <> dst GROUP BY src, dst),
         |outw AS (SELECT src, SUM(wt) AS ow FROM edges GROUP BY src),
         |eo AS (SELECT e.src, e.dst, e.wt, o.ow FROM edges e JOIN outw o ON e.src = o.src),
         |nodes AS (SELECT DISTINCT page FROM ev),
         |r0 AS (SELECT page, CAST($PR_R0 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT page, CAST(r AS BIGINT) AS rank_score FROM r$PR_ITERS
         |ORDER BY rank_score DESC, page""".stripMargin
    },
    "b14_next_page" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
         |  FROM events
         |  WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |tr AS (
         |  SELECT page AS dst,
         |         lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS wt FROM tr
         |          WHERE src IS NOT NULL AND src <> dst GROUP BY src, dst),
         |outw AS (SELECT src, CAST(SUM(wt) AS BIGINT) AS ow FROM edges GROUP BY src)
         |SELECT src, rk, dst, wt, CAST(wt AS DOUBLE) / CAST(ow AS DOUBLE) AS p FROM (
         |  SELECT e.src, e.dst, e.wt, o.ow,
         |         CAST(row_number() OVER (PARTITION BY e.src
         |           ORDER BY e.wt DESC, e.dst) AS BIGINT) AS rk
         |  FROM edges e JOIN outw o ON e.src = o.src)
         |WHERE rk <= $NEXT_K ORDER BY src, rk""".stripMargin,
    "b15_top_paths" ->
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
         |  FROM events
         |  WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
         |tr AS (
         |  SELECT page AS p3,
         |         lag(page, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
         |         lag(page, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
         |  FROM ev)
         |SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS ct
         |FROM tr WHERE p1 IS NOT NULL
         |GROUP BY p1, p2, p3
         |ORDER BY ct DESC, p1, p2, p3 LIMIT $PATH_TOP""".stripMargin,
    "b16_spike_detect" ->
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hr,
         |         CAST(COUNT(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, hr, x,
         |    CAST(COUNT(x) OVER tw AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(x) OVER tw, 0) AS BIGINT) AS s1,
         |    CAST(COALESCE(SUM(x * x) OVER tw, 0) AS BIGINT) AS s2
         |  FROM hourly
         |  WINDOW tw AS (PARTITION BY event_type ORDER BY hr
         |                ROWS BETWEEN $SPIKE_LOOKBACK PRECEDING AND 1 PRECEDING))
         |SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hr, x, n, s1, s2,
         |       (n >= $SPIKE_MIN_N AND
         |        (n * x - s1) * (n * x - s1) >
         |          ${SPIKE_SIGMA * SPIKE_SIGMA} * (n * s2 - s1 * s1)) AS spike
         |FROM w ORDER BY event_type, hr""".stripMargin)
}
