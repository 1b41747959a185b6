package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround

/** Behavioral / time-series analytics over `events` (round-3 H-line):
  * the query shapes a user of the reference's decisions-by-time table
  * runs for product analytics — ordered funnels, cohort retention,
  * rolling time windows, CUBE rollups.
  *
  * All four are single-scan, shuffle-on-one-key plans: funnel and
  * retention shuffle on user_id, the rolling window shuffles on
  * user_id once and sorts within, cube is one aggregate with
  * map-side partials.
  */
object Behavior {

  /** H3: ordered conversion funnel view → click → purchase. Each
    * stage's timestamp must be STRICTLY after the previous stage's
    * first occurrence (the standard "first-touch" funnel). One
    * aggregation per stage, all shuffling on user_id; stage frames
    * stay user_id-partitioned so the joins are co-partitioned. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.select(count(lit(1)).as("n_view"))
      .crossJoin(c.select(count(lit(1)).as("n_click")))
      .crossJoin(p.select(count(lit(1)).as("n_purchase")))
  }

  val funnelSql: String =
    """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, v.t_view, min(CAST(e.ts AS TIMESTAMP)) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
      |      GROUP BY 1, 2),
      |p AS (SELECT c.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      |      GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin

  /** H4: cohort retention — users grouped by first-seen date, counted
    * again at each later active date offset. Two shuffles (cohort
    * assignment on user_id, matrix on cohort×offset), both map-side
    * combined. Offsets capped at 14 days to keep the matrix bounded
    * regardless of corpus span. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    e.join(cohort, "user_id")
      .withColumn("offset", datediff(col("d"), col("cohort_d")))
      .filter(col("offset") <= 14)
      .groupBy(col("cohort_d"), col("offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort_d"),
        col("offset"), col("n_users"))
  }

  val retentionSql: String =
    """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
      |SELECT strftime(cohort.cohort_d, '%Y-%m-%d') AS cohort_d,
      |  datediff('day', cohort.cohort_d, e.d) AS "offset",
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN cohort ON e.user_id = cohort.user_id
      |WHERE datediff('day', cohort.cohort_d, e.d) <= 14
      |GROUP BY 1, 2""".stripMargin

  /** H5: rolling 7-day event-time window per user (range frame, not
    * row frame — gaps count): running event count and value sum over
    * the trailing week. One shuffle on user_id; the sort is within
    * partitions. Sums are DECIMAL(18,4) — order-independent, so the
    * result is engine-exact (the sessionize lesson). */
  def rollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-7L * 86400 + 1, 0)
    events(s, dir)
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum",
        sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("roll_n"), col("roll_sum"))
  }

  // epoch() returns DOUBLE (fractional seconds) — the frame boundary
  // would differ from Spark's truncating long cast on sub-second
  // timestamps; epoch_ms // 1000 is the integer-seconds twin.
  val rollingWindowSql: String =
    """SELECT user_id, event_id,
      |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts,
      |  count(*) OVER w AS roll_n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)) // 1000
      |             RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)""".stripMargin

  /** H6: CUBE grouping sets — all 2^2 subtotal combinations over
    * (returnflag, linestatus), the B8 ROLLUP's full-lattice sibling.
    * Spark expands grouping sets in ONE aggregate with partial
    * aggregation per set; no extra scans. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(pround(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))

  val cubeAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  floor((sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** J-line: event-transition (Markov) matrix — per-user consecutive
    * event-type pairs and the per-source transition probability, the
    * path-mining primitive behind "what do users do after X".
    * Ordering is (ts, event_id) in BOTH engines — event_id breaks
    * timestamp ties so the sequence is a total order, and the oracle
    * casts its nanosecond timestamps to the same microsecond
    * precision Spark reads. Probabilities are single divisions of
    * exact counts. One user-keyed window + one 25-cell aggregate. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = trans.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    trans.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        pround(col("n").cast("double") / col("n_from"), 4).as("p"))
  }

  val eventTransitionsSql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM t
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, sum(n)::BIGINT AS n_from FROM c GROUP BY 1)
      |SELECT from_type, to_type, n,
      |  floor((n::DOUBLE / n_from) * 10000.0 + 0.5) / 10000.0 AS p
      |FROM c JOIN tot USING (from_type)""".stripMargin

  /** K-line: FREQUENT ITEMSETS — unordered event-type co-occurrence
    * over per-user baskets (the A-Priori 2-itemset pass; J14's
    * transition matrix is the ORDERED sibling): for every type pair,
    * how many users did both, the support, and the LIFT
    * n_ab·N / (n_a·n_b) — association strength without logs (the
    * house PMI-avoidance convention: one double division of exact
    * integer products, engine-identical). Shape: baskets are one
    * distinct on (user, type); the pair join fans out ≤ C(5,2) = 10
    * rows per user (bounded by the type alphabet, never by events);
    * per-type counts broadcast into the 25-cell report. */
  def itemsets(s: SparkSession, dir: String): DataFrame = {
    val baskets = events(s, dir).select(col("user_id"), col("event_type")).distinct()
    // one-row frame, broadcast via cross join (the quantile_bins
    // convention) — no eager driver-side count in the plan builder
    val nUsers = baskets.agg(count_distinct(col("user_id")).as("nu"))
    val typeN = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = baskets.as("x")
      .join(baskets.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeN.select(col("event_type").as("type_a"), col("n").as("na"))), "type_a")
      .join(broadcast(typeN.select(col("event_type").as("type_b"), col("n").as("nb"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        pround(col("n_ab").cast("double") / col("nu"), 4).as("support"),
        pround((col("n_ab") * col("nu")).cast("double") / (col("na") * col("nb")), 4).as("lift"))
  }

  val itemsetsSql: String =
    """WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT count(DISTINCT user_id) AS n FROM b),
      |tn AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
      |p AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n_ab
      |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab,
      |  floor((n_ab::DOUBLE / nu.n) * 10000.0 + 0.5) / 10000.0 AS support,
      |  floor(((n_ab * nu.n)::DOUBLE / (ta.n * tb.n)) * 10000.0 + 0.5) / 10000.0 AS lift
      |FROM p
      |CROSS JOIN nu
      |JOIN tn ta ON ta.event_type = p.type_a
      |JOIN tn tb ON tb.event_type = p.type_b""".stripMargin

  /** burst_detect needs at least this many trailing observed hours
    * before it will flag — below it the variance estimate is junk. */
  val BurstMinTrail = 12

  /** K-line: BURST DETECTION — per (event_type, hour), flag hours
    * whose count exceeds the trailing-24-observed-hour mean by more
    * than 3 sigma. The volume-anomaly monitor run over an ingest
    * feed before bad batches poison downstream stats. The z-test is
    * computed in EXACT integer arithmetic so the flag is
    * engine-identical: z > 3 AND x > mu  ⟺  n·x − S > 0 AND
    * (n·x − S)² > 9·(n·SS − S²)  where n/S/SS are the trailing
    * window's count/sum/sum-of-squares (population variance, both
    * sides scaled by n²) — no mean, no sqrt, no float ever computed.
    * The squares run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB):
    * at 1e9 events/hour/type the deviation term is ≤ 24·1e9, its
    * square 6e20 — far inside both 38-digit ranges, exact in both.
    * Shape: one hour-grain aggregate (map-side combined) then one
    * event_type-keyed window — partitions = #types, frame = 24 rows
    * of longs; scale-free regardless of raw event volume. */
  def burstDetect(s: SparkSession, dir: String): DataFrame = {
    val hc = events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val fr = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    val w = hc
      .withColumn("trail_n", count(lit(1)).over(fr))
      .withColumn("trail_sum", sum(col("cnt")).over(fr))
      .withColumn("trail_ssq", sum(col("cnt") * col("cnt")).over(fr))
    val dev = col("trail_n") * col("cnt") - col("trail_sum")
    val devD = dev.cast("decimal(38,0)")
    val varD = (col("trail_n") * col("trail_ssq") -
      col("trail_sum") * col("trail_sum")).cast("decimal(38,0)")
    w.select(col("event_type"), col("hour"), col("cnt"),
      col("trail_n"),
      coalesce(col("trail_sum"), lit(0L)).as("trail_sum"),
      when(col("trail_n") >= BurstMinTrail && dev > 0 &&
        devD * devD > lit(9).cast("decimal(38,0)") * varD, 1L)
        .otherwise(0L).as("is_burst"))
  }

  val burstDetectSql: String =
    s"""WITH hc AS (
       |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |         count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, hour, cnt,
       |    count(*)     OVER fr AS trail_n,
       |    sum(cnt)     OVER fr AS trail_sum,
       |    sum(cnt*cnt) OVER fr AS trail_ssq
       |  FROM hc
       |  WINDOW fr AS (PARTITION BY event_type ORDER BY hour
       |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       |SELECT event_type, hour, cnt,
       |  trail_n::BIGINT AS trail_n,
       |  coalesce(trail_sum, 0)::BIGINT AS trail_sum,
       |  (CASE WHEN trail_n >= $BurstMinTrail
       |     AND trail_n*cnt - trail_sum > 0
       |     AND (trail_n*cnt - trail_sum)::HUGEINT * (trail_n*cnt - trail_sum)
       |         > 9::HUGEINT * (trail_n*trail_ssq - trail_sum*trail_sum)
       |   THEN 1 ELSE 0 END)::BIGINT AS is_burst
       |FROM w""".stripMargin

  /** Attribution lookback window: a purchase converts its latest
    * click at most this many seconds earlier. */
  val AttribWindowSec = 1800L

  /** K-line: LAST-TOUCH ATTRIBUTION — every purchase is credited to
    * the user's most recent preceding click within
    * [[AttribWindowSec]]; purchases with no such click are organic.
    * The as-of pattern ([[graft.operators.AsofJoin]]) applied
    * in-stream: ONE user-keyed shuffle carries both event kinds, a
    * last-non-null window finds the preceding click (total order
    * (ts, event_id), same tiebreak as B6/J14 — "preceding" = strictly
    * earlier in that order), and the report is an hour-keyed
    * aggregate: conversion counts, attributed revenue (exact
    * DECIMAL(18,4) sums, the sessionize convention) and the mean
    * click→purchase lag (integer-second sums; one division). No
    * self-join of events against events — at 100 TB the window form
    * shuffles each event once, where the join form pays purchases ×
    * clicks fanout per user. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastClick = last(
      when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w)
    val purchases = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("click_ts", lastClick)
      .filter(col("event_type") === "purchase")
      .withColumn("lag_s", col("ts").cast("long") - col("click_ts").cast("long"))
      .withColumn("attributed",
        col("click_ts").isNotNull && col("lag_s") <= AttribWindowSec)
    purchases
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
        sum(when(col("attributed"), col("value").cast("decimal(18,4)")))
          .cast("double").as("attr_value"),
        pround(avg(when(col("attributed"), col("lag_s"))), 4).as("avg_lag_s"))
  }

  val attributionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
       |  FROM events),
       |m AS (
       |  SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
       |  FROM ev),
       |p AS (
       |  -- floor(epoch()) mirrors Spark's truncating timestamp→long
       |  -- cast (epoch() is DOUBLE seconds and ::BIGINT would ROUND)
       |  SELECT *,
       |    CAST(floor(epoch(ts)) AS BIGINT)
       |      - CAST(floor(epoch(click_ts)) AS BIGINT) AS lag_s,
       |    click_ts IS NOT NULL
       |      AND CAST(floor(epoch(ts)) AS BIGINT)
       |        - CAST(floor(epoch(click_ts)) AS BIGINT) <= $AttribWindowSec AS attributed
       |  FROM m WHERE event_type = 'purchase')
       |SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
       |  count(*) AS n_purchases,
       |  sum(CASE WHEN attributed THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
       |  sum(CASE WHEN attributed THEN value::DECIMAL(18,4) END)::DOUBLE AS attr_value,
       |  floor((avg(CASE WHEN attributed THEN lag_s END)) * 10000.0 + 0.5) / 10000.0 AS avg_lag_s
       |FROM p GROUP BY 1""".stripMargin

  /** K106: LINEAR MULTI-TOUCH ATTRIBUTION — K17's last-touch rule
    * credits ONE click; the linear model splits each purchase's 10⁶
    * credit units equally across EVERY click in the
    * [[LinAttribWindowSec]] lookback (tp − W ≤ tc < tp, strict second
    * ordering), the report marketing actually reconciles against
    * spend: per click-HOUR, touches and credit received. Integer
    * credit: each touch gets 10⁶ div k; the EARLIEST touch (by
    * (ts, event_id)) also absorbs the 10⁶ mod k remainder, so credit
    * conserves EXACTLY — Σ credit = 10⁶ × attributed purchases, the
    * spec-pinned invariant a float split can never give.
    *
    * Scale shape: unlike last-touch (pure window form, K17), a
    * multi-touch split must materialize (purchase, click) pairs —
    * that is the model's real cost, and it is bounded the honest
    * way: ONE user-keyed equi-join with the time-range predicate
    * (the stream_join shape), fanout ∝ purchases × in-window clicks
    * per user, never cross-user; k and the credit then ride a
    * purchase-keyed window over the pair frame. */
  /** K106's own lookback: linear multi-touch conventionally uses a
    * longer window than last-touch (a DAY of touches shares credit;
    * K17 keeps its 30 min) — and at the test SFs the 24 h window is
    * what makes multi-click purchases (k > 1, the split arithmetic)
    * actually occur, so the spec's conservation probe is non-vacuous. */
  val LinAttribWindowSec = 86400L

  def attributionLinear(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("tc"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t").as("tp"), col("event_id").as("purchase_id"))
    val pairs = purchases.join(clicks, Seq("user_id"))
      .filter(col("tc") < col("tp") && col("tc") >= col("tp") - LinAttribWindowSec)
    val wP = Window.partitionBy(col("purchase_id"))
    val wRank = wP.orderBy(col("tc"), col("click_id"))
    pairs
      .withColumn("k", count(lit(1)).over(wP))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("credit_pm",
        expr("1000000L div k") +
          when(col("rk") === 1, expr("1000000L % k")).otherwise(0L))
      .groupBy(from_unixtime(col("tc"), "yyyy-MM-dd HH:00:00").as("hour"))
      .agg(count(lit(1)).as("n_touches"),
        count_distinct(col("purchase_id")).as("n_purchases_touched"),
        sum(col("credit_pm")).as("credit_pm"))
  }

  val attributionLinearSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
       |    event_id, event_type
       |  FROM events),
       |pairs AS (
       |  SELECT p.user_id, c.t AS tc, c.event_id AS click_id,
       |    p.t AS tp, p.event_id AS purchase_id
       |  FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
       |  JOIN (SELECT * FROM ev WHERE event_type = 'click') c
       |    ON c.user_id = p.user_id
       |   AND c.t < p.t AND c.t >= p.t - $LinAttribWindowSec),
       |cr AS (
       |  SELECT *,
       |    count(*) OVER (PARTITION BY purchase_id) AS k,
       |    row_number() OVER (PARTITION BY purchase_id
       |                       ORDER BY tc, click_id) AS rk
       |  FROM pairs)
       |SELECT strftime(to_timestamp(tc), '%Y-%m-%d %H:00:00') AS hour,
       |  count(*) AS n_touches,
       |  count(DISTINCT purchase_id) AS n_purchases_touched,
       |  sum(1000000 // k + CASE WHEN rk = 1 THEN 1000000 % k ELSE 0 END)::BIGINT
       |    AS credit_pm
       |FROM cr GROUP BY 1""".stripMargin

  /** K-line: PEAK CONCURRENCY per day — the classic interval
    * sweep-line (max overlapping sessions), the capacity-planning
    * read over the sessionized stream. A global running sum over all
    * boundary events is the textbook single-reducer trap; this is
    * the DISTRIBUTED prefix-sum decomposition instead: (1) sessions
    * (B6's 30-min-gap definition) emit +1/−1 boundary deltas;
    * (2) each day computes its LOCAL running sum in parallel
    * (`partitionBy(day)`); (3) a carry — the net delta of all PRIOR
    * days — is one tiny aggregate (rows = distinct days, broadcast
    * back), so global concurrency = carry + local sum without any
    * total ordering of the data. Sessions are active on the INCLUSIVE
    * [start, end] second; boundary ties order +1 before −1 (two
    * sessions touching at one instant DO overlap), pinned identically
    * in the oracle's ORDER BY. All arithmetic is integer-exact. */
  def concurrencyPeak(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = events(s, dir)
      .withColumn("new_sess", Analytics.newSession(byUser))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts").cast("long")).as("t0"), max(col("ts").cast("long")).as("t1"))
    val deltas = sessions
      .select(explode(array(
        struct(col("t0").as("t"), lit(1).as("d")),
        struct(col("t1").as("t"), lit(-1).as("d")))).as("b"))
      .select(col("b.t"), col("b.d"),
        date_format(timestamp_seconds(col("b.t")), "yyyy-MM-dd").as("day"))
    val byDay = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = deltas.withColumn("run", sum(col("d")).over(byDay))
    // carry: net open sessions entering each day — rows = distinct
    // days (bounded by calendar span, not data size), so the
    // unpartitioned cumulative window is a deliberate tiny frame
    val dayNet = deltas.groupBy(col("day")).agg(sum(col("d")).as("net"))
    val carry = dayNet.withColumn("carry",
      coalesce(sum(col("net")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    local.join(broadcast(carry), "day")
      .groupBy(col("day"))
      .agg(max(col("run") + col("carry")).as("peak_conc"),
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_started"))
  }

  val concurrencyPeakSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN epoch(CAST(ts AS TIMESTAMP))
      |           - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |bounds AS (
      |  SELECT user_id, sess_id,
      |    CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      |  FROM (SELECT user_id, ts, event_id,
      |          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS sess_id
      |        FROM g)
      |  GROUP BY user_id, sess_id),
      |deltas AS (
      |  SELECT t0 AS t, 1 AS d FROM bounds
      |  UNION ALL SELECT t1 AS t, -1 AS d FROM bounds),
      |sweep AS (
      |  -- make_timestamp(µs) is a NAIVE timestamp: matches Spark's
      |  -- timestamp_seconds under the session's pinned UTC
      |  SELECT strftime(make_timestamp(t * 1000000), '%Y-%m-%d') AS day, d,
      |    sum(d) OVER (ORDER BY t, d DESC ROWS UNBOUNDED PRECEDING) AS run
      |  FROM deltas)
      |SELECT day, max(run)::BIGINT AS peak_conc,
      |  sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_started
      |FROM sweep GROUP BY day""".stripMargin

  /** K-line: SESSION ENTRY PATHS — the first-3-event-type journey of
    * each session (B6's 30-min-gap definition) rolled up to a path
    * frequency table with per-path session and distinct-user counts:
    * the "how do sessions begin" product read that sits next to J14's
    * Markov transitions (pairs) with real k-step ordering. No
    * collect_list/HOF: the per-session prefix is three conditional
    * aggregates over a row_number (all codegen'd), so the only
    * shuffles are the session window's user_id partition and the
    * final path rollup — path cardinality is bounded by |alphabet|³,
    * not session count. `concat_ws` skips NULL steps in both engines,
    * so short sessions fold to their natural 1- or 2-step path. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("sess_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("new_sess", Analytics.newSession(byUser))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(bySess))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("s1"),
        max(when(col("rn") === 2, col("event_type"))).as("s2"),
        max(when(col("rn") === 3, col("event_type"))).as("s3"),
        count(lit(1)).as("plen"))
      .groupBy(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("plen")).as("path_len"))
  }

  val sessionPathsSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN epoch(CAST(ts AS TIMESTAMP))
      |           - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |t AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM g),
      |r AS (
      |  SELECT user_id, sess_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, sess_id ORDER BY ts, event_id) AS rn
      |  FROM t),
      |p AS (
      |  SELECT user_id, sess_id,
      |    max(CASE WHEN rn = 1 THEN event_type END) AS s1,
      |    max(CASE WHEN rn = 2 THEN event_type END) AS s2,
      |    max(CASE WHEN rn = 3 THEN event_type END) AS s3,
      |    count(*) AS plen
      |  FROM r WHERE rn <= 3 GROUP BY user_id, sess_id)
      |SELECT concat_ws('>', s1, s2, s3) AS path,
      |  count(*) AS n_sessions,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  max(plen)::BIGINT AS path_len
      |FROM p GROUP BY 1""".stripMargin

  /** K34: TIME-GRID DENSIFICATION + FILL-FORWARD — the gap-fill
    * every downstream time-series consumer (charting, drift windows,
    * the EWMA below) needs: per event type, the dense hourly grid
    * from its first to its last observed hour, missing hours carried
    * forward from the last observed count. The grid is generated
    * FROM THE 1-ROW-PER-TYPE SPAN frame (`sequence` + `explode`), so
    * its size is calendar-bounded (span-hours × types), independent
    * of raw event volume — the aggregate that feeds it is the only
    * thing that scales with data. Fill is one last-non-null window
    * per type over that calendar-sized grid. Hours are exact integer
    * epoch-hour indices (the house timestamp convention: truncate,
    * never round). */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    // integer epoch-hours: cast truncates (= floor for the positive
    // epochs here) and `div` keeps it in BIGINT — mirrors DuckDB's
    // floor(epoch(ts))::BIGINT // 3600 with no double ever involved
    val hourIdx = expr("cast(ts as long) div 3600")
    val hc = events(s, dir)
      .groupBy(col("event_type"),
        hourIdx.as("h"))
      .agg(count(lit(1)).as("cnt"))
    val grid = hc.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val fill = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hc, Seq("event_type", "h"), "left_outer")
      .select(col("event_type"), col("h").as("hour_idx"),
        when(col("cnt").isNotNull, 1L).otherwise(0L).as("observed"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        last(col("cnt"), ignoreNulls = true).over(fill).as("cnt_filled"))
  }

  val gapFillSql: String =
    """WITH hc AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h,
      |    count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(min(h), max(h))) AS h
      |  FROM hc GROUP BY event_type)
      |SELECT g.event_type, g.h AS hour_idx,
      |  (CASE WHEN hc.cnt IS NULL THEN 0 ELSE 1 END)::BIGINT AS observed,
      |  coalesce(hc.cnt, 0)::BIGINT AS cnt,
      |  last_value(hc.cnt IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_filled
      |FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.h = g.h""".stripMargin

  /** EWMA window: trailing hours contributing to each smoothed
    * point, with dyadic weights 2^(W-1-lag). */
  val EwmaW = 16

  /** K35: EXPONENTIAL MOVING AVERAGE over the dense hourly axis,
    * α = 1/2, exactly — every weight is a power of two, so numerator
    * and denominator are BIGINT-exact and the single final division
    * is engine-identical (the no-transcendentals convention applied
    * to smoothing). The shape is CONTRIBUTION-EXPLODE: each observed
    * hour fans out to the ≤[[EwmaW]] later grid hours it influences
    * (weights are plan-time literals), and ONE combining aggregate
    * on (type, target-hour) sums them — no self-join, no windowed
    * lag-indexed multiply (a window sum cannot weight by lag), and
    * map-side partials do the heavy lifting. Missing hours count as
    * zero; the denominator is the closed-form geometric sum
    * 2^W − 2^(W−1−min(W−1, t−h0)), a pure expression on the grid. */
  def ewmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val hourIdx = expr("cast(ts as long) div 3600")
    val hc = events(s, dir)
      .groupBy(col("event_type"), hourIdx.as("h"))
      .agg(count(lit(1)).as("cnt"))
    val span = hc.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = span
      .select(col("event_type"), col("h0"), explode(sequence(col("h0"), col("h1"))).as("t"))
    val lags = array((0 until EwmaW).map(k =>
      struct(lit(k).as("k"), lit(1L << (EwmaW - 1 - k)).as("w"))): _*)
    val num = hc
      .select(col("event_type"), col("h"), col("cnt"), explode(lags).as("x"))
      .select(col("event_type"), (col("h") + col("x.k")).as("t"),
        (col("cnt") * col("x.w")).as("wcnt"))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("wcnt")).as("num"))
    // SQL-form shiftleft: the Scala helper only takes literal bit
    // counts, the SQL function shifts by an expression
    val den = expr(s"CASE WHEN t - h0 >= ${EwmaW - 1} THEN ${(1L << EwmaW) - 1L}L " +
      s"ELSE ${1L << EwmaW}L - shiftleft(CAST(1 AS BIGINT), " +
      s"CAST(${EwmaW - 1} - (t - h0) AS INT)) END")
    grid.join(num, Seq("event_type", "t"), "left_outer")
      .join(hc.withColumnRenamed("h", "t"), Seq("event_type", "t"), "left_outer")
      .select(col("event_type"), col("t").as("hour_idx"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        pround(coalesce(col("num"), lit(0L)) / den, 4).as("ewma"))
  }

  /** "Rapid" inter-arrival threshold, seconds. */
  val RapidSec = 60L

  /** K41: INTER-ARRIVAL PROFILE — per event type, the distribution
    * of seconds since the same user's PREVIOUS event (any type): the
    * arrival-process read behind rate limiting, bot detection and
    * session-gap calibration (B6's 30-min gap came from exactly this
    * table). ONE user-keyed shuffle orders each user's history
    * (total order (ts, event_id), the house tiebreak) and a lag
    * window emits integer-second deltas; the report is a tiny
    * type-keyed aggregate of exact integers — n/min/max/sum (avg is
    * the single rounded division) plus the <[[RapidSec]]s rapid-fire
    * count. No percentile: no per-group value buffering anywhere. */
  def deltaStats(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("ts").cast("long").as("sec"))
      .withColumn("delta", col("sec") - lag(col("sec"), 1).over(byUser))
      .filter(col("delta").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_deltas"),
        min(col("delta")).as("min_s"),
        max(col("delta")).as("max_s"),
        pround(sum(col("delta")) / count(lit(1)), 4).as("avg_s"),
        sum(when(col("delta") < RapidSec, 1L).otherwise(0L)).as("n_rapid"))
  }

  lazy val deltaStatsSql: String =
    s"""WITH d AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
       |      - lag(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) OVER (
       |          PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
       |      AS delta
       |  FROM events)
       |SELECT event_type, count(*) AS n_deltas,
       |  min(delta) AS min_s, max(delta) AS max_s,
       |  floor((sum(delta)::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_s,
       |  sum(CASE WHEN delta < $RapidSec THEN 1 ELSE 0 END)::BIGINT AS n_rapid
       |FROM d WHERE delta IS NOT NULL GROUP BY 1""".stripMargin

  lazy val ewmaSmoothSql: String = {
    val w = EwmaW
    s"""WITH hc AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h,
       |    count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1, 2),
       |span AS (
       |  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hc GROUP BY 1),
       |grid AS (
       |  SELECT event_type, h0, unnest(generate_series(h0, h1)) AS t FROM span),
       |num AS (
       |  SELECT hc.event_type, hc.h + l.k AS t,
       |    sum(hc.cnt * (1::BIGINT << ($w - 1 - l.k)))::BIGINT AS num
       |  FROM hc CROSS JOIN (SELECT unnest(generate_series(0, $w - 1)) AS k) l
       |  GROUP BY 1, 2)
       |SELECT g.event_type, g.t AS hour_idx,
       |  coalesce(hc.cnt, 0)::BIGINT AS cnt,
       |  floor((coalesce(n.num, 0)::DOUBLE /
       |    (CASE WHEN g.t - g.h0 >= $w - 1 THEN ${(1L << w) - 1L}
       |     ELSE ${1L << w} - (1::BIGINT << ($w - 1 - (g.t - g.h0)::INT)) END))
       |    * 10000.0 + 0.5) / 10000.0 AS ewma
       |FROM grid g
       |LEFT JOIN num n ON n.event_type = g.event_type AND n.t = g.t
       |LEFT JOIN hc ON hc.event_type = g.event_type AND hc.h = g.t""".stripMargin
  }

  /** K47: LINEAR INTERPOLATION on the dense hourly grid — gap_fill's
    * fill-forward replaced by the two-sided estimate: each missing
    * hour takes (pv·(nh−h) + nv·(h−ph)) / (nh−ph) between its
    * nearest observed neighbors. Both brackets come from ONE
    * event_type-keyed window family (last-non-null looking back,
    * first-non-null looking forward share the exchange and sort);
    * the grid endpoints are observed by construction (min/max
    * observed hour), so a bracket always exists and the denominator
    * is ≥ 1 — the ANSI division guard is structural, not a runtime
    * check. All inputs are BIGINT (integer hours × integer counts),
    * so the single division + round is the only float op, engine-
    * identical; observed hours short-circuit to their exact count
    * before the formula (whose 0/0 they would otherwise hit). */
  def interpLinear(s: SparkSession, dir: String): DataFrame = {
    val hourIdx = expr("cast(ts as long) div 3600")
    val hc = events(s, dir)
      .groupBy(col("event_type"), hourIdx.as("h"))
      .agg(count(lit(1)).as("cnt"))
    val grid = hc.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(hc, Seq("event_type", "h"), "left_outer")
      .withColumn("ph",
        last(when(col("cnt").isNotNull, col("h")), ignoreNulls = true).over(back))
      .withColumn("pv", last(col("cnt"), ignoreNulls = true).over(back))
      .withColumn("nh",
        first(when(col("cnt").isNotNull, col("h")), ignoreNulls = true).over(fwd))
      .withColumn("nv", first(col("cnt"), ignoreNulls = true).over(fwd))
      .select(col("event_type"), col("h").as("hour_idx"),
        when(col("cnt").isNotNull, 1L).otherwise(0L).as("observed"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        pround(when(col("cnt").isNotNull, col("cnt").cast("double"))
          .otherwise(
            (col("pv") * (col("nh") - col("h")) +
             col("nv") * (col("h") - col("ph"))) /
            (col("nh") - col("ph"))), 4).as("interp"))
  }

  val interpLinearSql: String =
    """WITH hc AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS h,
      |    count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(min(h), max(h))) AS h
      |  FROM hc GROUP BY event_type),
      |br AS (
      |  SELECT g.event_type, g.h, hc.cnt,
      |    last_value(CASE WHEN hc.cnt IS NOT NULL THEN g.h END IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.h
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    last_value(hc.cnt IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.h
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    first_value(CASE WHEN hc.cnt IS NOT NULL THEN g.h END IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.h
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
      |    first_value(hc.cnt IGNORE NULLS)
      |      OVER (PARTITION BY g.event_type ORDER BY g.h
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      |  FROM grid g LEFT JOIN hc ON hc.event_type = g.event_type AND hc.h = g.h)
      |SELECT event_type, h AS hour_idx,
      |  (CASE WHEN cnt IS NULL THEN 0 ELSE 1 END)::BIGINT AS observed,
      |  coalesce(cnt, 0)::BIGINT AS cnt,
      |  floor((CASE WHEN cnt IS NOT NULL THEN cnt::DOUBLE
      |        ELSE (pv * (nh - h) + nv * (h - ph)) / (nh - ph) END)
      |        * 10000.0 + 0.5) / 10000.0 AS interp
      |FROM br""".stripMargin

  /** K69: closed-form LINEAR TREND per series — ordinary least
    * squares of daily event counts against the day index, computed
    * entirely from BIGINT moment sums (n, Σx, Σy, Σxy, Σx², Σy²):
    * slope, intercept and r² are column algebra over exact integers,
    * so both engines divide the SAME integers and produce identical
    * doubles — no per-engine iterative fitter anywhere. Fit is over
    * OBSERVED days (a day with zero events of a type contributes no
    * point). Shape: one (type, day) pre-aggregate (map-side
    * combined), a 1-row broadcast of the global min day, then a
    * 6-sum aggregate per type — shuffle ∝ types × days, a second
    * pass never touches raw events. At 100 TB the moment sums are
    * the textbook distributive aggregate; overflow headroom is the
    * one thing to re-check (day counts ≥ ~10⁹ with ~10⁴ days wants
    * DECIMAL sums, same swap as the revenue convention). */
  def trendFit(s: SparkSession, dir: String): DataFrame = {
    // materialize the tiny (type, day) frame once: both the min-day
    // scalar and the moment sums read it, so raw events are scanned
    // exactly once (without this the d0 branch re-derives the
    // aggregate from the raw scan)
    val daily = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("y"))
      .localCheckpoint()
    val d0 = daily.agg(min(col("d")).as("d0"))
    val xy = daily.crossJoin(broadcast(d0))
      .select(col("event_type"), datediff(col("d"), col("d0")).cast("long").as("x"),
        col("y"))
    val m = xy.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    // all-BIGINT numerators/denominators; nullif-guarded divisions
    val num = (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den1L = col("n_days") * col("sxx") - col("sx") * col("sx")
    val den2L = col("n_days") * col("syy") - col("sy") * col("sy")
    val den1 = when(den1L === 0L, lit(null)).otherwise(den1L).cast("double")
    val den2 = when(den2L === 0L, lit(null)).otherwise(den2L).cast("double")
    val slope = num / den1
    m.select(col("event_type"), col("n_days"),
      pround(slope, 6).as("slope"),
      pround((col("sy").cast("double") - slope * col("sx")) / col("n_days"), 6)
        .as("intercept"),
      pround(num * num / (den1 * den2), 6).as("r2"))
  }

  /** window_funnel conversion window (hours). */
  val FunnelWindowHours = 24

  /** K70: WINDOWED strict-sequence funnel (the ClickHouse
    * windowFunnel shape) — H3's funnel with the semantics production
    * funnels actually need: every later stage must land within
    * [[FunnelWindowHours]] of the user's FIRST view, not just any
    * time after it. Greedy earliest-chain per user: t0 = first view,
    * t1 = first click after t0 inside the window, t2 = first
    * purchase after t1 inside the window; level = stages reached
    * (0 for users who never view). Emits per-level user counts and
    * the mean view→purchase latency of full conversions (exact
    * BIGINT µs sum, ONE double division — engine-stable, the
    * decimal-sum lesson). Shape: H3 does one join + shuffle per
    * stage; here ALL stage chaining happens inside ONE user_id
    * exchange as three chained window minima (same partitioning →
    * Spark plans a single Exchange), then a tiny level aggregate.
    * At 100 TB the single fat exchange of raw events replaces three
    * stage-frame joins — strictly fewer shuffles of the big table. */
  def windowFunnel(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
    val win = expr(s"INTERVAL $FunnelWindowHours HOURS")
    val staged = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t0",
        min(when(col("event_type") === "view", col("ts"))).over(wu))
      .withColumn("t1",
        min(when(col("event_type") === "click" &&
          col("ts") > col("t0") && col("ts") <= col("t0") + win, col("ts"))).over(wu))
      .withColumn("t2",
        min(when(col("event_type") === "purchase" &&
          col("ts") > col("t1") && col("ts") <= col("t0") + win, col("ts"))).over(wu))
    staged.groupBy(col("user_id"))
      .agg(max(col("t0")).as("t0"), max(col("t1")).as("t1"), max(col("t2")).as("t2"))
      .select(col("user_id"),
        when(col("t2").isNotNull, 3).when(col("t1").isNotNull, 2)
          .when(col("t0").isNotNull, 1).otherwise(0).as("level"),
        when(col("t2").isNotNull,
          unix_micros(col("t2")) - unix_micros(col("t0"))).as("conv_us"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_users"),
        pround(sum(col("conv_us")).cast("double") /
          (lit(1e6) * count(col("conv_us"))), 2).as("avg_conv_secs"))
  }

  val windowFunnelSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
       |w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
       |         OVER (PARTITION BY user_id) AS t0 FROM e),
       |w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
       |           AND ts <= t0 + INTERVAL $FunnelWindowHours HOUR THEN ts END)
       |         OVER (PARTITION BY user_id) AS t1 FROM w0),
       |w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
       |           AND ts <= t0 + INTERVAL $FunnelWindowHours HOUR THEN ts END)
       |         OVER (PARTITION BY user_id) AS t2 FROM w1),
       |u AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
       |      FROM w2 GROUP BY 1),
       |lv AS (
       |  SELECT user_id,
       |    CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
       |         WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS level,
       |    CASE WHEN t2 IS NOT NULL THEN epoch_us(t2) - epoch_us(t0) END AS conv_us
       |  FROM u)
       |SELECT level, count(*)::BIGINT AS n_users,
       |  floor((sum(conv_us)::DOUBLE / (1e6 * count(conv_us))) * 100.0 + 0.5) / 100.0 AS avg_conv_secs
       |FROM lv GROUP BY level""".stripMargin

  val trendFitSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    count(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT min(d) AS d0 FROM daily),
      |m AS (
      |  SELECT event_type, count(*)::BIGINT AS n_days,
      |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
      |    sum(y * y)::BIGINT AS syy
      |  FROM (SELECT event_type, (d - d0)::BIGINT AS x, y FROM daily, d0)
      |  GROUP BY 1)
      |SELECT event_type, n_days,
      |  floor(((n_days*sxy - sx*sy)::DOUBLE
      |        / nullif(n_days*sxx - sx*sx, 0)) * 1000000.0 + 0.5) / 1000000.0 AS slope,
      |  floor(((sy - (n_days*sxy - sx*sy)::DOUBLE
      |               / nullif(n_days*sxx - sx*sx, 0) * sx) / n_days)
      |        * 1000000.0 + 0.5) / 1000000.0 AS intercept,
      |  floor(((n_days*sxy - sx*sy)::DOUBLE * (n_days*sxy - sx*sy)
      |        / (nullif(n_days*sxx - sx*sx, 0)::DOUBLE
      |           * nullif(n_days*syy - sy*sy, 0))) * 1000000.0 + 0.5) / 1000000.0 AS r2
      |FROM m""".stripMargin

  /** K182: MANN-KENDALL TREND TEST — the nonparametric monotone-trend
    * test (Mann, Econometrica 1945; Kendall's τ reading) over the
    * same per-type daily series [[trendFit]] fits by OLS: S =
    * Σ_{i<j} sgn(y_j − y_i) over time-ordered day pairs, the
    * tie-corrected variance (×18 so it stays an exact BIGINT:
    * var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over tied-value
    * groups), the continuity-corrected z = (S − sgn S)/√(var18/18),
    * and τ_b = S/√((P − T)·P) with P = n(n−1)/2, T = Σ t(t−1)/2.
    * OLS answers "what line"; Mann-Kendall answers "is there a
    * monotone trend AT ALL" — distribution-free, outlier-immune,
    * the standard pairing in drift monitoring. S, n, var18 are
    * exact integers; z/τ are the only doubles (sqrt/divide on
    * identical integers + [[pround]], the trendFit posture).
    *
    * Shape: ONE events scan collapses to the (type, day) frame —
    * everything after is TIME-SPAN-bound, not corpus-bound: the
    * pair self-join is days²/2 per type (~50M pairs per type at 27
    * daily years; pre-bucket to weeks past that), broadcast-joined
    * tie/size rollups, a ≤types-row result. */
  def mannKendall(s: SparkSession, dir: String): DataFrame =
    mkFromDaily(events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("y"))
      .localCheckpoint()) // read three ways: pair lo, pair hi, ties

  /** [[mannKendall]]'s test statistics over a prepared (event_type,
    * d, y) series frame — factored so specs can plant series. */
  private[graft] def mkFromDaily(daily: DataFrame): DataFrame = {
    val pairs = daily.select(col("event_type"), col("d").as("dl"), col("y").as("yl"))
      .join(daily.select(col("event_type"), col("d").as("dh"), col("y").as("yh")),
        Seq("event_type"))
      .where(col("dl") < col("dh"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("yh") > col("yl"), 1L)
        .when(col("yh") < col("yl"), -1L).otherwise(0L)).as("s"))
    val m = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie18"),
        sum(col("t") * (col("t") - 1L)).as("tie2x"))
    val joined = m.join(pairs, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("s"), lit(0L)).as("s"),
        (col("n_days") * (col("n_days") - 1L) * (lit(2L) * col("n_days") + 5L)
          - col("tie18")).as("var18"),
        expr("n_days * (n_days - 1) div 2").as("p"),
        expr("tie2x div 2").as("tt"))
    val sgnS = when(col("s") > 0, 1L).when(col("s") < 0, -1L).otherwise(0L)
    val zden = sqrt(when(col("var18") === 0L, lit(null))
      .otherwise(col("var18")).cast("double") / 18.0)
    val tden = sqrt(when((col("p") - col("tt")) * col("p") === 0L, lit(null))
      .otherwise((col("p") - col("tt")) * col("p")).cast("double"))
    joined.select(col("event_type"), col("n_days"), col("s"), col("var18"),
      pround((col("s") - sgnS).cast("double") / zden, 6).as("z"),
      pround(col("s").cast("double") / tden, 6).as("tau_b"))
  }

  val mannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    count(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT lo.event_type,
      |    sum(CASE WHEN hi.y > lo.y THEN 1 WHEN hi.y < lo.y THEN -1
      |        ELSE 0 END)::BIGINT AS s
      |  FROM daily lo JOIN daily hi
      |    ON lo.event_type = hi.event_type AND lo.d < hi.d
      |  GROUP BY 1),
      |m AS (
      |  SELECT event_type, sum(t)::BIGINT AS n_days,
      |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18,
      |    sum(t * (t - 1))::BIGINT AS tie2x
      |  FROM (SELECT event_type, y, count(*)::BIGINT AS t
      |        FROM daily GROUP BY 1, 2) GROUP BY 1),
      |j AS (
      |  SELECT m.event_type, m.n_days, coalesce(p.s, 0)::BIGINT AS s,
      |    (m.n_days * (m.n_days - 1) * (2 * m.n_days + 5) - m.tie18)::BIGINT
      |      AS var18,
      |    (m.n_days * (m.n_days - 1) // 2)::BIGINT AS pp,
      |    (m.tie2x // 2)::BIGINT AS tt
      |  FROM m LEFT JOIN pairs p ON m.event_type = p.event_type)
      |SELECT event_type, n_days, s, var18,
      |  floor(((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
      |         ::DOUBLE / sqrt(nullif(var18, 0)::DOUBLE / 18.0))
      |        * 1000000.0 + 0.5) / 1000000.0 AS z,
      |  floor((s::DOUBLE / sqrt(nullif((pp - tt) * pp, 0)::DOUBLE))
      |        * 1000000.0 + 0.5) / 1000000.0 AS tau_b
      |FROM j""".stripMargin

  /** [[kaplanMeier]] conventions: subjects are SESSIONS (the B6
    * 30-min-gap sessionization, [[KmGapSecs]] shared verbatim), not
    * users — the events corpus spans 30 fully-active days at every
    * SF, so user-grain lifetimes are vacuous (nobody churns), while
    * session durations genuinely vary and the horizon genuinely
    * right-censors still-open sessions. A session whose last event
    * is within [[KmGapSecs]] of the corpus horizon may still be
    * running → censored; any other session observably ENDED (its
    * next event would have started a new session) → the duration is
    * a complete observation. Durations bucket to [[KmStepSecs]]
    * steps; survival lives on the ×[[KmScale]] (ppb) lattice. */
  val KmGapSecs = 1800L
  val KmStepSecs = 300L
  val KmScale = 1000000000L

  /** K183: KAPLAN-MEIER SURVIVAL CURVE — the product-limit estimator
    * (Kaplan & Meier, JASA 1958) over session durations:
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i), the standard answer to "how
    * long does a session last" that a naive duration histogram gets
    * wrong by ignoring RIGHT-CENSORING (a session still open at the
    * corpus horizon hasn't ended — dropping or death-marking it
    * both bias the curve; censoring is exactly what K-M exists
    * for). Observation rules per [[KmGapSecs]]. The running product
    * is the one NON-order-free computation in the family — an
    * ordered integer fold on the ×[[KmScale]] lattice (s_k =
    * s_{k−1}·(n_k−d_k) div n_k, floor each step): Spark folds with
    * `aggregate` over the sorted step array (B² lambda ops on a
    * B ≈ duration-range/[[KmStepSecs]]-row frame, one executor
    * row), DuckDB with a recursive CTE over the same steps —
    * identical integer ops in identical order, so the curve is
    * engine-exact. Lattice bound: s·n ≤ 10⁹·n_sessions needs
    * n_sessions < 9.2·10⁹ (BIGINT) — document, don't widen past any
    * real session population.
    *
    * Shape: ONE events scan → the B6 user_id-windowed session
    * assembly (one exchange) → per-session min/max (map-side
    * combine) → the LATTICE-bound steps frame (≤ range/step rows;
    * the single-partition window + fold run on that tiny frame,
    * never on N rows). */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame =
    kmFromDurations(sessionDurations(s, dir))

  /** The (died, t) observation frame shared by the survival pair
    * (K183 [[kaplanMeier]], K186 [[nelsonAalen]]): B6 session
    * assembly → per-session duration step + censoring flag. */
  private[graft] def sessionDurations(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSess = when(col("ts").cast("long")
      - lag(col("ts"), 1).over(byUser).cast("long") > KmGapSecs, 1)
      .otherwise(0)
    val sess = events(s, dir)
      .withColumn("new_sess", newSess)
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("t1"))
    val h = sess.agg(max(col("t1")).as("h"))
    sess.crossJoin(broadcast(h))
      .select(
        when(col("h") - col("t1") > KmGapSecs, 1L).otherwise(0L).as("died"),
        expr(s"(t1 - t0) div $KmStepSecs").as("t"))
  }

  /** [[kaplanMeier]]'s estimator over a prepared (died, t)
    * observation frame — factored so specs can plant censoring
    * patterns and replay the product limit by hand. */
  private[graft] def kmFromDurations(durs: DataFrame): DataFrame = {
    val steps = durs.groupBy(col("t"))
      .agg(sum(col("died")).as("d"), sum(lit(1L) - col("died")).as("c"))
    // suffix sum = at-risk count; the frame is span-bound, so the
    // single-partition global window is a ≤hundreds-row sort
    val atRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    steps.withColumn("n_risk", sum(col("d") + col("c")).over(atRisk))
      .agg(sort_array(collect_list(
        struct(col("t"), col("n_risk"), col("d"), col("c")))).as("arr"))
      .select(expr(
        s"""inline(transform(arr, (x, k) -> struct(
           |  x.t AS t_step, x.n_risk AS n_risk, x.d AS d, x.c AS c,
           |  aggregate(slice(arr, 1, k + 1), CAST($KmScale AS BIGINT),
           |    (acc, y) -> acc * (y.n_risk - y.d) div y.n_risk)
           |    AS surv_ppb)))""".stripMargin))
  }

  /** The CTE chain from raw events to the at-risk step table
    * `wn(t, d, c, n_risk, rn)` — the shared oracle prefix of the
    * survival pair (K183/K186). */
  private[graft] val kmStepsCte: String =
    s"""e AS (
       |  SELECT user_id, event_id,
       |    -- floor, not ::BIGINT: duckdb rounds double->int, Spark's
       |    -- timestamp->long cast truncates; fully-integer seconds
       |    -- make the whole session assembly exact (vs B6's
       |    -- double-epoch gap compare)
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
       |  FROM events),
       |marks AS (
       |  SELECT user_id, t, event_id,
       |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id
       |      ORDER BY t, event_id) > $KmGapSecs THEN 1 ELSE 0 END AS ns
       |  FROM e),
       |sess AS (
       |  SELECT user_id,
       |    sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid, t
       |  FROM marks),
       |spans AS (
       |  SELECT user_id, sid, min(t)::BIGINT AS t0, max(t)::BIGINT AS t1
       |  FROM sess GROUP BY 1, 2),
       |h AS (SELECT max(t1) AS h FROM spans),
       |durs AS (
       |  SELECT CASE WHEN h - t1 > $KmGapSecs THEN 1 ELSE 0 END::BIGINT
       |      AS died,
       |    ((t1 - t0) // $KmStepSecs)::BIGINT AS t
       |  FROM spans, h),
       |steps AS (
       |  SELECT t, sum(died)::BIGINT AS d, sum(1 - died)::BIGINT AS c
       |  FROM durs GROUP BY 1),
       |wn AS (
       |  SELECT t, d, c,
       |    sum(d + c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW)::BIGINT AS n_risk,
       |    row_number() OVER (ORDER BY t)::BIGINT AS rn
       |  FROM steps)""".stripMargin

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE $kmStepsCte,
       |rec(rn, s) AS (
       |  SELECT rn, $KmScale * (n_risk - d) // n_risk FROM wn WHERE rn = 1
       |  UNION ALL
       |  SELECT w.rn, r.s * (w.n_risk - w.d) // w.n_risk
       |  FROM rec r JOIN wn w ON w.rn = r.rn + 1)
       |SELECT w.t AS t_step, w.n_risk, w.d, w.c, r.s::BIGINT AS surv_ppb
       |FROM wn w JOIN rec r ON w.rn = r.rn""".stripMargin

  /** K186: NELSON-AALEN CUMULATIVE HAZARD — the other classical
    * survival estimator (Nelson 1972, Technometrics; Aalen 1978,
    * Ann. Stat.): H(t) = Σ_{t_i ≤ t} d_i/n_i over the SAME at-risk
    * step table as K183 ([[sessionDurations]] shared verbatim, same
    * censoring rules), plus its variance Σ d_i/n_i² (the standard
    * large-sample form). Where K-M multiplies survival factors —
    * forcing the ordered fold / recursive CTE — the hazard SUMS, so
    * N-A is fully order-free: each step's hazard pre-floors to ppm
    * (d·10⁶ div n, the per-step lattice convention; no common
    * denominator exists since n varies) and the cumulative is one
    * window sum of exact BIGINTs. The pair is deliberately
    * complementary: exp(−H) estimates S (Fleming-Harrington), and a
    * spec pins the lattice inequality surv ≤ exp-style bound via
    * the algebraic 1−x ≤ each factor relation — concretely,
    * cum_hazard grows exactly where surv drops.
    *
    * Shape: identical to K183 minus the fold — one events scan, one
    * user_id exchange, a lattice-bound steps frame, one tiny-frame
    * window. Variance lattice: d·10¹² div n² needs n² ≤ 9.2·10¹⁸ ⇒
    * exact to ~3·10⁹ sessions; the div runs DECIMAL(38)/HUGEINT so
    * past that it degrades to 0 rather than wrapping. */
  def nelsonAalen(s: SparkSession, dir: String): DataFrame =
    naFromDurations(sessionDurations(s, dir))

  /** [[nelsonAalen]]'s estimator over a prepared (died, t) frame —
    * factored like [[kmFromDurations]] for planted-frame specs. */
  private[graft] def naFromDurations(durs: DataFrame): DataFrame = {
    val steps = durs.groupBy(col("t"))
      .agg(sum(col("died")).as("d"), sum(lit(1L) - col("died")).as("c"))
    val atRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    steps.withColumn("n_risk", sum(col("d") + col("c")).over(atRisk))
      .withColumn("hazard_ppm", expr("d * 1000000 div n_risk"))
      .withColumn("var_step", expr("CAST(CAST(d AS DECIMAL(38,0)) * " +
        "1000000000000 div (CAST(n_risk AS DECIMAL(38,0)) * n_risk) " +
        "AS BIGINT)"))
      .select(col("t").as("t_step"), col("n_risk"), col("d"), col("c"),
        col("hazard_ppm"),
        sum(col("hazard_ppm")).over(cum).as("cum_hazard_ppm"),
        sum(col("var_step")).over(cum).as("cum_var_ppt"))
  }

  val nelsonAalenSql: String =
    s"""WITH $kmStepsCte
       |SELECT t AS t_step, n_risk, d, c,
       |  (d * 1000000 // n_risk)::BIGINT AS hazard_ppm,
       |  (sum(d * 1000000 // n_risk) OVER w)::BIGINT AS cum_hazard_ppm,
       |  (sum(d::HUGEINT * 1000000000000 // (n_risk::HUGEINT * n_risk))
       |    OVER w)::BIGINT AS cum_var_ppt
       |FROM wn
       |WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
       |  AND CURRENT ROW)""".stripMargin

  /** [[shapleyAttribution]] channel registry: the non-purchase event
    * types, alphabetical, bit i = 2^i — a session's touched-set is
    * the OR of its channels' bits; conversion = any purchase in the
    * session. n = 4 channels ⇒ a 16-coalition lattice. */
  val ShapChannels: Seq[(String, Long)] =
    Seq("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)

  /** K185: SHAPLEY MULTI-TOUCH ATTRIBUTION — the cooperative-game
    * credit split (Shapley 1953; the simplified coalition-worth
    * reading for channel attribution of Zhao, Mahboobi & Bagheri,
    * arXiv:1804.05327): φ_i = Σ_{S ∌ i} |S|!(n−1−|S|)!/n! ·
    * (v(S∪i) − v(S)), with coalition worth v(S) = conversion rate of
    * sessions whose touched channel set is EXACTLY S. Completes the
    * attribution family: last-touch (K141) credits one touchpoint,
    * linear (K158) splits evenly — Shapley is the axiomatic split
    * (efficiency/symmetry/dummy), the only one where a channel that
    * never changes outcomes provably gets zero. Journeys = B6
    * sessions ([[KmGapSecs]] assembly shared with K183); the game
    * runs over TOUCHED journeys only — purchase-only sessions are
    * organic conversions (their mask is ∅ and their conv flag is 1
    * by construction), so v(∅) ≡ 0 rather than the tautological 1
    * that would bill every channel for diluting it. Exact algebra:
    * v_ppm = conv·10⁶ div tot per observed mask (absent masks worth
    * 0); φ is published ×n! (phi_x24 = Σ
    * |S|!(n−1−|S|)!·(v_ppm(S∪i)−v_ppm(S)), an exact BIGINT on the
    * ppm/24 lattice) plus phi_ppm = phi_x24 div 24 (truncation
    * parity: both engines' integral division truncates toward
    * zero). Efficiency identity Σ_i phi_x24 = 24·v_ppm(full) holds
    * EXACTLY on the lattice — the spec's invariant.
    *
    * Shape: one events scan → the B6 user_id exchange → per-session
    * bit_or mask + conv flag (map-side combine) → a ≤2ⁿ-row mask
    * frame; the Shapley enumeration is a broadcast join of the
    * GENERATED 16-row coalition lattice against channels (n·2ⁿ⁻¹ =
    * 32 terms) — corpus work is one sessionization, lattice work is
    * constant. */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame =
    shapleyFromMasks(s, journeyMasks(s, dir))

  /** The touched-mask frame (mask, tot, v_ppm) over B6 sessions —
    * [[shapleyAttribution]]'s corpus half, factored for specs. */
  private[graft] def journeyMasks(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSess = when(col("ts").cast("long")
      - lag(col("ts"), 1).over(byUser).cast("long") > KmGapSecs, 1)
      .otherwise(0)
    val chanBit = ShapChannels.foldLeft(lit(0L)) { case (acc, (nm, b)) =>
      when(col("event_type") === nm, lit(b)).otherwise(acc)
    }
    events(s, dir)
      .withColumn("new_sess", newSess)
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(expr(s"bit_or(CAST(${chanToSql("event_type")} AS BIGINT))").as("mask"),
        max((col("event_type") === "purchase").cast("long")).as("conv"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("tot"), sum(col("conv")).as("conv"))
      // mask 0 = purchase-only ORGANIC sessions: conv = 1 there by
      // construction (the only event type left IS purchase), so
      // keeping them would set v(∅) = 1 tautologically and bill
      // every channel for diluting it — the game is over touched
      // journeys only, v(∅) ≡ 0 (the dummy/organic convention)
      .where(col("mask") =!= 0L)
      .select(col("mask"), col("tot"),
        expr("conv * 1000000 div tot").as("v_ppm"))
      .localCheckpoint() // ≤ 15 rows; read by both lattice legs
  }

  /** The 2ⁿ-coalition Shapley enumeration over a prepared (mask,
    * tot, v_ppm) worth frame — [[shapleyAttribution]]'s lattice
    * half, factored so specs can plant worth tables. */
  private[graft] def shapleyFromMasks(s: SparkSession, masks: DataFrame): DataFrame = {
    import s.implicits._
    val lattice = s.range(1 << ShapChannels.size).toDF("sm")
    val chans = ShapChannels.toDF("channel", "bit")
    val fact = "CASE bit_count(sm) WHEN 0 THEN 6 WHEN 1 THEN 2" +
      " WHEN 2 THEN 2 ELSE 6 END" // |S|!·(n−1−|S|)! for n = 4
    lattice.crossJoin(chans)
      .where(expr("(sm & bit) = 0"))
      .join(broadcast(masks.select(col("mask"), col("v_ppm").as("v_s"))),
        col("sm") === col("mask"), "left_outer")
      .join(broadcast(masks.select(col("mask").as("mask2"), col("tot"),
        col("v_ppm").as("v_si"))),
        expr("(sm | bit) = mask2"), "left_outer")
      .groupBy(col("channel"))
      .agg(sum(coalesce(col("tot"), lit(0L))).as("n_sessions_gaining"),
        sum(expr(s"$fact * (coalesce(v_si, 0L) - coalesce(v_s, 0L))"))
          .as("phi_x24"))
      .select(col("channel"), col("n_sessions_gaining"), col("phi_x24"),
        expr("phi_x24 div 24").as("phi_ppm"))
  }

  /** The channel→bit CASE as SQL text, shared verbatim by the Spark
    * plan (via expr) and the DuckDB oracle. */
  private def chanToSql(c: String): String =
    ShapChannels.map { case (nm, b) => s"WHEN '$nm' THEN ${b}" }
      .mkString(s"CASE $c ", " ", " ELSE 0 END")

  lazy val shapleyAttributionSql: String =
    s"""WITH marks AS (
       |  SELECT user_id, event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
       |    event_id
       |  FROM events),
       |g AS (
       |  SELECT user_id, event_type, t, event_id,
       |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id
       |      ORDER BY t, event_id) > $KmGapSecs THEN 1 ELSE 0 END AS ns
       |  FROM marks),
       |sess AS (
       |  SELECT user_id, event_type,
       |    sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g),
       |j AS (
       |  SELECT user_id, sid,
       |    bit_or(${chanToSql("event_type")})::BIGINT AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |      AS conv
       |  FROM sess GROUP BY 1, 2),
       |masks AS (
       |  SELECT mask, count(*)::BIGINT AS tot,
       |    (sum(conv) * 1000000 // count(*))::BIGINT AS v_ppm
       |  FROM j WHERE mask <> 0 GROUP BY 1),
       |chans AS (SELECT * FROM (VALUES ${ShapChannels.map {
      case (nm, b) => s"('$nm', ${b}::BIGINT)"
    }.mkString(", ")}) AS t(channel, bit)),
       |lattice AS (SELECT range::BIGINT AS sm FROM range(${1 << ShapChannels.size}))
       |SELECT c.channel,
       |  sum(coalesce(mi.tot, 0))::BIGINT AS n_sessions_gaining,
       |  sum((CASE bit_count(l.sm) WHEN 0 THEN 6 WHEN 1 THEN 2
       |       WHEN 2 THEN 2 ELSE 6 END)
       |      * (coalesce(mi.v_ppm, 0) - coalesce(ms.v_ppm, 0)))::BIGINT
       |    AS phi_x24,
       |  (sum((CASE bit_count(l.sm) WHEN 0 THEN 6 WHEN 1 THEN 2
       |        WHEN 2 THEN 2 ELSE 6 END)
       |       * (coalesce(mi.v_ppm, 0) - coalesce(ms.v_ppm, 0))) // 24)::BIGINT
       |    AS phi_ppm
       |FROM lattice l JOIN chans c ON (l.sm & c.bit) = 0
       |LEFT JOIN masks ms ON ms.mask = l.sm
       |LEFT JOIN masks mi ON mi.mask = (l.sm | c.bit)
       |GROUP BY c.channel""".stripMargin

  /** [[markovAttribution]] step budget: journeys are truncated at
    * [[MkSteps]] chain steps (START + touches + absorption); mass
    * not absorbed by then is dropped — identically in both engines.
    * Sessions here are short (median 1 touch), so the truncation
    * dust is ppm-scale; the documented swap point for an exact
    * absorbing-chain solve. */
  val MkSteps = 8

  /** K187: MARKOV REMOVAL-EFFECT ATTRIBUTION — the first-order
    * Markov-chain attribution of Anderl, Becker, von Wangenheim &
    * Schumann (IJRM 2016): model journeys as a chain over states
    * {START, channels…, CONV, NULL}, estimate transition
    * probabilities from observed consecutive touches, and credit
    * channel i by its REMOVAL EFFECT — how much the chain's
    * conversion probability drops when every transition into i is
    * redirected to NULL. The fourth attribution lens: last-touch
    * (K141) is positional, linear (K158) egalitarian, Shapley
    * (K185) set-based — Markov is the only SEQUENCE-based one
    * (channel order matters; a channel that only ever precedes
    * dead-ends earns nothing even if it co-occurs with
    * conversions). Journey = the B6 session's non-purchase touches
    * in (ts, event_id) order, truncated at the first purchase,
    * absorbed into CONV (purchase) or NULL. Exact algebra: all five
    * chain variants (full + one per removed channel) live in ONE
    * variant-keyed transition frame (≤ 5·7² count rows,
    * corpus-size-free after one aggregation); absorption is
    * [[MkSteps]] unrolled mass-propagation steps on the ppm lattice
    * (mass·c div r per edge, floors and all — CONV/NULL self-loop
    * with c = r = 1 so absorbed mass holds). removal_ppm = p_full −
    * p_removed; share_pm normalizes over channels (div, truncation
    * parity as K185).
    *
    * Shape: one events scan → the B6 user exchange → transition
    * counts (map-side combine) → everything after runs on the
    * ≤ 5·49-row lattice: K tiny join+agg steps, no corpus-sized
    * frame ever re-touched. */
  def markovAttribution(s: SparkSession, dir: String): DataFrame =
    removalEffects(s, transitionCounts(s, dir))

  /** The removal-effect chain algebra over a prepared (src, dst, c)
    * frame — [[markovAttribution]]'s lattice half, factored so specs
    * can plant chains. The variant-keyed transition matrix is
    * ≤ 5·(channels+3)² rows BY CONSTRUCTION, corpus-size-free after
    * [[transitionCounts]]'s one aggregation, so it is collected and
    * the [[MkSteps]] mass-propagation steps run as a constant-size
    * local loop (the bounded-collect convention: kcenter's K-round
    * argmax, pca_power's d² Gram). The relational form scheduled 8
    * sequential join+aggregate stage barriers over ≤ 255-row frames —
    * pure machinery at any scale (OPTIMIZATION_r13.md §4). Arithmetic
    * is the identical ppm-lattice integer chain (mass·c div r,
    * non-negative longs), so rows match the oracle bit-for-bit:
    * builds the redirected variants, runs the chain steps locally,
    * returns the 4-row report. */
  private[graft] def removalEffects(s: SparkSession,
                                    trans: DataFrame): DataFrame = {
    import s.implicits._
    val base = trans.collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"),
        r.getAs[Long]("c")))
    val variants = "full" +: ShapChannels.map(_._1)
    // per variant: redirect transitions INTO the removed channel to
    // NULL, drop rows OUT of it, add the CONV/NULL self-loops, then
    // r = per-src row sum — the exact relational algebra, locally
    val pByVariant: Map[String, Map[(String, String), (Long, Long)]] =
      variants.map { v =>
        val redirected = base
          .filter { case (src, _, _) => v == "full" || src != v }
          .map { case (src, dst, c) =>
            ((src, if (v != "full" && dst == v) "NULL" else dst), c)
          }
        val merged = (redirected ++ Seq((("CONV", "CONV"), 1L), (("NULL", "NULL"), 1L)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val rBySrc = merged.toSeq.groupBy(_._1._1).view
          .mapValues(_.map(_._2).sum).toMap
        v -> merged.map { case ((src, dst), c) => (src, dst) -> (c, rBySrc(src)) }
      }.toMap
    val pConv: Map[String, Long] = variants.map { v =>
      val edges = pByVariant(v).toSeq
        .map { case ((src, dst), (c, r)) => (src, dst, c, r) }
      var mass = Map("START" -> 1000000L)
      for (_ <- 1 to MkSteps) {
        mass = edges.flatMap { case (src, dst, c, r) =>
          mass.get(src).map(m => dst -> m * c / r)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      }
      v -> mass.getOrElse("CONV", 0L)
    }.toMap
    val pFull = pConv("full")
    val rem = ShapChannels.map(_._1)
      .map(ch => (ch, pFull, pConv(ch), pFull - pConv(ch)))
    val totRem = rem.map(_._4).sum
    val out = rem.map { case (ch, pf, pr, d) =>
      (ch, pf, pr, d, if (totRem == 0L) 0L else d * 1000 / totRem)
    }
    out.toDF("channel", "p_full_ppm", "p_removed_ppm", "removal_ppm",
      "share_pm")
  }

  /** The observed (src, dst, c) transition-count frame over B6
    * session journeys — [[markovAttribution]]'s corpus half. */
  private[graft] def transitionCounts(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSess = when(col("ts").cast("long")
      - lag(col("ts"), 1).over(byUser).cast("long") > KmGapSecs, 1)
      .otherwise(0)
    val e = events(s, dir)
      .withColumn("new_sess", newSess)
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("sess_id"), col("ts"), col("event_id"),
        col("event_type"))
    val bySess = Window.partitionBy(col("user_id"), col("sess_id"))
    val ordSess = bySess.orderBy(col("ts"), col("event_id"))
    val fp = e.withColumn("is_p", col("event_type") === "purchase")
      .withColumn("fp_ts", min(when(col("is_p"), col("ts"))).over(bySess))
      .withColumn("fp_id", min(when(col("is_p") &&
        col("ts") === col("fp_ts"), col("event_id"))).over(bySess))
    val touches = fp
      .where(!col("is_p") && (col("fp_ts").isNull ||
        col("ts") < col("fp_ts") ||
        (col("ts") === col("fp_ts") && col("event_id") < col("fp_id"))))
      .withColumn("src", coalesce(lag(col("event_type"), 1).over(ordSess),
        lit("START")))
      .select(col("user_id"), col("sess_id"), col("src"),
        col("event_type").as("dst"),
        col("ts"), col("event_id"))
    val lastTouch = touches
      .withColumn("rn", row_number().over(
        bySess.orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("sess_id"), col("dst").as("src"))
    val sessOutcome = fp.groupBy(col("user_id"), col("sess_id"))
      .agg(max(col("is_p").cast("long")).as("conv"))
    // terminal transition: last pre-purchase touch (or START for
    // touchless sessions) → CONV / NULL; touch count uses the SAME
    // pre-purchase filter as `touches` via a left join on lastTouch
    val terminal = sessOutcome
      .join(lastTouch, Seq("user_id", "sess_id"), "left_outer")
      .select(coalesce(col("src"), lit("START")).as("src"),
        when(col("conv") === 1L, "CONV").otherwise("NULL").as("dst"))
    touches.select(col("src"), col("dst"))
      .unionByName(terminal)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ 7² rows — the corpus collapses here
  }

  lazy val markovAttributionSql: String = {
    val chanList = ShapChannels.map { case (nm, _) => s"('$nm')" }.mkString(", ")
    val steps = (1 to MkSteps).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""v$i AS (
         |  SELECT p.variant, p.dst AS state,
         |    sum(v.mass * p.c // p.r)::BIGINT AS mass
         |  FROM $prev v JOIN p ON v.variant = p.variant AND v.state = p.src
         |  GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
       |  FROM events),
       |g AS (
       |  SELECT *, CASE WHEN t - lag(t) OVER (PARTITION BY user_id
       |    ORDER BY t, event_id) > $KmGapSecs THEN 1 ELSE 0 END AS ns
       |  FROM e),
       |se AS (
       |  SELECT user_id, event_id, event_type, t,
       |    sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM g),
       |fp AS (
       |  SELECT *,
       |    min(CASE WHEN event_type = 'purchase' THEN t END)
       |      OVER (PARTITION BY user_id, sid) AS fp_t,
       |  FROM se),
       |fp2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t = fp_t
       |    THEN event_id END) OVER (PARTITION BY user_id, sid) AS fp_id
       |  FROM fp),
       |touches AS (
       |  SELECT user_id, sid, t, event_id,
       |    coalesce(lag(event_type) OVER (PARTITION BY user_id, sid
       |      ORDER BY t, event_id), 'START') AS src,
       |    event_type AS dst
       |  FROM fp2
       |  WHERE event_type <> 'purchase' AND (fp_t IS NULL OR t < fp_t
       |    OR (t = fp_t AND event_id < fp_id))),
       |last_touch AS (
       |  SELECT user_id, sid, dst AS src FROM (
       |    SELECT user_id, sid, dst, row_number() OVER (
       |      PARTITION BY user_id, sid ORDER BY t DESC, event_id DESC) AS rn
       |    FROM touches) WHERE rn = 1),
       |outcome AS (
       |  SELECT user_id, sid,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM se GROUP BY 1, 2),
       |terminal AS (
       |  SELECT coalesce(lt.src, 'START') AS src,
       |    CASE WHEN o.conv = 1 THEN 'CONV' ELSE 'NULL' END AS dst
       |  FROM outcome o LEFT JOIN last_touch lt USING (user_id, sid)),
       |trans AS (
       |  SELECT src, dst, count(*)::BIGINT AS c FROM (
       |    SELECT src, dst FROM touches UNION ALL SELECT src, dst FROM terminal)
       |  GROUP BY 1, 2),
       |variants AS (SELECT 'full' AS variant UNION ALL
       |  SELECT col0 FROM (VALUES $chanList)),
       |redirected AS (
       |  SELECT v.variant, t.src,
       |    CASE WHEN v.variant <> 'full' AND t.dst = v.variant
       |      THEN 'NULL' ELSE t.dst END AS dst,
       |    sum(t.c)::BIGINT AS c
       |  FROM variants v CROSS JOIN trans t
       |  WHERE v.variant = 'full' OR t.src <> v.variant
       |  GROUP BY 1, 2, 3),
       |withloops AS (
       |  SELECT * FROM redirected
       |  UNION ALL
       |  SELECT v.variant, s.src, s.dst, s.c FROM variants v CROSS JOIN
       |    (SELECT 'CONV' AS src, 'CONV' AS dst, 1::BIGINT AS c
       |     UNION ALL SELECT 'NULL', 'NULL', 1) s),
       |p AS (
       |  SELECT variant, src, dst, c,
       |    sum(c) OVER (PARTITION BY variant, src)::BIGINT AS r
       |  FROM withloops),
       |v0 AS (SELECT variant, 'START' AS state, 1000000::BIGINT AS mass
       |       FROM variants),
       |$steps,
       |pconv AS (
       |  SELECT v.variant, coalesce(k.mass, 0)::BIGINT AS p_ppm
       |  FROM variants v LEFT JOIN
       |    (SELECT variant, mass FROM v$MkSteps WHERE state = 'CONV') k
       |    USING (variant)),
       |fullp AS (SELECT p_ppm AS p_full_ppm FROM pconv WHERE variant = 'full'),
       |rem AS (
       |  SELECT pc.variant AS channel, f.p_full_ppm,
       |    pc.p_ppm AS p_removed_ppm,
       |    (f.p_full_ppm - pc.p_ppm)::BIGINT AS removal_ppm
       |  FROM pconv pc CROSS JOIN fullp f WHERE pc.variant <> 'full'),
       |tot AS (SELECT sum(removal_ppm)::BIGINT AS tot_rem FROM rem)
       |SELECT channel, p_full_ppm, p_removed_ppm, removal_ppm,
       |  CASE WHEN tot_rem = 0 THEN 0
       |    ELSE removal_ppm * 1000 // tot_rem END::BIGINT AS share_pm
       |FROM rem CROSS JOIN tot""".stripMargin
  }

  /** Rolling-feature frame width for [[featureLags]]. */
  val FeatWin = 5

  /** K79: LAG/ROLLING FEATURE GENERATION — the per-entity training
    * features an ML pipeline derives from an event stream: previous
    * value, step delta, and a trailing [[FeatWin]]-row sum/mean per
    * user in event order. ONE user_id exchange feeds every window
    * (same frame family as H5's rolling_window — PlanSpec-style
    * single-exchange shape). events.value lives on a 2-decimal grid
    * (the Robust-family contract), so features compute on exact ×100
    * BIGINTs — lag, delta, and the sliding sum are integer-exact and
    * order-independent across engines; the only float op is the one
    * display division for the mean. Output is rows-scale (a feature
    * table, like H5), written back out as training input. */
  def featureLags(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRoll = w.rowsBetween(-(FeatWin - 1), 0)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("q"))
      .withColumn("lag1_q", lag(col("q"), 1).over(w))
      .withColumn("delta_q", col("q") - col("lag1_q"))
      .withColumn("rsum_q", sum(col("q")).over(wRoll))
      .withColumn("n_win", count(lit(1)).over(wRoll))
      .select(col("user_id"), col("event_id"), col("q"), col("lag1_q"),
        col("delta_q"), col("rsum_q"), col("n_win"),
        pround(col("rsum_q").cast("double") / col("n_win") / 100.0, 4).as("rmean"))
  }

  val featureLagsSql: String =
    s"""WITH q AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
       |  FROM events),
       |f AS (
       |  SELECT user_id, event_id, q,
       |    lag(q) OVER w AS lag1_q,
       |    q - lag(q) OVER w AS delta_q,
       |    sum(q) OVER (w ROWS BETWEEN ${FeatWin - 1} PRECEDING AND CURRENT ROW)
       |      ::BIGINT AS rsum_q,
       |    count(*) OVER (w ROWS BETWEEN ${FeatWin - 1} PRECEDING AND CURRENT ROW)
       |      ::BIGINT AS n_win
       |  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, event_id, q, lag1_q, delta_q, rsum_q, n_win,
       |  floor((rsum_q::DOUBLE / n_win / 100.0) * 10000.0 + 0.5) / 10000.0 AS rmean
       |FROM f""".stripMargin

  /** Expected-count scale for [[seasonality]]. */
  val SeasScale = 1000000L

  /** K83: DAY-OF-WEEK SEASONALITY — the calendar decomposition read
    * next to K69's linear trend: per day, the observed event count,
    * the day-of-week expected count (the dow's mean across the span),
    * and the residual — how a pipeline separates "it's Sunday" from
    * "something changed" before alerting on volume. Day-of-week is
    * PURE integer arithmetic (epoch-days mod 7 — engine-portable,
    * immune to locale week-start conventions), and the expected value
    * is an exact x[[SeasScale]] integer division, so residuals are
    * exact BIGINTs cross-engine. One daily pre-aggregate (map-side
    * combined), one 7-row profile broadcast back — the same plan at
    * any scale. */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(datediff(col("ts").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("epoch_day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow", pmod(col("epoch_day"), lit(7L)))
    val prof = daily.groupBy(col("dow"))
      .agg(sum(col("n_events")).as("sn"), count(lit(1)).as("nd"))
    daily.join(broadcast(prof), "dow")
      .select(col("epoch_day"), col("dow"), col("n_events"),
        expr(s"(sn * ${SeasScale}L) div nd").as("expected_q"),
        (col("n_events") * SeasScale - expr(s"(sn * ${SeasScale}L) div nd"))
          .as("resid_q"))
  }

  val seasonalitySql: String =
    s"""WITH daily AS (
       |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS epoch_day,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1),
       |d AS (SELECT *, epoch_day % 7 AS dow FROM daily),
       |prof AS (SELECT dow, sum(n_events)::BIGINT AS sn, count(*) AS nd
       |         FROM d GROUP BY 1)
       |SELECT epoch_day, d.dow, n_events,
       |  (sn * $SeasScale) // nd AS expected_q,
       |  n_events * $SeasScale - (sn * $SeasScale) // nd AS resid_q
       |FROM d JOIN prof ON d.dow = prof.dow""".stripMargin

  /** K86: A/B EXPERIMENT LIFT — the two-proportion read-out every
    * product experiment ends with: users split by a deterministic
    * assignment hash (user_id parity — the bucketing an experiment
    * framework would persist), exposure = has a `view` event,
    * conversion = a `purchase` STRICTLY after the first view (H3's
    * first-touch rule), reduced to one row of exact BIGINT counts
    * plus the derived rates, relative lift, and the pooled
    * two-proportion z statistic. Every count is exact; the floats
    * (rates, lift, z) are computed from those exact integers in the
    * SAME expression shape on both engines — IEEE division/sqrt of
    * identical inputs is bit-identical, the emb_centroid_drift
    * convention. Shape: one user_id-keyed exposure aggregate, one
    * co-partitioned purchase join, one 2-row combining aggregate,
    * then a 1-row pivot — shuffle ∝ distinct users, constant output
    * at any corpus scale. */
  def abLift(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .select(col("user_id")).distinct().withColumn("c", lit(1L))
    val byVariant = v.join(conv, Seq("user_id"), "left_outer")
      .groupBy(pmod(col("user_id"), lit(2L)).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("c"), lit(0L))).as("n_conv"))
    val one = byVariant.agg(
      max(when(col("variant") === 0, col("n_users"))).as("n_a"),
      max(when(col("variant") === 0, col("n_conv"))).as("conv_a"),
      max(when(col("variant") === 1, col("n_users"))).as("n_b"),
      max(when(col("variant") === 1, col("n_conv"))).as("conv_b"))
    one.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      pround(col("conv_a").cast("double") / col("n_a"), 6).as("rate_a"),
      pround(col("conv_b").cast("double") / col("n_b"), 6).as("rate_b"),
      expr("floor((CAST(conv_b * n_a AS DOUBLE) / nullif(conv_a * n_b, 0)" +
        " - 1.0) * 1e6 + 0.5) / 1e6").as("lift"),
      expr("floor(((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)" +
        " / nullif(sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)" +
        " * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))" +
        " * (1.0 / n_a + 1.0 / n_b)), 0.0)) * 1e4 + 0.5) / 1e4").as("z"))
  }

  /** [[cupedLift]] period split: the experiment window opens
    * [[CupedSplitDay]] days after the first observed event day —
    * everything before is the pre-period the covariate reads from.
    * The events corpus spans 30 days at every SF, so 15/15. */
  val CupedSplitDay = 15

  /** K188: CUPED VARIANCE-REDUCED LIFT — Controlled-experiment
    * Using Pre-Experiment Data (Deng, Xu, Kohavi & Walker, WSDM
    * 2013), the industry-standard variance reduction for A/B
    * readouts: adjust each user's experiment metric y by their
    * pre-period metric x, ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x)
    * pooled across arms; randomization makes the adjustment
    * unbiased while removing the between-user variance x explains
    * (factor 1 − ρ²). K86 ab_lift reads the raw two-proportion
    * lift; this is its variance-reduced sibling on the value
    * metric, same user_id%2 assignment. The mean identity does the
    * heavy lifting: mean(ŷ|arm) = ȳ_arm − θ(x̄_arm − x̄), so
    * lift_cuped = (ȳ_T−ȳ_C) − θ(x̄_T−x̄_C) needs ONLY per-arm
    * first moments + pooled second moments — no per-user adjusted
    * column is ever materialized. Exactness: x/y live on the ×100
    * value lattice (the Robust-family contract), per-arm n/Σx/Σy
    * and pooled Σxx/Σxy/Σyy accumulate as DECIMAL(38)/HUGEINT
    * (order-free, exact at any user count); θ, lifts, and
    * 1−ρ² are the only doubles — identical IEEE algebra on
    * identical integers + [[pround]], the abLift posture.
    *
    * Shape: one events scan → one user_id-keyed (arm, x, y)
    * aggregate (map-side combine) → a 2-row arm rollup + a 1-row
    * pooled-moment rollup — shuffle ∝ distinct users, constant
    * output at any scale. */
  def cupedLift(s: SparkSession, dir: String): DataFrame = {
    val d0 = events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
    val users = events(s, dir).crossJoin(broadcast(d0))
      .select(col("user_id"),
        (datediff(to_date(col("ts")), col("d0")) < CupedSplitDay).as("pre"),
        floor(col("value") * 100 + 0.5).cast("long").as("vq"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("vq")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("vq")).otherwise(0L)).as("y"))
      .select(pmod(col("user_id"), lit(2L)).as("variant"), col("x"), col("y"))
    cupedFromUsers(users)
  }

  /** [[cupedLift]]'s moment algebra over a prepared (variant, x, y)
    * user frame — factored so specs can plant covariate patterns. */
  private[graft] def cupedFromUsers(users: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("y")) * col("y")).as("syy"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, dec(col("x")))
        .otherwise(dec(lit(0L)))).as("sx_a"),
      sum(when(col("variant") === 0, dec(col("y")))
        .otherwise(dec(lit(0L)))).as("sy_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, dec(col("x")))
        .otherwise(dec(lit(0L)))).as("sx_b"),
      sum(when(col("variant") === 1, dec(col("y")))
        .otherwise(dec(lit(0L)))).as("sy_b"))
    // θ = (n·Σxy − ΣxΣy)/(n·Σxx − Σx²); ρ² = cov²/(var_x·var_y);
    // lift_cuped = (ȳ_b − ȳ_a) − θ·(x̄_b − x̄_a) — the mean identity
    val theta = expr("CAST(n * sxy - sx * sy AS DOUBLE)" +
      " / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)")
    val liftRaw = expr("CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a")
    val dx = expr("CAST(sx_b AS DOUBLE) / n_b - CAST(sx_a AS DOUBLE) / n_a")
    val rho2 = expr("CAST(n * sxy - sx * sy AS DOUBLE)" +
      " * CAST(n * sxy - sx * sy AS DOUBLE)" +
      " / nullif(CAST(n * sxx - sx * sx AS DOUBLE)" +
      " * CAST(n * syy - sy * sy AS DOUBLE), 0.0)")
    m.select(col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
      pround(theta, 6).as("theta"),
      pround(liftRaw, 2).as("lift_raw_q"),
      pround(liftRaw - theta * dx, 2).as("lift_cuped_q"),
      pround(rho2, 6).as("var_reduction"))
  }

  lazy val cupedLiftSql: String =
    s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
       |u AS (
       |  SELECT user_id,
       |    sum(CASE WHEN CAST(ts AS DATE) - d0 < $CupedSplitDay
       |        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
       |      ::HUGEINT AS x,
       |    sum(CASE WHEN CAST(ts AS DATE) - d0 >= $CupedSplitDay
       |        THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
       |      ::HUGEINT AS y
       |  FROM events, d0 GROUP BY 1),
       |uu AS (SELECT user_id % 2 AS variant, x, y FROM u),
       |m AS (
       |  SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy,
       |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::HUGEINT AS n_a,
       |    sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS sx_a,
       |    sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS sy_a,
       |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::HUGEINT AS n_b,
       |    sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS sx_b,
       |    sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS sy_b
       |  FROM uu)
       |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
       |  floor(((n * sxy - sx * sy)::DOUBLE
       |    / nullif((n * sxx - sx * sx)::DOUBLE, 0.0)) * 1000000.0 + 0.5)
       |    / 1000000.0 AS theta,
       |  floor((sy_b::DOUBLE / n_b - sy_a::DOUBLE / n_a) * 100.0 + 0.5)
       |    / 100.0 AS lift_raw_q,
       |  floor(((sy_b::DOUBLE / n_b - sy_a::DOUBLE / n_a)
       |    - ((n * sxy - sx * sy)::DOUBLE
       |       / nullif((n * sxx - sx * sx)::DOUBLE, 0.0))
       |      * (sx_b::DOUBLE / n_b - sx_a::DOUBLE / n_a)) * 100.0 + 0.5)
       |    / 100.0 AS lift_cuped_q,
       |  floor(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)
       |    / nullif((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy), 0.0))
       |    * 1000000.0 + 0.5) / 1000000.0 AS var_reduction
       |FROM m""".stripMargin

  val abLiftSql: String =
    """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |conv AS (SELECT DISTINCT e.user_id, 1::BIGINT AS c
      |         FROM events e JOIN v ON e.user_id = v.user_id
      |         WHERE e.event_type = 'purchase'
      |           AND CAST(e.ts AS TIMESTAMP) > v.t_view),
      |byv AS (SELECT v.user_id % 2 AS variant, count(*)::BIGINT AS n_users,
      |          sum(coalesce(c.c, 0))::BIGINT AS n_conv
      |        FROM v LEFT JOIN conv c ON v.user_id = c.user_id GROUP BY 1),
      |one AS (SELECT
      |  max(CASE WHEN variant = 0 THEN n_users END) AS n_a,
      |  max(CASE WHEN variant = 0 THEN n_conv END) AS conv_a,
      |  max(CASE WHEN variant = 1 THEN n_users END) AS n_b,
      |  max(CASE WHEN variant = 1 THEN n_conv END) AS conv_b
      |  FROM byv)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  floor((conv_a::DOUBLE / n_a) * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
      |  floor((conv_b::DOUBLE / n_b) * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
      |  floor(((conv_b * n_a)::DOUBLE / nullif(conv_a * n_b, 0) - 1.0)
      |    * 1000000.0 + 0.5) / 1000000.0 AS lift,
      |  floor(((conv_b::DOUBLE / n_b - conv_a::DOUBLE / n_a)
      |    / nullif(sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b)
      |           * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
      |           * (1.0 / n_a + 1.0 / n_b)), 0.0)) * 10000.0 + 0.5) / 10000.0 AS z
      |FROM one""".stripMargin

  /** K131: TEMPORAL HOLDOUT AUDIT — the time-based train/test split
    * (cutoff at 4/5 of the observed time RANGE, exact integer epoch
    * seconds on both engines) with the USER-OVERLAP leakage read:
    * per event type, how many distinct users appear on BOTH sides of
    * the boundary — the standard eval-hygiene check for behavioral
    * models (a user seen in training whose later events are "test"
    * is memorization surface, the events-side analog of K130
    * split_leakage's near-dup contamination). Shape: a 1-row min/max
    * broadcast fixes the cutoff, ONE (type, user) combining
    * aggregate sides every event, one type-keyed rollup — shuffle
    * ∝ distinct (type, user), never events. */
  def timeSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"),
      col("ts").cast("long").as("t"))
    val mm = ev.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
    val sided = ev.crossJoin(broadcast(mm)) // 1-row scalar frame
      .withColumn("cut", expr("tmin + ((tmax - tmin) * 4) div 5"))
      .withColumn("is_train", col("t") <= col("cut"))
    val perUser = sided.groupBy(col("event_type"), col("user_id"))
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("ev_tr"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("ev_te"))
    perUser.groupBy(col("event_type"))
      .agg(sum(col("ev_tr")).as("n_events_train"),
        sum(col("ev_te")).as("n_events_test"),
        sum(when(col("ev_tr") > 0, 1L).otherwise(0L)).as("n_users_train"),
        sum(when(col("ev_te") > 0, 1L).otherwise(0L)).as("n_users_test"),
        sum(when(col("ev_tr") > 0 && col("ev_te") > 0, 1L).otherwise(0L))
          .as("n_users_both"))
      .withColumn("leak_pm",
        expr("(n_users_both * 1000000) div greatest(n_users_test, 1L)"))
  }

  val timeSplitSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
      |  FROM events),
      |mm AS (SELECT min(t) AS tmin, max(t) AS tmax FROM ev),
      |sided AS (
      |  SELECT event_type, user_id,
      |    t <= tmin + ((tmax - tmin) * 4) // 5 AS is_train
      |  FROM ev, mm),
      |pu AS (
      |  SELECT event_type, user_id,
      |    sum(CASE WHEN is_train THEN 1 ELSE 0 END)::BIGINT AS ev_tr,
      |    sum(CASE WHEN is_train THEN 0 ELSE 1 END)::BIGINT AS ev_te
      |  FROM sided GROUP BY 1, 2)
      |SELECT event_type,
      |  sum(ev_tr)::BIGINT AS n_events_train,
      |  sum(ev_te)::BIGINT AS n_events_test,
      |  sum(CASE WHEN ev_tr > 0 THEN 1 ELSE 0 END)::BIGINT AS n_users_train,
      |  sum(CASE WHEN ev_te > 0 THEN 1 ELSE 0 END)::BIGINT AS n_users_test,
      |  sum(CASE WHEN ev_tr > 0 AND ev_te > 0 THEN 1 ELSE 0 END)::BIGINT AS n_users_both,
      |  (sum(CASE WHEN ev_tr > 0 AND ev_te > 0 THEN 1 ELSE 0 END) * 1000000
      |     // greatest(sum(CASE WHEN ev_te > 0 THEN 1 ELSE 0 END), 1))::BIGINT AS leak_pm
      |FROM pu GROUP BY 1""".stripMargin

  /** [[seqPatterns]] minimum support, per-mille of sequences. */
  val SeqMinSupPm = 10L

  /** K174: SEQUENTIAL PATTERN MINING — frequent subsequences in the
    * PrefixSpan sense (Pei et al., ICDE 2001; the pattern-growth
    * test-of-time line): pattern ⟨a, b, c⟩ is supported by a user
    * iff the sequence contains a, then b, then c at strictly
    * increasing positions, any gaps — the ORDERED generalization of
    * K19 `itemsets` (co-occurrence, no order) and the unwindowed
    * sibling of K70 `window_funnel` (which demands the steps inside
    * one window). The sequence DATABASE is user-DAYS — the standard
    * sequence-mining unit choice is whatever bounds one behavioral
    * episode, and both extremes were MEASURED degenerate here: whole
    * user histories (~70 events over 5 types) saturate every pattern
    * at 1000‰ so order carries nothing, while B6's 30-min sessions
    * average ~2 events so the level-3 lattice is empty (max support
    * 1‰); user-days carry a real spread (level-3 survivors at every
    * SF, direction-asymmetric pairs — the §2 row records the
    * numbers). Levels 1–3 with support ≥ [[SeqMinSupPm]]‰ of
    * sequences. RELATIONAL FORM — PrefixSpan's projected databases
    * become occurrence-order algebra: with pos = the sequence's
    * (ts, event_id) row number,
    * ⟨a,b⟩ ⊑ seq ⟺ first(a) < last(b), and ⟨a,b,c⟩ ⊑ seq ⟺
    * min{pos(b) : pos(b) > first(a)} < last(c) — exists-semantics,
    * exact, and repeats fall out free (⟨a,a⟩ ⟺ first(a) < last(a)
    * ⟺ count ≥ 2). Every support an exact session count, one ‰
    * integer division.
    *
    * Shape: one per-(user, day) ordered window (partitions bounded
    * by events-per-user-day) → a sequences×T first/last frame (T =
    * distinct types) → per-sequence T²/T³ lattice joins — candidate
    * volume is sequences·T³, NEVER events², the bound that makes
    * pattern mining feasible at 100 TB (T is small for event
    * taxonomies). */
  def seqPatterns(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy(col("u"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val occ = events(s, dir)
      .withColumn("sid", date_trunc("day", col("ts")))
      .withColumnRenamed("user_id", "u")
      .select(col("u"), col("sid"), col("event_type").as("e"),
        row_number().over(wp).as("pos"))
      .localCheckpoint() // events-sized; three lattice legs read it
    val fl = occ.groupBy(col("u"), col("sid"), col("e"))
      .agg(min(col("pos")).as("fst"), max(col("pos")).as("lst"))
      .localCheckpoint() // sessions x T rows
    val nu = occ.select(col("u"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_seqs"))
    val l1 = fl.groupBy(col("e").as("e1"))
      .agg(count(lit(1)).as("n_sup"))
      .select(lit(1L).as("level"), col("e1"), lit(null).cast("string").as("e2"),
        lit(null).cast("string").as("e3"), col("n_sup"))
    val l2 = fl.select(col("u"), col("sid"), col("e").as("e1"), col("fst"))
      .join(fl.select(col("u"), col("sid"), col("e").as("e2"), col("lst")),
        Seq("u", "sid"))
      .filter(col("fst") < col("lst"))
      .groupBy(col("e1"), col("e2")).agg(count(lit(1)).as("n_sup"))
      .select(lit(2L).as("level"), col("e1"), col("e2"),
        lit(null).cast("string").as("e3"), col("n_sup"))
    // min pos of b strictly after first(a), per (session, a, b)
    val mab = occ.select(col("u"), col("sid"), col("e").as("e2"), col("pos"))
      .join(fl.select(col("u"), col("sid"), col("e").as("e1"), col("fst")),
        Seq("u", "sid"))
      .filter(col("pos") > col("fst"))
      .groupBy(col("u"), col("sid"), col("e1"), col("e2"))
      .agg(min(col("pos")).as("mab"))
    val l3 = mab
      .join(fl.select(col("u"), col("sid"), col("e").as("e3"), col("lst")),
        Seq("u", "sid"))
      .filter(col("mab") < col("lst"))
      .groupBy(col("e1"), col("e2"), col("e3")).agg(count(lit(1)).as("n_sup"))
      .select(lit(3L).as("level"), col("e1"), col("e2"), col("e3"), col("n_sup"))
    l1.unionByName(l2).unionByName(l3)
      .crossJoin(broadcast(nu)) // 1-row scalar frame
      .filter(col("n_sup") * 1000 >= lit(SeqMinSupPm) * col("n_seqs"))
      .select(col("level"), col("e1"), col("e2"), col("e3"),
        col("n_sup"), col("n_seqs"),
        expr("(n_sup * 1000) div n_seqs").as("support_pm"))
  }

  val seqPatternsSql: String =
    s"""WITH occ AS (
       |  SELECT user_id AS u, date_trunc('day', CAST(ts AS TIMESTAMP)) AS sid,
       |    event_type AS e,
       |    row_number() OVER (PARTITION BY user_id,
       |                         date_trunc('day', CAST(ts AS TIMESTAMP))
       |                       ORDER BY ts, event_id) AS pos
       |  FROM events),
       |fl AS (
       |  SELECT u, sid, e, min(pos) AS fst, max(pos) AS lst
       |  FROM occ GROUP BY 1, 2, 3),
       |nu AS (
       |  SELECT count(*)::BIGINT AS n_seqs
       |  FROM (SELECT DISTINCT u, sid FROM occ)),
       |l1 AS (
       |  SELECT 1::BIGINT AS level, e AS e1, NULL::VARCHAR AS e2,
       |    NULL::VARCHAR AS e3, count(*)::BIGINT AS n_sup
       |  FROM fl GROUP BY e),
       |l2 AS (
       |  SELECT 2::BIGINT AS level, a.e AS e1, b.e AS e2,
       |    NULL::VARCHAR AS e3, count(*)::BIGINT AS n_sup
       |  FROM fl a JOIN fl b ON a.u = b.u AND a.sid = b.sid AND a.fst < b.lst
       |  GROUP BY 2, 3),
       |mab AS (
       |  SELECT o.u, o.sid, a.e AS e1, o.e AS e2, min(o.pos) AS mab
       |  FROM occ o JOIN fl a ON a.u = o.u AND a.sid = o.sid AND o.pos > a.fst
       |  GROUP BY 1, 2, 3, 4),
       |l3 AS (
       |  SELECT 3::BIGINT AS level, m.e1, m.e2, c.e AS e3,
       |    count(*)::BIGINT AS n_sup
       |  FROM mab m JOIN fl c ON c.u = m.u AND c.sid = m.sid AND m.mab < c.lst
       |  GROUP BY 2, 3, 4),
       |allp AS (
       |  SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
       |SELECT level, e1, e2, e3, n_sup, n_seqs,
       |  (n_sup * 1000 // n_seqs)::BIGINT AS support_pm
       |FROM allp, nu
       |WHERE n_sup * 1000 >= $SeqMinSupPm * n_seqs""".stripMargin

  /** [[cusumChangepoint]] tuning, all exact-integer: the allowance
    * (slack) is k = μ·[[CusumKa]]/[[CusumKd]] per day (the standard
    * k = δ/2 with the shift-to-detect δ set to half the mean), and
    * the decision interval is H = [[CusumH]]·μ·[[CusumKd]]-scaled
    * accumulated excess ("H mean-days"). */
  val CusumKa = 1L
  val CusumKd = 4L
  val CusumH = 3L

  /** K166: CUSUM CHANGE-POINT DETECTION — Page's cumulative-sum
    * control chart (Biometrika 1954), the canonical sequential test
    * for a small PERSISTENT level shift and the complement of K23
    * `burst_detect`'s 3σ spike rule: a burst is a point anomaly one
    * window sees; a regime shift (ingest source turned off, a
    * schema change halving an event type's rate) moves the level a
    * little every day and never trips a spike test — CUSUM
    * accumulates exactly that drift. Per event type over daily
    * counts x_t with corpus mean μ: S⁺_t = max(0, S⁺_{t-1} + x_t − μ
    * − k), alarmed when S⁺ exceeds H (and symmetrically S⁻ for
    * downward shifts). RELATIONAL FORM: the recursion has the exact
    * prefix-sum closed form S_t = P_t − min_{0≤j≤t} P_j with
    * P_t = Σ_{i≤t}(x_i − μ − k) — a running sum plus a running min,
    * two frames of one ordered window, no iteration and no UDAF.
    * Engine-portability: deviations are scaled by n·[[CusumKd]] so
    * μ = total/n and k = μ/4 never divide — every value on the
    * chart is an exact BIGINT.
    *
    * Shape: one (type, day)-keyed combining count (∝ events) → a
    * ≤types-row broadcast stats join → per-type ordered windows
    * (partitions bounded by days-per-type, never corpus-global). */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val st = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("total"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val e = daily.join(broadcast(st), "event_type")
      .withColumn("ep", lit(CusumKd) * (col("nd") * col("x") - col("total"))
        - lit(CusumKa) * col("total"))
      .withColumn("en", lit(CusumKd) * (col("total") - col("nd") * col("x"))
        - lit(CusumKa) * col("total"))
      .withColumn("pp", sum(col("ep")).over(w))
      .withColumn("pn", sum(col("en")).over(w))
      .withColumn("cusum_pos", col("pp") - least(min(col("pp")).over(w), lit(0L)))
      .withColumn("cusum_neg", col("pn") - least(min(col("pn")).over(w), lit(0L)))
    e.select(col("event_type"), col("day"), col("x"),
      col("cusum_pos"), col("cusum_neg"),
      when(col("cusum_pos") > lit(CusumH * CusumKd) * col("total"), 1L)
        .otherwise(0L).as("alarm_pos"),
      when(col("cusum_neg") > lit(CusumH * CusumKd) * col("total"), 1L)
        .otherwise(0L).as("alarm_neg"))
  }

  val cusumChangepointSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |         date_trunc('day', CAST(ts AS TIMESTAMP))::TIMESTAMP AS day,
       |         count(*)::BIGINT AS x
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, count(*)::BIGINT AS nd, sum(x)::BIGINT AS total
       |  FROM daily GROUP BY 1),
       |e AS (
       |  SELECT d.event_type, d.day, d.x, st.total,
       |    $CusumKd * (st.nd * d.x - st.total) - $CusumKa * st.total AS ep,
       |    $CusumKd * (st.total - st.nd * d.x) - $CusumKa * st.total AS en
       |  FROM daily d JOIN st USING (event_type)),
       |p1 AS (
       |  SELECT event_type, day, x, total,
       |    sum(ep) OVER fr AS pp, sum(en) OVER fr AS pn
       |  FROM e
       |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |p AS (
       |  SELECT event_type, day, x, total, pp, pn,
       |    min(pp) OVER fr AS mp, min(pn) OVER fr AS mn
       |  FROM p1
       |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type, day, x,
       |  (pp - least(mp, 0))::BIGINT AS cusum_pos,
       |  (pn - least(mn, 0))::BIGINT AS cusum_neg,
       |  (CASE WHEN pp - least(mp, 0) > $CusumH * $CusumKd * total
       |        THEN 1 ELSE 0 END)::BIGINT AS alarm_pos,
       |  (CASE WHEN pn - least(mn, 0) > $CusumH * $CusumKd * total
       |        THEN 1 ELSE 0 END)::BIGINT AS alarm_neg
       |FROM p""".stripMargin
}
