package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround

/** Query surface over the star schema (SURVEY.md §2 B*).
  *
  * All plans are declarative DataFrame compositions: filters and
  * projections reach the parquet scan, dimension joins broadcast,
  * fact joins shuffle once on their key, aggregations get map-side
  * partial aggregation. Float aggregates are rounded identically on
  * the Spark and oracle side (double sums aren't associative, so
  * raw bit-equality across engines is not a meaningful target).
  */
object Analytics {

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** B1: grouped aggregation, TPC-H Q1 shape. Single shuffle with
    * partial aggregation; scan reads only the 7 needed columns.
    *
    * Money sums ride DECIMAL (the r11 sf0.1 lesson, first hit by
    * bucketed_join): a double sum of exact-decimal values is
    * ORDER-DEPENDENT, and at sf0.1 row counts Spark's partial-agg
    * order diverges from DuckDB's scan order past the ×10⁴ rounding
    * grid. Each addend is exact at a known scale (price: cents;
    * revenue = price·(1−disc): 4 dec; charge = revenue·(1+tax):
    * 6 dec), so a per-row decimal cast recovers the exact lattice
    * value identically in both engines and the decimal sum is exact
    * in ANY order. sum(l_quantity) stays double: integer-valued
    * addends sum exactly below 2⁵³ in any order. avg_disc divides
    * the exact decimal sum by the count — one deterministic double
    * division — where avg(double-sum) would inherit the order term. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        pround(sum(col("l_quantity")), 4).as("sum_qty"),
        pround(sum(col("l_extendedprice").cast("decimal(28,2)"))
          .cast("double"), 4).as("sum_base_price"),
        pround(sum(revenue.cast("decimal(28,4)"))
          .cast("double"), 4).as("sum_disc_price"),
        pround(sum((revenue * (lit(1) + col("l_tax"))).cast("decimal(28,6)"))
          .cast("double"), 4).as("sum_charge"),
        pround(avg(col("l_quantity")), 4).as("avg_qty"),
        sum(col("l_discount").cast("decimal(28,2)")).as("sdisc"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_disc",
        pround(col("sdisc").cast("double") / col("count_order"), 4))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        col("avg_qty"), col("avg_disc"), col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  floor((sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS sum_qty,
      |  floor((sum(CAST(l_extendedprice AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_base_price,
      |  floor((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_disc_price,
      |  floor((sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_charge,
      |  floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
      |  floor((sum(CAST(l_discount AS DECIMAL(28,2)))::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B2: TPC-H Q3 shape — dim-filtered fact/fact join + agg +
    * top-N. customer is small → broadcast into orders; the
    * orders⋈lineitem join shuffles once on the order key. */
  def q3JoinTopn(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      // exact 4-dec revenue lattice per row → order-free decimal sum
      // (the q1Agg money-sum rule)
      .agg(pround(sum(revenue.cast("decimal(28,4)")).cast("double"), 4).as("rev"))
      .select(col("l_orderkey"), col("rev"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopnSql: String =
    """SELECT l_orderkey,
      |  floor((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS rev,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin

  /** B3: TPC-H Q5 shape — 6-way join; all four dimension tables
    * broadcast, lineitem⋈orders is the only shuffled join. */
  def q5Multijoin(s: SparkSession, dir: String): DataFrame = {
    val r = region(s, dir).filter(col("r_name") === "ASIA")
    val n = nation(s, dir).join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val sup = supplier(s, dir).join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
    val c = customer(s, dir)
    val o = orders(s, dir).filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(pround(sum(revenue.cast("decimal(28,4)")).cast("double"), 4).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  val q5MultijoinSql: String =
    """SELECT n_name,
      |  floor((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS rev
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name ORDER BY rev DESC, n_name""".stripMargin

  /** B4: top-3 orders per priority by total price (window rank).
    * Single shuffle on the partition key. */
  def topnPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  val topnPerGroupSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 3""".stripMargin

  /** B5: event-time tumbling windows (batch twin of the streaming
    * agg): hourly event counts + value sums per type. */
  def windowedCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        pround(sum(col("value").cast("decimal(28,2)")).cast("double"), 4)
          .as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  val windowedCountsSql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n,
      |  floor((sum(CAST(value AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** The B6 session gap: an event more than this long after the
    * user's previous event opens a new session. */
  val SessionGapMicros: Long = 1800L * 1000000L

  /** 1 where an event opens a new B6 session, else 0, over the
    * user-keyed event-time window `byUser`. The gap is compared in
    * whole microseconds (the `ts` resolution), so it agrees with the
    * oracles' fractional epoch() difference; a cast to seconds would
    * floor both ends and keep events 1800.05 s apart in one session. */
  private[graft] def newSession(byUser: WindowSpec): Column =
    when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
      > SessionGapMicros, 1).otherwise(0)

  /** B6: gap-based sessionization (30 min) via lag + running sum —
    * one shuffle on user_id, both windows share it. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("new_sess", newSession(byUser))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        // sum as DECIMAL(18,4): exact and order-independent, so the
        // value is bit-identical across engines regardless of
        // summation order (round(sum(double),4) is not)
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sess_value"))
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN epoch(CAST(ts AS TIMESTAMP))
      |           - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |t AS (
      |  SELECT user_id, value, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS sess_id
      |  FROM g)
      |SELECT user_id, sess_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
      |  sum(value::DECIMAL(18,4))::DOUBLE AS sess_value
      |FROM t GROUP BY user_id, sess_id""".stripMargin

  /** B7: semi + anti join — customers who placed orders (EXISTS)
    * but never an urgent one (NOT EXISTS). Both sides shuffle on
    * the customer key; semi/anti keep only the probe columns, so no
    * row-width blowup. */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(o.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val semiAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')""".stripMargin

  /** B8: ROLLUP grouping sets over return flag / line status. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(pround(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))

  val rollupAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  floor((sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** B9: pivot event_type → count columns per user. */
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)

  val pivotEventsSql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** B10: EXACT interpolated percentiles per event type, computed
    * scale-safe. Spark's `percentile()` aggregate buffers a value→
    * count map per group in ONE reducer — at 100 TB with ~5 event
    * types that is billions of entries on single hot reducers.
    * This formulation carries no such state: `value` is a bounded
    * 2-decimal grid (distinct values saturate at the grid size, ~10⁵,
    * regardless of row count — measured 6.6k @ 10k rows, 17.8k @ 100k),
    * so (1) the only rows-scale shuffle is a partial-aggregated
    * (event_type, value) cell count, (2) the rank cumsum runs over
    * grid-sized cells, and (3) the interpolated order statistic
    *   v[ℓ] + (pos−ℓ)·(v[ℓ+1] − v[ℓ]),  pos = p·(n−1), ℓ = ⌊pos⌋
    * is plain column algebra written IDENTICALLY in the DuckDB twin —
    * bit-exact cross-engine, and equal to the exact `percentile()`
    * (spec-pinned at verify scale). Per-group value buffering: none. */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    val cell = events(s, dir)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
    val cum = cell.withColumn("cum", sum(col("cnt")).over(w))
    val n = cell.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"), pround(max(col("value")), 4).as("p100"))
    def pos(p: Double) = lit(p) * (col("n") - 1).cast("double")
    def lo(p: Double) = floor(pos(p))
    val stats = cum.join(broadcast(n), "event_type")
      .groupBy(col("event_type"), col("n"), col("p100"))
      .agg(
        min(when(col("cum") > lo(0.5), col("value"))).as("vl50"),
        min(when(col("cum") > lo(0.5) + 1, col("value"))).as("vu50"),
        min(when(col("cum") > lo(0.9), col("value"))).as("vl90"),
        min(when(col("cum") > lo(0.9) + 1, col("value"))).as("vu90"))
    def interp(p: Double, vl: Column, vu: Column) =
      pround(vl + (pos(p) - lo(p)) * (coalesce(vu, vl) - vl), 4)
    stats.select(col("event_type"),
      interp(0.5, col("vl50"), col("vu50")).as("p50"),
      interp(0.9, col("vl90"), col("vu90")).as("p90"),
      col("p100"))
  }

  val percentilesSql: String =
    """WITH cell AS (
      |  SELECT event_type, value, count(*) AS cnt FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, value, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY value) AS cum
      |  FROM cell),
      |n AS (
      |  SELECT event_type, sum(cnt)::BIGINT AS n,
      |    floor((max(value)) * 10000.0 + 0.5) / 10000.0 AS p100
      |  FROM cell GROUP BY 1),
      |s AS (
      |  SELECT cum.event_type, n.n, n.p100,
      |    min(CASE WHEN cum > floor(0.5 * (n.n - 1)) THEN value END) AS vl50,
      |    min(CASE WHEN cum > floor(0.5 * (n.n - 1)) + 1 THEN value END) AS vu50,
      |    min(CASE WHEN cum > floor(0.9 * (n.n - 1)) THEN value END) AS vl90,
      |    min(CASE WHEN cum > floor(0.9 * (n.n - 1)) + 1 THEN value END) AS vu90
      |  FROM cum JOIN n USING (event_type) GROUP BY 1, 2, 3)
      |SELECT event_type,
      |  floor((vl50 + (0.5 * (n - 1) - floor(0.5 * (n - 1))) * (coalesce(vu50, vl50) - vl50)) * 10000.0 + 0.5) / 10000.0 AS p50,
      |  floor((vl90 + (0.9 * (n - 1) - floor(0.9 * (n - 1))) * (coalesce(vu90, vl90) - vl90)) * 10000.0 + 0.5) / 10000.0 AS p90,
      |  p100
      |FROM s""".stripMargin

  /** B11: array explode + re-agg — word frequencies over documents
    * (the Decision `text[]` analog). */
  def arrayExplodeAgg(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)

  val arrayExplodeAggSql: String =
    """SELECT word, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  /** B12: JSON field extraction from the events props column. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(pround(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"))

  val jsonExtractSql: String =
    """SELECT event_type, floor((avg(k)) * 10000.0 + 0.5) / 10000.0 AS avg_k, max(k) AS max_k FROM (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type""".stripMargin

  /** J-line: nation-pair trade matrix (TPC-H Q7 shape) — revenue
    * between DIFFERENT supplier and customer nations per ship year.
    * Fact-fact join shuffles once on orderkey; supplier, customer and
    * both nation copies broadcast (same dim policy as B3). */
  def tradeVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = nation(s, dir).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = nation(s, dir).select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer(s, dir).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        pround(sum(revenue.cast("decimal(28,4)")).cast("double"), 4).as("rev"))
  }

  val tradeVolumeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
      |  count(*) AS n_items,
      |  floor((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS rev
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE s_nationkey <> c_nationkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** J-line: year-over-year revenue growth per customer nation —
    * lag over yearly aggregates. Growth divides the ROUNDED yearly
    * revenues (4 dp, already cross-engine-exact), so the ratio and
    * its rounding are identical doubles in both engines. One
    * aggregate + one tiny (nation × year) window. */
  def yoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val yearly = orders(s, dir)
      .join(broadcast(customer(s, dir).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(pround(sum(col("o_totalprice").cast("decimal(28,2)"))
        .cast("double"), 4).as("rev"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
    yearly
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .withColumn("growth",
        when(col("prev_rev").isNotNull,
          pround((col("rev") - col("prev_rev")) / col("prev_rev"), 4)))
  }

  val yoyGrowthSql: String =
    """WITH yearly AS (
      |  SELECT n_name, year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
      |    floor((sum(CAST(o_totalprice AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, yr, rev,
      |  lag(rev) OVER (PARTITION BY n_name ORDER BY yr) AS prev_rev,
      |  floor(((rev - lag(rev) OVER (PARTITION BY n_name ORDER BY yr))
      |    / lag(rev) OVER (PARTITION BY n_name ORDER BY yr))
      |    * 10000.0 + 0.5) / 10000.0 AS growth
      |FROM yearly""".stripMargin

  /** K-line: promo revenue share per ship month — TPC-H Q14 shape
    * (the `part` dimension's signature query): lineitem ⋈ broadcast
    * part, conditional revenue aggregation. Revenue is quantized
    * map-side to ×10⁴ BIGINT (the statsMerge convention:
    * `floor(x·10⁴ + 0.5)` is the same double→int op in both engines,
    * and BIGINT sums are exact and ORDER-INDEPENDENT — a float sum
    * under unordered partial aggregation can flip a half-ulp at
    * larger scales even though round(…,4) hid it here). The share is
    * one double division of exact integers. One fact shuffle on the
    * month key; the dim never shuffles. */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val revQ = floor(rev * 10000 + lit(0.5)).cast("long")
    lineitem(s, dir)
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", revQ).otherwise(0L)).as("promo_q"),
        sum(revQ).as("total_q"),
        count(lit(1)).as("n_items"))
      .select(col("ship_month"),
        pround(col("promo_q") / 10000.0, 4).as("promo_rev"),
        pround(col("total_q") / 10000.0, 4).as("total_rev"),
        col("n_items"),
        pround(lit(100.0) * col("promo_q") / col("total_q"), 4).as("promo_pct"))
  }

  val promoRevenueSql: String =
    """WITH q AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |    sum(CASE WHEN p_type = 'PROMO'
      |      THEN floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)::BIGINT
      |      ELSE 0 END)::BIGINT AS promo_q,
      |    sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)::BIGINT)::BIGINT AS total_q,
      |    count(*) AS n_items
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT ship_month,
      |  floor((promo_q / 10000.0) * 10000.0 + 0.5) / 10000.0 AS promo_rev,
      |  floor((total_q / 10000.0) * 10000.0 + 0.5) / 10000.0 AS total_rev,
      |  n_items,
      |  floor((100.0 * promo_q / total_q) * 10000.0 + 0.5) / 10000.0 AS promo_pct
      |FROM q""".stripMargin

  /** K-line: TPC-H Q17 shape — small-quantity lineitems vs each
    * part's OWN average quantity (`l_quantity < avg(qty per part)/5`),
    * the canonical CORRELATED SCALAR SUBQUERY, decorrelated the way
    * Catalyst (and every warehouse) does it: one per-part aggregate
    * over the fact, self-joined back on the fact key. Both sides of
    * the join shuffle on `l_partkey`, so the join is co-partitioned
    * with the aggregate's exchange (no second shuffle of the fact);
    * the brand dim rides in as a broadcast. The threshold compare is
    * EXACT integer arithmetic — quantities are integral (probed:
    * 0/60k fractional), so `qty < sum_qty/(5·cnt)` becomes
    * `5·qty·cnt < sum_qty` with no division ever computed — and
    * revenue uses the house ×10⁴ BIGINT quantization, so every
    * aggregate is engine-exact; only the final reporting divisions
    * touch doubles (single chain, identical in DuckDB). */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val revQ = floor(revenue * 10000 + lit(0.5)).cast("long")
    val li = lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        revQ.as("rev_q"))
    val stats = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
    li.join(stats, "l_partkey")
      .filter(col("qty") * col("cnt") * 5 < col("sum_qty"))
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), sum(col("rev_q")).as("rev_qsum"))
      .select(col("p_brand"), col("n_small"),
        pround(col("rev_qsum") / 10000.0 / 7.0, 4).as("avg_yearly"))
  }

  val q17SmallQtySql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)::BIGINT AS rev_q
      |  FROM lineitem),
      |st AS (
      |  SELECT l_partkey, count(*) AS cnt, sum(qty)::BIGINT AS sum_qty
      |  FROM li GROUP BY 1)
      |SELECT p_brand, count(*) AS n_small,
      |  floor((sum(li.rev_q)::BIGINT / 10000.0 / 7.0) * 10000.0 + 0.5) / 10000.0 AS avg_yearly
      |FROM li JOIN st USING (l_partkey) JOIN part ON l_partkey = p_partkey
      |WHERE li.qty * st.cnt * 5 < st.sum_qty
      |GROUP BY 1""".stripMargin

  /** K31: TPC-H Q13 shape — the orders-per-customer distribution
    * INCLUDING zero-order customers. The classic trap is joining raw
    * orders through the outer join and counting after: at 100 TB
    * that shuffles every order row keyed by customer. Here orders
    * pre-aggregate to one (custkey, cnt) row first (map-side partial
    * aggregation), the outer join carries only that, and the final
    * histogram aggregate is on a tiny integer domain. */
  def orderCountHist(s: SparkSession, dir: String): DataFrame = {
    val perCust = orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("c_count"))
    customer(s, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .na.fill(0L, Seq("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_cust"))
  }

  val orderCountHistSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY 1)
      |SELECT coalesce(p.c_count, 0)::BIGINT AS c_count,
      |  count(*) AS n_cust
      |FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
      |GROUP BY 1""".stripMargin

  /** K32: TPC-H Q15 shape — the MAX-OVER-AGGREGATED-VIEW pattern:
    * revenue per supplier over one quarter, keep the supplier(s)
    * hitting the maximum. The scalar `max` is a 1-row broadcast into
    * the aggregated (not raw) frame, and the tie comparison runs on
    * ×10⁴ BIGINT revenue so "equals the max" is exact — a float
    * revenue would make the selected set engine-dependent at ulp
    * ties, the failure mode the house integer convention exists for. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val revQ = floor(revenue * 10000 + lit(0.5)).cast("long")
    val rev = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revQ).as("rev_qsum"))
    rev
      .crossJoin(broadcast(rev.agg(max(col("rev_qsum")).as("max_q"))))
      .filter(col("rev_qsum") === col("max_q"))
      .join(broadcast(supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        pround(col("rev_qsum") / 10000.0, 4).as("total_revenue"))
  }

  val topSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)::BIGINT)::BIGINT AS rev_qsum
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name,
      |  floor((rev_qsum / 10000.0) * 10000.0 + 0.5) / 10000.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_qsum = (SELECT max(rev_qsum) FROM rev)""".stripMargin

  /** K33: TPC-H Q22 shape — above-average holders gone IDLE: the
    * scalar-average subquery + anti-join pair. "Idle" is no order
    * since [[IdleCutoff]] (the verbatim Q22 "no orders ever" is
    * vacuous on this corpus — every customer orders at every SF; a
    * recency anti join keeps the decorrelation shape AND a real
    * result set, ~20% of customers at each scale). The average
    * threshold is compared CROSS-MULTIPLIED in ×10² BIGINT
    * (bal_q · n_pos > sum_pos_q), so no float average is ever
    * computed and the qualifying set is engine-exact; the recent
    * order keys pre-aggregate to DISTINCT custkeys before the
    * `left_anti`, so the anti join probes one row per active
    * customer, not one per order. */
  val IdleCutoff = "2000-08-01"

  def idleCustomers(s: SparkSession, dir: String): DataFrame = {
    val balQ = floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
    val cust = customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), balQ.as("bal_q"))
    val posStats = cust.filter(col("bal_q") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_q")).as("sum_pos_q"))
    val active = orders(s, dir)
      .filter(col("o_orderdate") >= lit(IdleCutoff).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust
      .crossJoin(broadcast(posStats))
      .filter(col("bal_q") * col("n_pos") > col("sum_pos_q"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        pround(sum(col("bal_q")) / 100.0, 4).as("total_bal"))
  }

  lazy val idleCustomersSql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_mktsegment,
       |    floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_q
       |  FROM customer),
       |pos AS (
       |  SELECT count(*)::BIGINT AS n_pos, sum(bal_q)::BIGINT AS sum_pos_q
       |  FROM cust WHERE bal_q > 0)
       |SELECT c_mktsegment, count(*) AS n_cust,
       |  floor((sum(bal_q)::BIGINT / 100.0) * 10000.0 + 0.5) / 10000.0 AS total_bal
       |FROM cust, pos
       |WHERE bal_q * n_pos > sum_pos_q
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey
       |      AND o_orderdate >= TIMESTAMP '$IdleCutoff')
       |GROUP BY 1""".stripMargin

  /** K64: explicit GROUPING SETS + grouping_id — the fourth member of
    * the grouping family (B8 rollup, H6 cube, B9 pivot): callers pick
    * exactly the aggregation levels ((flag,status), (flag), ()) and
    * disambiguate the output rows by the grouping_id bitmask, the
    * production pattern for one-pass multi-level report tables.
    * Physically identical machinery to rollup/cube: Spark's Expand
    * emits one replica per set into ONE map-side-combined aggregate —
    * shuffle ∝ groups × sets, never a re-scan per level. Quantities
    * sum as BIGINT (integral by generator contract) so every level is
    * engine-exact; both engines compute the same bitmask convention
    * (bit per grouping column, 1 = rolled up). */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame = {
    val view = "li_grouping_sets"
    lineitem(s, dir).createOrReplaceTempView(view)
    s.sql(
      s"""SELECT CAST(grouping_id() AS BIGINT) AS gid,
         |  l_returnflag, l_linestatus,
         |  sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
         |  count(*) AS n_items
         |FROM $view
         |GROUP BY l_returnflag, l_linestatus
         |  GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin)
  }

  val groupingSetsAggSql: String =
    """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  l_returnflag, l_linestatus,
      |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin

  /** K45: TPC-H Q11 shape — the GROUP-TOTAL vs GLOBAL-TOTAL-FRACTION
    * filter ("important stock"): per-part revenue kept only when it
    * exceeds 1.5× the mean part's share of the grand total. The
    * scalar subquery is a 1-row (n_parts, total) frame BROADCAST into
    * the aggregated parts (never a shuffle for one row), and the
    * threshold share > 1.5/n is the CROSS-MULTIPLIED integer test
    * 2·vq·n > 3·total on ×10⁴-quantized revenue — no float average
    * is ever computed, so the selected set is engine-exact (the
    * idle_customers / top_supplier convention). The compare runs in
    * DECIMAL(38,0)/HUGEINT: vq·n_parts overflows BIGINT once totals
    * reach 100 TB scale (the burst_detect lesson). A 1.5×-mean cut
    * is scale-free — it selects the same tail fraction at every SF
    * (measured 2/29/252 rows at the three test scales) where any
    * absolute-share threshold empties out as n_parts grows. */
  def partValueShare(s: SparkSession, dir: String): DataFrame = {
    val revQ = floor(revenue * 10000 + lit(0.5)).cast("long")
    val v = lineitem(s, dir).select(col("l_partkey"), revQ.as("rev_q"))
      .groupBy(col("l_partkey")).agg(sum(col("rev_q")).as("vq"))
    val tot = v.agg(count(lit(1)).as("n_parts"), sum(col("vq")).as("total"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    v.crossJoin(broadcast(tot))
      .filter(d38(col("vq")) * d38(col("n_parts")) * 2 >
        d38(col("total")) * 3)
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"),
        pround(col("vq") / 10000.0, 4).as("value"),
        pround(col("vq") / col("total"), 6).as("share"))
  }

  val partValueShareSql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |    sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)::BIGINT)::BIGINT AS vq
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT count(*)::BIGINT AS n_parts, sum(vq)::BIGINT AS total FROM v)
      |SELECT p_partkey, p_brand,
      |  floor((vq / 10000.0) * 10000.0 + 0.5) / 10000.0 AS value,
      |  floor((vq / total) * 1000000.0 + 0.5) / 1000000.0 AS share
      |FROM v CROSS JOIN tot
      |JOIN part ON l_partkey = p_partkey
      |WHERE vq::HUGEINT * n_parts * 2 > total::HUGEINT * 3""".stripMargin

  /** K46: 2-D SKYLINE (Pareto front) — parts no other part dominates
    * (larger-or-equal size AND cheaper-or-equal price, strict in at
    * least one): the multi-objective "value frontier" read. The
    * distributed formulation never compares pairs: a map-side
    * combine collapses parts to one min-price row per size (the size
    * DOMAIN is bounded — a categorical axis — so this frame is tiny
    * at any data scale), a running-min window over the size axis
    * descending finds the frontier prices, and one broadcast join
    * back tags the surviving parts. The single no-partition window
    * runs on the ≤|size-domain| frame, never the data. Price is ×10²
    * BIGINT so every dominance compare is integer-exact; equal
    * (size, price) twins don't dominate each other and are all kept.
    * The oracle is the O(n²) NOT-EXISTS dominance definition — a
    * DIFFERENT formulation, so the hash gate cross-checks the window
    * algebra against the spec's brute force and DuckDB's. */
  def skyline2d(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select(col("p_partkey"), col("p_size"),
      floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("price_q"))
    val bySize = p.groupBy(col("p_size")).agg(min(col("price_q")).as("min_q"))
    val larger = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = bySize.withColumn("runmin", min(col("min_q")).over(larger))
    p.join(broadcast(front), "p_size")
      .filter(col("price_q") === col("min_q") &&
        (col("runmin").isNull || col("price_q") < col("runmin")))
      .select(col("p_partkey"), col("p_size"),
        pround(col("price_q") / 100.0, 2).as("price"))
  }

  val skyline2dSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_size,
      |    floor(p_retailprice * 100 + 0.5)::BIGINT AS price_q
      |  FROM part)
      |SELECT p_partkey, p_size,
      |  floor((price_q / 100.0) * 100.0 + 0.5) / 100.0 AS price
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.p_size >= a.p_size AND b.price_q <= a.price_q
      |    AND (b.p_size > a.p_size OR b.price_q < a.price_q))""".stripMargin

  /** K82: COHORT LTV — cumulative revenue per signup cohort by age:
    * customers cohort by FIRST-order month, every later order lands
    * in a (cohort, age-in-months) cell, and revenue accumulates along
    * age — the lifetime-value curve next to H4's retention counts.
    * Month index is pure integer arithmetic (y*12 + m), revenue sums
    * in DECIMAL(18,2) and reports as exact x100 cents; the cumulative
    * window is partitioned per cohort over calendar-bounded age rows,
    * never data-sized. Two shuffles total: the per-customer first
    * order and the (cohort, age) cell aggregate. Per-customer LTV is
    * an exact BIGINT floor division (cents, both operands positive) —
    * the house no-float-reaches-the-hash convention; the r8 rounded
    * double hit 0.00005-grid ties where Spark and DuckDB round apart. */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_custkey"),
      (year(col("o_orderdate").cast("date")) * 12 +
        month(col("o_orderdate").cast("date")) - 1).as("m"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val coh = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_month"))
    val sizes = coh.groupBy(col("cohort_month")).agg(count(lit(1)).as("cohort_size"))
    val cells = o.join(coh, "o_custkey")
      .groupBy(col("cohort_month"), (col("m") - col("cohort_month")).as("age"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("revenue_c"))
    val w = Window.partitionBy(col("cohort_month")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.withColumn("cum_revenue_c", sum(col("revenue_c")).over(w))
      .join(broadcast(sizes), "cohort_month")
      .select(col("cohort_month"), col("age"), col("n_orders"), col("n_active"),
        col("revenue_c"), col("cum_revenue_c"), col("cohort_size"),
        expr("cum_revenue_c div cohort_size").as("ltv_cents"))
  }

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(CAST(o_orderdate AS DATE)) * 12
      |      + month(CAST(o_orderdate AS DATE)) - 1 AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |coh AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1),
      |sz AS (SELECT cohort_month, count(*) AS cohort_size FROM coh GROUP BY 1),
      |cells AS (
      |  SELECT cohort_month, m - cohort_month AS age, count(*) AS n_orders,
      |    count(DISTINCT o.o_custkey)::BIGINT AS n_active,
      |    sum(cents)::BIGINT AS revenue_c
      |  FROM o JOIN coh USING (o_custkey) GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, sum(revenue_c) OVER (PARTITION BY cohort_month ORDER BY age
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_revenue_c
      |  FROM cells)
      |SELECT cohort_month, age, n_orders, n_active, revenue_c, cum_revenue_c,
      |  cohort_size,
      |  (cum_revenue_c // cohort_size)::BIGINT AS ltv_cents
      |FROM cum JOIN sz USING (cohort_month)""".stripMargin
}
