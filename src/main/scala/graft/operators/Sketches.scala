package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround

/** Approximate analytics with ENGINE-PORTABLE determinism (round-3
  * H-line). The usual sketch stack (HLL, t-digest, reservoir samples)
  * is seed- and merge-order-dependent, so no cross-engine oracle can
  * check it. These operators use the repo's portable arithmetic hash
  * (`x·2654435761 mod 1e9+7` — the same one sample_split relies on)
  * as the randomness source instead: the estimate is a pure function
  * of the data, bit-identical in Spark and DuckDB, so the driver's
  * hash gate applies to APPROXIMATE answers too.
  *
  * Scale shape: both operators are one scan + one narrow aggregate;
  * the KMV candidate set is capped at K rows per group BEFORE the
  * final aggregation, and the quantile sample is a map-side filter
  * that drops ~90% of rows before any shuffle.
  */
object Sketches {

  /** Hash-space modulus (prime) and the Knuth multiplier. */
  val M = 1000000007L
  val Mult = 2654435761L

  /** KMV sketch size. */
  val K = 64

  /** H1: approximate distinct users per event type via a K-Minimum-
    * Values sketch — est = (K-1)·M / h_K where h_K is the K-th
    * smallest hash; exact count when a group has < K distinct hashes.
    * The exact distinct count rides along so the result exposes the
    * estimation error. At 100 TB the estimate path shuffles at most
    * K hashes per group (the per-partition top-K prune is the
    * classic KMV merge); here both paths share one distinct shuffle.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .select(col("event_type"), pmod(col("user_id") * Mult, lit(M)).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val ranked = d.withColumn("rn", row_number().over(w))
    val hk = ranked.filter(col("rn") === K)
      .select(col("event_type"), col("h").as("hk"))
    val exact = events(s, dir)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    exact.join(hk, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_exact"),
        pround(when(col("hk").isNull, col("n_exact").cast("double"))
          .otherwise(lit((K - 1).toDouble * M) / col("hk")), 4).as("est_distinct"))
  }

  val kmvDistinctSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT event_type, (user_id * $Mult) % $M AS h FROM events),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM d),
       |k AS (SELECT event_type, h AS hk FROM r WHERE rn = $K),
       |n AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |      FROM events GROUP BY 1)
       |SELECT n.event_type, n.n_exact,
       |  floor((CASE WHEN k.hk IS NULL THEN n.n_exact::DOUBLE
       |             ELSE ${(K - 1).toDouble} * $M / k.hk END) * 10000.0 + 0.5) / 10000.0 AS est_distinct
       |FROM n LEFT JOIN k USING (event_type)""".stripMargin

  /** K-line: KMV as a FIRST-CLASS AGGREGATE — same estimator as
    * [[kmvDistinct]] but the sketch is built by the custom
    * [[graft.plans.KmvAgg]] TypedImperativeAggregate, so PARTIAL
    * AGGREGATION merges K-value sketches in the map-side combiners
    * and the shuffle carries ≤ K longs per (task, group) — the
    * mergeable-sketch contract H1's relational form (distinct +
    * window rank) cannot give, because IT must shuffle every distinct
    * hash to rank it. Estimates are identical (K smallest distinct is
    * merge-order-free); a spec cross-checks against H1 row for row,
    * and PlanSpec asserts the two-phase ObjectHashAggregate. */
  def kmvByType(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"),
      pmod(col("user_id") * Mult, lit(M)).as("h"))
    ev.groupBy(col("event_type"))
      .agg(call_function("kmv_agg", col("h"), lit(K)).as("sk"),
        count_distinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        size(col("sk")).as("sketch_n"),
        pround(when(size(col("sk")) < K, col("n_exact").cast("double"))
          .otherwise(lit((K - 1).toDouble * M) / element_at(col("sk"), K)), 4)
          .as("est_distinct"))
  }

  val kmvByTypeSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT event_type, (user_id * $Mult) % $M AS h FROM events),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM d),
       |sk AS (
       |  SELECT event_type, count(*) AS sketch_n, max(h) AS hk
       |  FROM r WHERE rn <= $K GROUP BY 1),
       |n AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |      FROM events GROUP BY 1)
       |SELECT n.event_type, n.n_exact, sk.sketch_n,
       |  floor((CASE WHEN sk.sketch_n < $K THEN n.n_exact::DOUBLE
       |             ELSE ${(K - 1).toDouble} * $M / sk.hk END) * 10000.0 + 0.5) / 10000.0 AS est_distinct
       |FROM n JOIN sk USING (event_type)""".stripMargin

  /** Deterministic-sample keep threshold: ~10% of the hash space. */
  val SampleCut = 100000000L

  /** H2: approximate per-group quantiles from a DETERMINISTIC ~10%
    * hash-sample of rows — the portable stand-in for reservoir /
    * t-digest quantile sketches. The sample filter is map-side
    * (rows drop before any shuffle, the 100 TB property);
    * quantiles on the sample are exact interpolated percentiles,
    * so both engines agree bit-for-bit on the same sample. */
  def sampleQuantiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(pmod(col("event_id") * Mult, lit(M)) < SampleCut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sample"),
        pround(expr("percentile(value, 0.5)"), 4).as("p50"),
        pround(expr("percentile(value, 0.9)"), 4).as("p90"))

  val sampleQuantilesSql: String =
    s"""SELECT event_type, count(*) AS n_sample,
       |  floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
       |  floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90
       |FROM events
       |WHERE (event_id * $Mult) % $M < $SampleCut
       |GROUP BY event_type""".stripMargin

  /** I11: KMV sketch MERGEABILITY — the property that makes sketches
    * work distributed: per-day sketches (K smallest hashes per day,
    * the per-partition state an executor would hold) merged by
    * taking the K smallest of their union yield EXACTLY the sketch
    * of the whole stream, because any of the global K minima is
    * among its own day's K minima. The operator computes the
    * estimate both ways (merged vs direct) so the equality is in the
    * RESULT, not just a spec. Top-K selection is TakeOrdered (no
    * global sort window); everything else is one distinct shuffle. */
  def kmvMerge(s: SparkSession, dir: String): DataFrame = {
    val hashed = events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        pmod(col("user_id") * Mult, lit(M)).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wd = Window.partitionBy(col("day")).orderBy(col("h"))
    val daySketch = hashed.withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= K).select(col("day"), col("h"))
    def sketchOf(hs: DataFrame, pfx: String): DataFrame =
      hs.select(col("h")).distinct().orderBy(col("h")).limit(K)
        .agg(count(lit(1)).as(s"${pfx}_n"), max(col("h")).as(s"${pfx}_hk"))
    val merged = sketchOf(daySketch, "m")
    val direct = sketchOf(hashed, "d")
    val nDays = hashed.agg(count_distinct(col("day")).as("n_days"))
    val exact = events(s, dir).agg(count_distinct(col("user_id")).as("n_exact"))
    def est(n: org.apache.spark.sql.Column, hk: org.apache.spark.sql.Column) =
      pround(when(n < K, col("n_exact").cast("double"))
        .otherwise(lit((K - 1).toDouble * M) / hk), 4)
    val out = exact.crossJoin(broadcast(nDays)).crossJoin(broadcast(merged))
      .crossJoin(broadcast(direct))
      .select(col("n_days"), col("n_exact"),
        est(col("m_n"), col("m_hk")).as("est_merged"),
        est(col("d_n"), col("d_hk")).as("est_direct"))
      .localCheckpoint() // one-row result; release the cached hashes
    hashed.unpersist()
    out
  }

  val kmvMergeSql: String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |    (user_id * $Mult) % $M AS h
       |  FROM events),
       |day_sk AS (
       |  SELECT day, h FROM (
       |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM hashed)
       |  WHERE rn <= $K),
       |merged AS (SELECT h FROM (SELECT DISTINCT h FROM day_sk) ORDER BY h LIMIT $K),
       |direct AS (SELECT h FROM (SELECT DISTINCT h FROM hashed) ORDER BY h LIMIT $K),
       |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
       |SELECT (SELECT count(DISTINCT day) FROM hashed) AS n_days,
       |  ex.n_exact,
       |  floor((CASE WHEN (SELECT count(*) FROM merged) < $K THEN ex.n_exact::DOUBLE
       |             ELSE ${(K - 1).toDouble} * $M / (SELECT max(h) FROM merged) END) * 10000.0 + 0.5) / 10000.0 AS est_merged,
       |  floor((CASE WHEN (SELECT count(*) FROM direct) < $K THEN ex.n_exact::DOUBLE
       |             ELSE ${(K - 1).toDouble} * $M / (SELECT max(h) FROM direct) END) * 10000.0 + 0.5) / 10000.0 AS est_direct
       |FROM ex""".stripMargin

  /** I12: key-skew diagnostics — the DETECT half of the skew story
    * ([[ScalePatterns.skewAgg]]/[[ScalePatterns.skewJoin]] are the
    * mitigation): per-key row counts reduced to the shuffle-planning
    * stats that decide whether a key needs salting. One key-keyed
    * aggregate + one global reduce of 1 row per key. */
  def keySkewStats(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        pround(avg(col("cnt")), 4).as("avg_cnt"),
        pround(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"),
        pround(max(col("cnt")) / avg(col("cnt")), 4).as("skew_ratio"))

  val keySkewStatsSql: String =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
      |SELECT count(*) AS n_keys, sum(cnt)::BIGINT AS n_rows, max(cnt) AS max_cnt,
      |  floor((avg(cnt)) * 10000.0 + 0.5) / 10000.0 AS avg_cnt,
      |  floor((quantile_cont(cnt, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99_cnt,
      |  floor((max(cnt) / avg(cnt)) * 10000.0 + 0.5) / 10000.0 AS skew_ratio
      |FROM c""".stripMargin

  /** Two-phase heavy-hitter parameters: deterministic shard count,
    * per-shard candidate width, final top-K. Cand ≫ HhK gives the
    * candidate phase a wide safety margin (spec asserts equality with
    * the exact global top-K). */
  val Shards = 16
  val Cand = 50
  val HhK = 20

  /** J-line: heavy hitters (frequent tokens) via the two-phase
    * candidate + verify pattern — the distributed form of
    * space-saving / Misra-Gries. Phase 1 computes per-SHARD token
    * counts and keeps each shard's top-[[Cand]] as candidates; phase
    * 2 re-aggregates ONLY candidate tokens to exact global counts
    * (reusing the shard partials — the classic two-level aggregate)
    * and takes the top-[[HhK]]. At 100 TB the phase-2 shuffle carries
    * shards × |candidates| rows instead of the whole vocabulary.
    * Shards come from the portable doc_id hash, not
    * spark_partition_id, so the computation is a pure function of the
    * data and the oracle replays BOTH phases bit-for-bit.
    *
    * The candidate phase is exact only conditionally: a token below
    * rank [[Cand]] in EVERY shard is invisible, and its global count
    * is bounded by Σ_shards (shard's rank-[[Cand]] count). The result
    * CARRIES that certificate — `miss_bound` and `exact_topk` =
    * (K-th candidate count > miss_bound). If the flag is false the
    * emitted rows are the exact counts of a candidate superset but
    * the top-K itself is only probable — the caller's signal to raise
    * Cand (the standard guarantee check for two-level top-K). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select((pmod(col("doc_id") * Mult, lit(M)) % Shards).as("shard"),
        explode(graft.functions.TextFns.wsTokens(lower(col("text")))).as("w"))
    val shardCnt = toks.groupBy(col("shard"), col("w")).agg(count(lit(1)).as("cnt"))
    val ws = Window.partitionBy(col("shard")).orderBy(col("cnt").desc, col("w"))
    val ranked = shardCnt.withColumn("rn", row_number().over(ws))
    val cands = ranked.filter(col("rn") <= Cand).select(col("w")).distinct()
    // max possible global count of a token that is a candidate NOWHERE:
    // ≤ the rank-Cand cutoff in each shard it appears in, summed
    val missBound = ranked.filter(col("rn") === Cand)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("miss_bound"))
    val top = shardCnt.join(broadcast(cands), Seq("w"), "left_semi")
      .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(HhK)
    top.crossJoin(broadcast(missBound))
      .withColumn("exact_topk",
        min(col("cnt")).over(Window.partitionBy()) > col("miss_bound"))
  }

  /** J-line: mergeable plain-stats partials — the incremental-stats
    * counterpart of [[kmvMerge]]: per-day (n, Σv, min, max) partials
    * merged by (Σn, ΣΣv, min min, max max) equal the direct global
    * aggregate, because the sum runs in DECIMAL(18,4) (exact,
    * order/grouping-independent — a double Σ would differ between
    * the two grouping orders). This is the algebraic-aggregate
    * property that lets a 100 TB pipeline maintain daily stat rows
    * and answer global questions without rescanning history; the
    * equality is IN the result, not just a spec. The hashed output
    * carries the sums/extrema as ×10⁴ integer-scaled BIGINTs (exact,
    * since v is DECIMAL(18,4)) so no DECIMAL representation reaches
    * the cross-engine hash — the house convention from lm_score /
    * gini_diversity / dist_drift. */
  def statsMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      col("value").cast("decimal(18,4)").as("v"))
    val daily = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val merged = daily.agg(count(lit(1)).as("n_days"),
      sum(col("n")).as("merged_n"),
      (sum(col("sv")) * 10000).cast("long").as("merged_sum_e4"),
      (min(col("mn")) * 10000).cast("long").as("merged_min_e4"),
      (max(col("mx")) * 10000).cast("long").as("merged_max_e4"))
    val direct = ev.agg(count(lit(1)).as("direct_n"),
      (sum(col("v")) * 10000).cast("long").as("direct_sum_e4"),
      (min(col("v")) * 10000).cast("long").as("direct_min_e4"),
      (max(col("v")) * 10000).cast("long").as("direct_max_e4"))
    merged.crossJoin(broadcast(direct))
      .withColumn("lossless",
        col("merged_n") === col("direct_n") &&
        col("merged_sum_e4") === col("direct_sum_e4") &&
        col("merged_min_e4") === col("direct_min_e4") &&
        col("merged_max_e4") === col("direct_max_e4"))
  }

  val statsMergeSql: String =
    """WITH ev AS (
      |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |    CAST(value AS DECIMAL(18,4)) AS v
      |  FROM events),
      |daily AS (
      |  SELECT day, count(*) AS n, sum(v) AS sv, min(v) AS mn, max(v) AS mx
      |  FROM ev GROUP BY day),
      |m AS (
      |  SELECT count(*) AS n_days, sum(n)::BIGINT AS merged_n,
      |    CAST(sum(sv) * 10000 AS BIGINT) AS merged_sum_e4,
      |    CAST(min(mn) * 10000 AS BIGINT) AS merged_min_e4,
      |    CAST(max(mx) * 10000 AS BIGINT) AS merged_max_e4
      |  FROM daily),
      |d AS (
      |  SELECT count(*) AS direct_n,
      |    CAST(sum(v) * 10000 AS BIGINT) AS direct_sum_e4,
      |    CAST(min(v) * 10000 AS BIGINT) AS direct_min_e4,
      |    CAST(max(v) * 10000 AS BIGINT) AS direct_max_e4
      |  FROM ev)
      |SELECT n_days, merged_n, merged_sum_e4, merged_min_e4, merged_max_e4,
      |  direct_n, direct_sum_e4, direct_min_e4, direct_max_e4,
      |  merged_n = direct_n AND merged_sum_e4 = direct_sum_e4
      |    AND merged_min_e4 = direct_min_e4
      |    AND merged_max_e4 = direct_max_e4 AS lossless
      |FROM m CROSS JOIN d""".stripMargin

  val heavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT ((doc_id * $Mult) % $M) % $Shards AS shard,
       |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
       |  FROM documents),
       |sc AS (SELECT shard, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |r AS (
       |  SELECT shard, w, cnt,
       |    row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, w) AS rn
       |  FROM sc),
       |cand AS (SELECT DISTINCT w FROM r WHERE rn <= $Cand),
       |mb AS (SELECT COALESCE(sum(cnt), 0)::BIGINT AS miss_bound FROM r WHERE rn = $Cand),
       |top AS (
       |  SELECT w, sum(cnt)::BIGINT AS cnt
       |  FROM sc WHERE w IN (SELECT w FROM cand)
       |  GROUP BY w ORDER BY cnt DESC, w LIMIT $HhK)
       |SELECT w, cnt, miss_bound,
       |  min(cnt) OVER () > miss_bound AS exact_topk
       |FROM top, mb""".stripMargin

  /** CMS grid: depth rows × width cells, and the per-depth affine
    * hash constants (odd multipliers < M, fixed — the portable-hash
    * convention, so the sketch is a pure function of the data). */
  val CmsW = 512
  val CmsHashes: Seq[(Int, Long, Long)] = Seq(
    (0, 2654435761L, 0L),
    (1, 2246822519L, 12582917L),
    (2, 3266489917L, 25165843L),
    (3, 668265263L, 50331653L))
  /** Keys reported against the sketch. */
  val CmsTracked = 20

  /** K-line: COUNT-MIN SKETCH point queries — per-user event-count
    * estimates from a fixed d×w counter grid (d=4, w=[[CmsW]]),
    * reported for the top-[[CmsTracked]] users next to their exact
    * counts. The build is the whole scale story: the grid is a
    * GROUP BY (depth, cell) with map-side partial aggregation, i.e.
    * Spark's combiner IS the CMS merge — state is d·w cells (2048
    * longs) no matter how many events or users flow through, the
    * mergeable-sketch contract KMV gets from KmvAgg, written
    * relationally. Estimates broadcast the grid (2048 rows) into the
    * tracked keys; `est = min_d cell[d][h_d(u)]` never underestimates
    * (CMS guarantee, asserted in the spec and visible in the
    * `overest` column). Portable affine hashes make every cell — and
    * so the estimate — bit-identical in DuckDB. */
  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"))
    // g² mod M before the width reduction — consecutive ids under a
    // plain affine hash form an arithmetic progression mod w (see
    // bloomCalibrate); squaring de-linearizes the cell assignment
    val cellOf = (a: Long, b: Long) => {
      val g = pmod(col("user_id") * a + b, lit(M))
      pmod(pmod(g * g, lit(M)), lit(CmsW))
    }
    val grid = e
      .select(explode(array(CmsHashes.map { case (d, a, b) =>
        struct(lit(d).as("d"), cellOf(a, b).as("cell"))
      }: _*)).as("x"))
      .groupBy(col("x.d"), col("x.cell"))
      .agg(count(lit(1)).as("cnt"))
    val tracked = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id"))
      .limit(CmsTracked)
    tracked
      .select(col("user_id"), col("n_exact"),
        explode(array(CmsHashes.map { case (d, a, b) =>
          struct(lit(d).as("d"), cellOf(a, b).as("cell"))
        }: _*)).as("x"))
      .join(broadcast(grid),
        col("x.d") === col("d") && col("x.cell") === col("cell"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("user_id"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overest"))
  }

  lazy val cmsFreqSql: String = {
    val values = CmsHashes
      .map { case (d, a, b) => s"($d, ${a}, ${b})" }.mkString(", ")
    s"""WITH p(d, a, b) AS (VALUES $values),
       |grid AS (
       |  SELECT d,
       |    (((user_id * a + b) % $M) * ((user_id * a + b) % $M) % $M) % $CmsW AS cell,
       |    count(*) AS cnt
       |  FROM events CROSS JOIN p GROUP BY 1, 2),
       |tracked AS (
       |  SELECT user_id, count(*) AS n_exact FROM events
       |  GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT $CmsTracked),
       |est AS (
       |  SELECT t.user_id, t.n_exact, min(g.cnt)::BIGINT AS cms_est
       |  FROM tracked t CROSS JOIN p
       |  JOIN grid g ON g.d = p.d
       |    AND g.cell = (((t.user_id * p.a + p.b) % $M)
       |                  * ((t.user_id * p.a + p.b) % $M) % $M) % $CmsW
       |  GROUP BY 1, 2)
       |SELECT user_id, n_exact, cms_est, cms_est - n_exact AS overest
       |FROM est""".stripMargin
  }

  /** Bloom filter geometry: m bits, k probes (affine constants fixed
    * like [[CmsHashes]]). */
  val BloomM = 8192
  val BloomProbes: Seq[(Long, Long)] = Seq(
    (2654435761L, 97L), (2246822519L, 786433L), (3266489917L, 1572869L))
  /** Offset that maps every customer key outside the key space —
    * the synthetic guaranteed-non-member probe population. Must NOT
    * be ≡ a small offset mod M: the probe hash only sees keys mod M,
    * so a shift of 1e9 ≡ −7 (mod 1e9+7) would alias every shifted
    * key back onto a member key (measured: 143/150 false positives,
    * i.e. the negatives weren't negatives in hash space at all). */
  val BloomShift = 500000000L

  /** K-line: BLOOM FILTER CALIBRATION — build the filter over the
    * keys that HAVE orders, probe every customer, and report the
    * measured geometry: fill ratio, false-positive rate on the true
    * non-member population, and a zero false-negative proof column.
    * This is the observed-FPR read next to H15's `bloom_semi_join`
    * (which USES a bloom filter but can't tell you whether m and k
    * were right) — the ann_recall/dedup_sweep pattern applied to the
    * membership sketch. The bit array is relational: DISTINCT
    * (probe-index-free) bit positions of the member keys — set-bit
    * count is its cardinality, ≤ m rows total, broadcast into the
    * probe join; probing counts matched bits per key and demands all
    * k. The probe population is every customer PLUS a shifted
    * guaranteed-non-member twin per customer (key + [[BloomShift]],
    * outside the key space) so the true-negative pool is never empty
    * even when every customer has orders (it is at small SF).
    * Integer-exact throughout (the two ratios are single divisions
    * of exact counts, rounded identically). */
  def bloomCalibrate(s: SparkSession, dir: String): DataFrame = {
    // square the affine hash before the width reduction: consecutive
    // keys map to an ARITHMETIC PROGRESSION mod m under a plain
    // affine hash (step = a mod m), and any shifted copy of the key
    // range lands back on the same progression — measured 95% FPR on
    // the synthetic negatives. g² mod M breaks the linear structure
    // (the dedup_simhash parity lesson applied to bucket indices).
    val probesOf = (key: org.apache.spark.sql.Column) => array(
      BloomProbes.map { case (a, b) =>
        val g = pmod(key * a + b, lit(M))
        pmod(pmod(g * g, lit(M)), lit(BloomM)) }: _*)
    val members = orders(s, dir).select(col("o_custkey").as("key")).distinct()
    val bits = members
      .select(explode(probesOf(col("key"))).as("bit")).distinct()
    val isMember = members
      .withColumn("is_member", lit(1))
    val universe = customer(s, dir).select(col("c_custkey").as("key"))
      .unionAll(customer(s, dir)
        .select((col("c_custkey") + BloomShift).as("key")))
    val tested = universe
      .join(isMember, Seq("key"), "left_outer")
      .na.fill(0, Seq("is_member"))
      .select(col("key"), col("is_member"),
        explode(probesOf(col("key"))).as("bit"))
      .join(broadcast(bits.withColumn("set", lit(1))), Seq("bit"), "left_outer")
      .na.fill(0, Seq("set"))
      .groupBy(col("key"), col("is_member"))
      .agg(sum(col("set")).as("hits"))
      .withColumn("positive",
        when(col("hits") === BloomProbes.size, 1L).otherwise(0L))
    tested.agg(
      lit(BloomM).as("m_bits"),
      lit(BloomProbes.size).as("k_probes"),
      sum(col("is_member").cast("long")).as("n_members"),
      sum(lit(1) - col("is_member").cast("long")).as("n_nonmembers"),
      sum(when(col("is_member") === 1 && col("positive") === 0, 1L)
        .otherwise(0L)).as("false_negs"),
      sum(when(col("is_member") === 0 && col("positive") === 1, 1L)
        .otherwise(0L)).as("false_pos"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("set_bits"))))
      .select(col("m_bits"), col("k_probes"), col("n_members"),
        col("set_bits"),
        pround(lit(100.0) * col("set_bits") / BloomM, 4).as("fill_pct"),
        col("n_nonmembers"), col("false_negs"), col("false_pos"),
        pround(lit(100.0) * col("false_pos") / col("n_nonmembers"), 4)
          .as("fpr_pct"))
  }

  lazy val bloomCalibrateSql: String = {
    val values = BloomProbes
      .map { case (a, b) => s"(${a}, ${b})" }.mkString(", ")
    s"""WITH p(a, b) AS (VALUES $values),
       |members AS (SELECT DISTINCT o_custkey AS key FROM orders),
       |bits AS (
       |  SELECT DISTINCT (((key * a + b) % $M) * ((key * a + b) % $M) % $M) % $BloomM AS bit
       |  FROM members CROSS JOIN p),
       |universe AS (
       |  SELECT c_custkey AS key FROM customer
       |  UNION ALL SELECT c_custkey + $BloomShift FROM customer),
       |tested AS (
       |  SELECT u.key,
       |    CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member,
       |    sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS hits
       |  FROM universe u
       |  LEFT JOIN members m ON m.key = u.key
       |  CROSS JOIN p
       |  LEFT JOIN bits b ON b.bit =
       |    (((u.key * p.a + p.b) % $M) * ((u.key * p.a + p.b) % $M) % $M) % $BloomM
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT
       |    sum(is_member)::BIGINT AS n_members,
       |    sum(1 - is_member)::BIGINT AS n_nonmembers,
       |    sum(CASE WHEN is_member = 1 AND hits < ${BloomProbes.size}
       |        THEN 1 ELSE 0 END)::BIGINT AS false_negs,
       |    sum(CASE WHEN is_member = 0 AND hits = ${BloomProbes.size}
       |        THEN 1 ELSE 0 END)::BIGINT AS false_pos
       |  FROM tested)
       |SELECT $BloomM AS m_bits, ${BloomProbes.size} AS k_probes,
       |  n_members, (SELECT count(*) FROM bits)::BIGINT AS set_bits,
       |  floor((100.0 * (SELECT count(*) FROM bits) / $BloomM) * 10000.0 + 0.5) / 10000.0 AS fill_pct,
       |  n_nonmembers, false_negs, false_pos,
       |  floor((100.0 * false_pos / n_nonmembers) * 10000.0 + 0.5) / 10000.0 AS fpr_pct
       |FROM agg""".stripMargin
  }

  /** HLL geometry: m registers; rho is the trailing-zero rank of the
    * sub-bucket hash w < M/m < 2^24, so rho ∈ [1, 24] with w = 0
    * capped at [[HllRhoMax]]. */
  val HllM = 64
  val HllRhoMax = 25

  /** α_m·m²·2^[[HllRhoMax]] — the raw-estimate numerator over the
    * EXACT-INTEGER denominator Zint = Σ 2^(RhoMax−M_j) (α_64 = 0.709,
    * the published constant for m = 64). */
  val HllNum: Double = 0.709 * HllM * HllM * (1L << HllRhoMax).toDouble

  /** Small-range (linear-counting) switch: raw ≤ 2.5·m. */
  val HllSmallRange: Double = 2.5 * HllM

  /** Linear-counting lookup m·ln(m/V) for every possible empty-register
    * count V ∈ [1, m]: ln is banned as ENGINE arithmetic (libm log
    * differs across engines at ulp scale — the floor(log2) lesson),
    * but here the transcendental has only m possible inputs, so it is
    * evaluated ONCE in Scala and shipped to BOTH engines as literal
    * constants — the estimate stays a pure integer-keyed lookup. */
  val HllLinear: Seq[(Long, Double)] =
    (1 to HllM).map(v => (v.toLong, HllM * math.log(HllM.toDouble / v)))

  /** K43: HYPERLOGLOG DISTINCT — the canonical mergeable cardinality
    * sketch next to H1's KMV, written relationally so the driver's
    * hash gate applies: registers are GROUP BY (type, bucket) MAX(rho)
    * — Spark's map-side max combiner IS the HLL merge, state m small
    * ints per group no matter how many events flow through (the CMS
    * grid contract applied to cardinality). Portability: rho is the
    * trailing-zero rank via the pure-integer lowbit trick
    * w − (w AND (w−1)) joined against a 24-row powers table (never
    * floor(log2) — Spark's ln-based log2 lands below whole numbers at
    * exact powers of two); the harmonic denominator is the EXACT
    * BIGINT Zint = Σ 2^(RhoMax−M_j) + V·2^RhoMax so summation order
    * cannot perturb it, and the only float ops are one division and
    * the literal [[HllLinear]] lookup, identical in both engines.
    * Small-range regime (V > 0, raw ≤ 2.5m) switches to linear
    * counting per the published algorithm; the exact count rides
    * along exposing the error, the `regime` column pins which
    * estimator fired. Reference: DSAcord tracks ingest volume with a
    * single atomic row counter (main.go:21, utils.go:115) — this is
    * the per-key cardinality read that counter can't give once the
    * key set no longer fits one node's memory. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rhoDf = (1 to HllRhoMax - 1).map(r => (1L << (r - 1), r))
      .toDF("lowbit", "rho")
    val powDf = (1 to HllRhoMax).map(r => (r, 1L << (HllRhoMax - r)))
      .toDF("mj", "pw")
    val lcDf = HllLinear.toDF("n_empty", "lc")
    val wb = events(s, dir)
      .select(col("event_type"), pmod(col("user_id") * Mult, lit(M)).as("h"))
      .select(col("event_type"),
        pmod(col("h"), lit(HllM.toLong)).as("j"),
        expr(s"h div $HllM").as("w"))
    val reg = wb
      .withColumn("lowbit", col("w") - col("w").bitwiseAND(col("w") - 1))
      .join(broadcast(rhoDf), Seq("lowbit"), "left_outer")
      .withColumn("rho", coalesce(col("rho"), lit(HllRhoMax)))
      .groupBy(col("event_type"), col("j"))
      .agg(max(col("rho")).as("mj"))
    val z = reg.join(broadcast(powDf), Seq("mj"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_present"), sum(col("pw")).as("zp"))
      .select(col("event_type"),
        (lit(HllM.toLong) - col("n_present")).as("n_empty"),
        (col("zp") + (lit(HllM.toLong) - col("n_present"))
          * (1L << HllRhoMax)).as("zint"))
    val exact = events(s, dir).groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    exact.join(z, Seq("event_type"))
      .withColumn("raw", lit(HllNum) / col("zint"))
      .join(broadcast(lcDf), Seq("n_empty"), "left_outer")
      .select(col("event_type"), col("n_exact"), col("n_empty"),
        when(col("n_empty") > 0 && col("raw") <= HllSmallRange,
          lit("linear")).otherwise(lit("raw")).as("regime"),
        pround(when(col("n_empty") > 0 && col("raw") <= HllSmallRange,
          col("lc")).otherwise(col("raw")), 4).as("est_hll"))
  }

  lazy val hllDistinctSql: String = {
    val rhoVals = (1 to HllRhoMax - 1)
      .map(r => s"(${1L << (r - 1)}, $r)").mkString(", ")
    val powVals = (1 to HllRhoMax)
      .map(r => s"($r, ${1L << (HllRhoMax - r)})").mkString(", ")
    val lcVals = HllLinear.map { case (v, lc) => s"($v, $lc)" }.mkString(", ")
    s"""WITH lb(lowbit, rho) AS (VALUES $rhoVals),
       |pw(mj, p) AS (VALUES $powVals),
       |lc(n_empty, lc) AS (VALUES $lcVals),
       |wb AS (
       |  SELECT event_type,
       |    ((user_id * $Mult) % $M) % $HllM AS j,
       |    ((user_id * $Mult) % $M) // $HllM AS w
       |  FROM events),
       |reg AS (
       |  SELECT event_type, j, max(coalesce(lb.rho, $HllRhoMax)) AS mj
       |  FROM wb LEFT JOIN lb ON (w - (w & (w - 1))) = lb.lowbit
       |  GROUP BY 1, 2),
       |z AS (
       |  SELECT event_type,
       |    ($HllM - count(*))::BIGINT AS n_empty,
       |    (sum(p) + ($HllM - count(*)) * ${1L << HllRhoMax})::BIGINT AS zint
       |  FROM reg JOIN pw ON reg.mj = pw.mj GROUP BY 1),
       |ex AS (
       |  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
       |  FROM events GROUP BY 1),
       |est AS (
       |  SELECT ex.event_type, n_exact, z.n_empty, $HllNum / zint AS raw, lc.lc
       |  FROM ex JOIN z USING (event_type)
       |  LEFT JOIN lc ON lc.n_empty = z.n_empty)
       |SELECT event_type, n_exact, n_empty,
       |  CASE WHEN n_empty > 0 AND raw <= $HllSmallRange
       |       THEN 'linear' ELSE 'raw' END AS regime,
       |  floor((CASE WHEN n_empty > 0 AND raw <= $HllSmallRange
       |        THEN lc ELSE raw END) * 10000.0 + 0.5) / 10000.0 AS est_hll
       |FROM est""".stripMargin
  }

  /** Histogram bucket width for [[quantileMerge]], in value cents —
    * the generator's value range (≤ ~50k cents) yields ≤ ~50 buckets,
    * so every histogram frame is report-sized at any corpus scale. */
  val QmWidth = 1000L

  /** K92: MERGEABLE HISTOGRAM QUANTILES — the quantile leg of the
    * mergeable-sketch family (J20 stats_merge covers moments, I11
    * kmv_merge distincts): per-day fixed-grid integer histograms
    * (bucket = value-cents div [[QmWidth]] — the per-partition state
    * an executor would hold) merged by plain count addition, with
    * p50/p90/p99 read off the merged cumulative histogram. Like
    * kmv_merge, the mergeability proof is IN THE RESULT: the same
    * quantiles computed from the direct one-pass histogram ride
    * along, and the oracle hashes both. Everything is exact integer
    * arithmetic on the ×100 grid (ceil-rank = (p·n + 99) div 100;
    * the reported quantile is the bucket lower bound in cents) —
    * grid resolution is the honest, engine-portable stand-in for
    * t-digest/GK sketches whose merge order no oracle can pin. The
    * cumulative window runs over the ≤ ~50-bucket frame (bounded by
    * value-range/width, never by rows — the gridPct argument). */
  def quantileMerge(s: SparkSession, dir: String): DataFrame = {
    val q = events(s, dir).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      expr(s"CAST(floor(value * 100 + 0.5) AS BIGINT) div $QmWidth")
        .as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDay = q.groupBy(col("day"), col("bucket")).agg(count(lit(1)).as("c"))
    val merged = perDay.groupBy(col("bucket")).agg(sum(col("c")).as("c"))
    val direct = q.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val n = q.agg(count(lit(1)).as("n"))
    def quants(h: DataFrame, pfx: String): DataFrame = {
      // bounded-cardinality frame: ≤ value-range/QmWidth buckets
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("c")).over(w))
        .crossJoin(broadcast(n))
        .agg(
          (min(when(col("cum") >= expr("(50 * n + 99) div 100"),
            col("bucket"))) * QmWidth).as(s"${pfx}_p50_q"),
          (min(when(col("cum") >= expr("(90 * n + 99) div 100"),
            col("bucket"))) * QmWidth).as(s"${pfx}_p90_q"),
          (min(when(col("cum") >= expr("(99 * n + 99) div 100"),
            col("bucket"))) * QmWidth).as(s"${pfx}_p99_q"))
    }
    val nb = merged.agg(count(lit(1)).as("n_buckets"))
    val out = n.crossJoin(broadcast(nb))
      .crossJoin(broadcast(quants(merged, "m")))
      .crossJoin(broadcast(quants(direct, "d")))
      .localCheckpoint() // 1-row report; release the cached buckets
    q.unpersist()
    out
  }

  val quantileMergeSql: String =
    s"""WITH q AS (
       |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) // $QmWidth AS bucket
       |  FROM events),
       |pd AS (SELECT day, bucket, count(*) AS c FROM q GROUP BY 1, 2),
       |m AS (SELECT bucket, sum(c)::BIGINT AS c FROM pd GROUP BY 1),
       |d AS (SELECT bucket, count(*)::BIGINT AS c FROM q GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM q),
       |mc AS (SELECT bucket, sum(c) OVER (ORDER BY bucket
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM m),
       |dc AS (SELECT bucket, sum(c) OVER (ORDER BY bucket
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
       |mq AS (
       |  SELECT
       |    min(CASE WHEN cum >= (50 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS m_p50_q,
       |    min(CASE WHEN cum >= (90 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS m_p90_q,
       |    min(CASE WHEN cum >= (99 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS m_p99_q
       |  FROM mc, n),
       |dq AS (
       |  SELECT
       |    min(CASE WHEN cum >= (50 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS d_p50_q,
       |    min(CASE WHEN cum >= (90 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS d_p90_q,
       |    min(CASE WHEN cum >= (99 * n.n + 99) // 100 THEN bucket END) * $QmWidth AS d_p99_q
       |  FROM dc, n),
       |nb AS (SELECT count(*) AS n_buckets FROM m)
       |SELECT n.n, nb.n_buckets, mq.m_p50_q, mq.m_p90_q, mq.m_p99_q,
       |  dq.d_p50_q, dq.d_p90_q, dq.d_p99_q
       |FROM n, nb, mq, dq""".stripMargin

  /** K89: KMV SET-OPERATION ESTIMATES — pairwise cross-source
    * CONTENT overlap (union + intersection + Jaccard) from mergeable
    * K-minimum-values sketches over each source's distinct 3-gram
    * shingle hashes, with the exact answers alongside (the kmv
    * family's expose-the-error convention). This is the sketch-side
    * sibling of source_overlap (which counts near-dup PAIRS): "how
    * much of feed B's content does feed A already cover" answered
    * WITHOUT an exact pairwise distinct — at 100 TB only the
    * S × [[K]] sketch rows (S = #sources, report-sized) ever meet,
    * built by ONE [[graft.plans.KmvAgg]] pass whose shuffle carries
    * ≤ K longs per (task, source). Estimator: rank the union of the
    * two sketches, keep the K smallest; θ = K-th value;
    * ρ = |hashes ≤ θ present in BOTH| / K estimates Jaccard directly
    * and (K−1)·M/θ the union size — all INTEGER arithmetic
    * (per-million rates, integer division), so the driver's hash
    * gate applies to the estimates. The exact side joins distinct
    * (source, h) postings on h — per-hash expansion bounded by S²,
    * linear in postings — and is the declared recall oracle the
    * sketch path would REPLACE at scale.
    *
    * Slope term, pinned (r11 VERDICT item 3 — 3.42 s warm, slope 4.1
    * mid-bench): three-SF probe (QProbe, warm min, idle box) sf0.001
    * 2.81 s / sf0.01 2.08 s / sf0.1 3.82 s over distinct (source,
    * gram) postings of 26.2k / 25.5k / 207k (the two small SFs share
    * the 500-doc documents table, and their times agree within
    * noise — no term grows without the corpus). Fit: t ≈ 1.9 s fixed
    * + 1.9 s·(postings/207k). The dominant DATA term is the linear
    * postings build (tokenize + distinct) plus the h-keyed grouped
    * exact-common aggregate, both ∝ postings — which grow 8.1× for
    * the 10× token step (Heaps-regime sublinear). The S²-bounded
    * per-hash pair fanout the r11 verdict asked about is INVISIBLE:
    * the pair matrix, sketch rows and union window are all
    * report-sized (S sources → ≤C(S,2)·K rows). The fixed ~2 s is
    * plan machinery (six small frames, checkpoint, pair window)
    * that dilutes at scale; mid-bench slope 4.1 vs standalone 1.84
    * is the suite effect — the sf0.01 denominator runs fully
    * JIT-warm mid-suite while the headline numerator absorbs suite
    * contention. */
  def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val d = kmvPostings(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = kmvIntersectFrame(d)
      .localCheckpoint() // pair-matrix-sized; release the cached postings
    d.unpersist()
    out
  }

  /** Exact per-source-pair common-hash counts over the distinct
    * (source, h) postings: group by h ONCE (collect the ≤|sources|
    * member set, fan out its ordered pairs map-side — one h-keyed
    * aggregate, no join) instead of the prior self-join on h, which
    * shuffled the postings twice. Adjacency per hash is tiny,
    * ≤ C(|sources|, 2) pairs per h. r10 A/B at sf0.1 (5 alternating
    * rounds): warm is a tie (grouped med/min 4.22/3.91 vs join
    * 4.35/3.76) but the grouped first pass is 6.4 vs 17.4 s (far
    * lighter plan/codegen) — the grouped form ships on the
    * structural argument: one postings shuffle instead of two, and
    * per-key fanout bounded by the source count, never corpus
    * size. */
  private def exactCommon(d: DataFrame): DataFrame = {
    val ss = col("ss")
    d.groupBy(col("h")).agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(ss) >= 2)
      .select(explode(flatten(transform(ss, (a, i) =>
        transform(slice(ss, i + 2, size(ss)),
          b => struct(a.as("sa"), b.as("sb"))))))
        .as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** Distinct (source, shingle-hash) postings for [[kmvIntersect]].
    *
    * Gram hashes come from the one-pass
    * [[graft.plans.TokenGramHashes]] kernel instead of the
    * shingles → explode → str_poly_hash string chain: this operator
    * only ever keys on the HASH, so the kernel (bit-identical hash
    * per gram, no gram strings materialized) changes nothing —
    * per-doc duplicate grams the old array_distinct removed fall to
    * the same (source, h) distinct. The `otherwise(array(0))` arm
    * replays the chain's zero-token convention (shingles emits the
    * whole-doc '' gram, strHash('') = 0) where the kernel folds the
    * empty case away — no corpus dependence. */
  private[graft] def kmvPostings(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextFns.wsTokens(lower(col("text")))
    graft.Tables.documents(s, dir)
      .select(col("source"),
        explode(when(size(toks) > 0,
            call_function("token_gram_hashes", lower(col("text")), lit(3L)))
          .otherwise(array(lit(0L)))).as("h"))
      .distinct()
  }

  /** The per-source sketch+count aggregate — un-checkpointed so
    * PlanSpec can assert the two-phase ObjectHashAggregate shape. */
  private[graft] def kmvSourceSketch(d: DataFrame): DataFrame =
    d.groupBy(col("source"))
      .agg(call_function("kmv_agg", col("h"), lit(K)).as("sk"),
        count(lit(1)).as("n"))

  /** The un-checkpointed estimate/exact plan over given postings,
    * split out so PlanSpec can assert the ObjectHashAggregate sketch
    * shape (the ngramNoveltyFrame convention — localCheckpoint above
    * truncates the executed plan). */
  private[graft] def kmvIntersectFrame(d: DataFrame): DataFrame = {
    // ONE combining pass over the postings yields sketch + exact
    // count per source; the 20-row result is materialized once and
    // every small-side frame (sketch rows, source list, pair matrix,
    // n_a/n_b) derives from it — the cached postings are read only
    // here and by the exact common-hash aggregate below (2 passes,
    // not 4)
    val agg = kmvSourceSketch(d).localCheckpoint()
    val srcs = agg.select(col("source"))
    val pairs = srcs.as("pa")
      .join(broadcast(srcs.as("pb")), col("pa.source") < col("pb.source"))
      .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
    // union-sketch stats straight off the two SORTED sketch arrays
    // (KmvAgg emits ascending TreeSet order): the K smallest of the
    // union is slice(sorted union, K); theta its last element;
    // sk_both counts intersection hashes ≤ theta — h is in the kept
    // union prefix iff h ≤ theta, since the union is distinct. The
    // former form exploded every sketch row, shuffled
    // (pair, h) tuples and ranked them with a per-pair window —
    // three operators over rows this pair matrix never needed to
    // leave the broadcast side for. Pure codegen HOFs on C(S,2)
    // rows; at 100 TB the sketch algebra stays report-sized.
    val su = pairs
      .join(broadcast(agg.select(col("source").as("sa"), col("sk").as("ska"))), "sa")
      .join(broadcast(agg.select(col("source").as("sb"), col("sk").as("skb"))), "sb")
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
      .withColumn("sk_union_n", size(col("u")).cast("long"))
      .withColumn("theta", element_at(col("u"), size(col("u"))))
      .withColumn("sk_both",
        size(filter(array_intersect(col("ska"), col("skb")),
          h => h <= col("theta"))).cast("long"))
      .select(col("sa"), col("sb"), col("sk_union_n"), col("theta"),
        col("sk_both"))
    val n = agg.select(col("source"), col("n"))
    val c = exactCommon(d)
    pairs
      .join(broadcast(n.select(col("source").as("sa"), col("n").as("n_a"))), "sa")
      .join(broadcast(n.select(col("source").as("sb"), col("n").as("n_b"))), "sb")
      .join(c, Seq("sa", "sb"), "left_outer")
      .na.fill(0L, Seq("n_common"))
      .join(su, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("n_common"),
        expr("(n_common * 1000000) div (n_a + n_b - n_common)")
          .as("jac_exact_pm"),
        col("sk_union_n"), col("sk_both"),
        expr("(sk_both * 1000000) div sk_union_n").as("jac_est_pm"),
        expr(s"CASE WHEN sk_union_n = $K THEN (${K - 1}L * ${M}L) div theta " +
          "ELSE sk_union_n END").as("est_union_q"))
  }

  val kmvIntersectSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, source, CASE WHEN len(toks) >= 3
       |    THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                        for i in range(1, len(toks) - 1)])
       |    ELSE [array_to_string(toks, ' ')] END AS gs
       |  FROM toks),
       |d AS (
       |  SELECT DISTINCT source, list_reduce(list_prepend(0::BIGINT,
       |      [ascii(c)::BIGINT for c in string_split(gram, '')]),
       |    (a, x) -> (a * 31 + x) % $M) AS h
       |  FROM (SELECT source, unnest(gs) AS gram FROM g)),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM d)
       |  WHERE rn <= $K),
       |srcs AS (SELECT DISTINCT source FROM d),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |          FROM srcs a, srcs b WHERE a.source < b.source),
       |u AS (
       |  SELECT p.sa, p.sb, s.h,
       |    max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
       |    max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
       |  FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
       |  GROUP BY 1, 2, 3),
       |su AS (
       |  SELECT sa, sb, count(*) AS sk_union_n, max(h) AS theta,
       |    sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)::BIGINT AS sk_both
       |  FROM (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |        FROM u)
       |  WHERE rn <= $K GROUP BY 1, 2),
       |n AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
       |c AS (
       |  SELECT x.source AS sa, y.source AS sb, count(*) AS n_common
       |  FROM d x JOIN d y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT p.sa, p.sb, na.n AS n_a, nb.n AS n_b,
       |  coalesce(c.n_common, 0)::BIGINT AS n_common,
       |  (coalesce(c.n_common, 0) * 1000000)
       |    // (na.n + nb.n - coalesce(c.n_common, 0)) AS jac_exact_pm,
       |  su.sk_union_n, su.sk_both,
       |  (su.sk_both * 1000000) // su.sk_union_n AS jac_est_pm,
       |  CASE WHEN su.sk_union_n = $K THEN (${K - 1}::BIGINT * $M) // su.theta
       |       ELSE su.sk_union_n END AS est_union_q
       |FROM pairs p
       |JOIN n na ON na.source = p.sa
       |JOIN n nb ON nb.source = p.sb
       |LEFT JOIN c ON c.sa = p.sa AND c.sb = p.sb
       |JOIN su ON su.sa = p.sa AND su.sb = p.sb""".stripMargin

  /** K102: PRESENCE-BITMAP distinct counting — the EXACT mergeable
    * distinct structure for dense bounded domains (the roaring-bitmap
    * idea written relationally): active days per event type as packed
    * 64-bit words (word = day div 64, bit = day mod 64), built by a
    * `bit_or` aggregate whose map-side combiner IS the bitmap merge.
    * Where KMV/HLL trade exactness for fixed size on UNBOUNDED
    * domains, a calendar of days is bounded: state per group is
    * span/64 longs — exact, mergeable by OR, and the natural
    * union/intersection algebra for segment overlap.
    *
    * The mergeability proof rides in the result (the stats_merge /
    * quantile_merge convention): the same bitmap built per user-shard
    * and OR-merged across 8 shards must count identically to the
    * direct build (`lossless`), and both must equal what the oracle
    * computes as plain COUNT(DISTINCT day) — a wrong shift, OR, or
    * popcount breaks the hash gate.
    *
    * Shape: two map-side-combined aggregates over (type, word) /
    * (type, shard, word) cells — cell count bounded by
    * types × span/64 (× shards), never by rows; popcount folds each
    * group's words into one row per type. */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      col("event_type"), col("user_id"),
      datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
    val cells = ev
      .withColumn("w", expr("d div 64"))
      .withColumn("bit", expr("shiftleft(1L, cast(d % 64 as int))"))
    val direct = cells.groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(bit)").as("bm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("bit_count(bm)")).cast("long").as("n_days_direct"))
    // shard-partial bitmaps, then the OR-merge (the mergeable contract)
    val merged = cells
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8L)).as("shard"), col("w"))
      .agg(expr("bit_or(bit)").as("bm"))
      .groupBy(col("event_type"), col("w"))
      .agg(expr("bit_or(bm)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(bm)")).cast("long").as("n_days_merged"))
    val base = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("d")).as("d_min"), max(col("d")).as("d_max"))
    base.join(direct, Seq("event_type")).join(merged, Seq("event_type"))
      .withColumn("lossless", col("n_days_direct") === col("n_days_merged"))
  }

  /** The oracle counts distinct days straight — equality with BOTH
    * bitmap legs is exactly the exactness claim. */
  val bitmapDistinctSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS d
      |  FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  min(d) AS d_min, max(d) AS d_max,
      |  count(DISTINCT d // 64) AS n_words,
      |  count(DISTINCT d) AS n_days_direct,
      |  count(DISTINCT d) AS n_days_merged,
      |  count(DISTINCT d) = count(DISTINCT d) AS lossless
      |FROM ev GROUP BY event_type""".stripMargin
}
