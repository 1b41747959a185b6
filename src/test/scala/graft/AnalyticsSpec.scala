package graft

import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q1_agg groups by flag/status and sums") {
    val rows = run("q1_agg").collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    val expected = Tables.lineitem(spark, sf)
      .filter("l_shipdate <= timestamp'1998-09-02 00:00:00'").count()
    assert(rows.map(_.getLong(8)).sum == expected)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("grouping_sets: every level conserves the grand total, gid disambiguates") {
    val rows = run("grouping_sets").collect()
      .map(r => (r.getAs[Long]("gid"), Option(r.getAs[String]("l_returnflag")),
        Option(r.getAs[String]("l_linestatus")), r.getAs[Long]("sum_qty"),
        r.getAs[Long]("n_items")))
    val byGid = rows.groupBy(_._1)
    assert(byGid.keySet == Set(0L, 1L, 3L), s"unexpected gid set: ${byGid.keySet}")
    // () level is one row; each coarser level resums the finer one exactly
    val total = byGid(3L) match { case Array(t) => (t._4, t._5) }
    assert(byGid(1L).map(_._4).sum == total._1 && byGid(1L).map(_._5).sum == total._2)
    assert(byGid(0L).map(_._4).sum == total._1 && byGid(0L).map(_._5).sum == total._2)
    // gid encodes exactly which columns are rolled up
    rows.foreach {
      case (0L, rf, ls, _, _) => assert(rf.isDefined && ls.isDefined)
      case (1L, rf, ls, _, _) => assert(rf.isDefined && ls.isEmpty)
      case (3L, rf, ls, _, _) => assert(rf.isEmpty && ls.isEmpty)
      case other => fail(s"impossible row: $other")
    }
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every non-oracled query is on the documented rows-only list") {
    // adding a query without an oracle must be a DELIBERATE decision
    // with a stated reason (SURVEY.md §4) — this guard fails on drift
    val rowsOnly = Set("compact_files", "table_sizes")
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == rowsOnly)
  }

  test("q5_multijoin returns per-nation revenue for ASIA only") {
    val rows = run("q5_multijoin").collect()
    assert(rows.nonEmpty && rows.length <= 5) // 5 nations per region
  }

  test("topn_per_group returns at most 3 per priority, ranked") {
    val rows = run("topn_per_group").collect()
    val byPrio = rows.groupBy(_.getString(0))
    assert(byPrio.size == 5)
    byPrio.values.foreach { g =>
      assert(g.length <= 3)
      val prices = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(prices.sameElements(prices.sortBy(-(_: Double))))
    }
  }

  test("windowed_counts partitions all events into hourly buckets") {
    val n = run("windowed_counts").agg(sum("n")).collect()(0).getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("sessionize: session counts sum to event count; gaps split sessions") {
    val sess = run("sessionize")
    assert(sess.agg(sum("n_events")).collect()(0).getLong(0) ==
      Tables.events(spark, sf).count())
    // at least one user has >1 session in a month of events
    assert(sess.groupBy("user_id").count().filter(col("count") > 1).count() > 0)
    // 00:00:00.900 → 00:30:00.950 is 1800.05 s: past the 30-min gap,
    // though the whole seconds are exactly 1800 apart
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sessionize_gap").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.900"), 7L, "view", 1.0, "{}"),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00.950"), 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("sessionize")(spark, dir).count() == 2)
  }

  test("semi_anti_join: order-holders without urgent orders, non-empty") {
    val got = run("semi_anti_join").count()
    assert(got > 0)
    val urgentCustomers = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct().count()
    val orderCustomers = Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(got == orderCustomers - urgentCustomers)
  }

  test("rollup_agg contains grand total row equal to full count") {
    val all = run("rollup_agg")
      .filter(col("flag") === "ALL" && col("status") === "ALL").collect()
    assert(all.length == 1)
    assert(all(0).getAs[Long]("n") == Tables.lineitem(spark, sf).count())
  }

  test("pivot_events row sums equal per-user event counts") {
    val p = run("pivot_events")
    val total = p.select((col("click") + col("view") + col("purchase") +
      col("signup") + col("error")).as("t")).agg(sum("t")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("percentiles are ordered p50 <= p90 <= p100") {
    run("percentiles").collect().foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3))
    }
  }

  test("percentiles: grid formulation equals the exact percentile() twin, no per-group buffering") {
    val grid = run("percentiles").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(graft.Portable.pround(expr("percentile(value, 0.5)"), 4).as("p50"),
        graft.Portable.pround(expr("percentile(value, 0.9)"), 4).as("p90"),
        graft.Portable.pround(max(col("value")), 4).as("p100"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(grid == exact, s"grid=$grid\nexact=$exact")
    // and the scale property: the buffering Percentile aggregate is gone
    val plan = SparkEntry.queries("percentiles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("), s"Percentile aggregate still in plan:\n$plan")
  }

  test("array_explode_agg returns top words") {
    val rows = run("array_explode_agg").collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-(_: Long))))
  }

  test("json_extract parses props.k") {
    val rows = run("json_extract").collect()
    assert(rows.length == 5)
    assert(rows.forall(r => !r.isNullAt(1) && r.getLong(2) >= 0))
  }

  test("trade_volume: no same-nation cells, item counts match an independent recount") {
    val cells = run("trade_volume").collect()
    assert(cells.nonEmpty)
    cells.foreach(r => assert(r.getString(0) != r.getString(1)))
    // independent recount of the total cross-nation item count
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .count()
    assert(cells.map(_.getAs[Long]("n_items")).sum == expected)
  }

  test("yoy_growth: lag chain is consistent and growth recomputes from rounded revs") {
    val rows = run("yoy_growth").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { ns =>
      val byYr = ns.sortBy(_._2)
      assert(byYr.head._4.isEmpty, "first year must have null prev_rev")
      byYr.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        assert(b._4.contains(a._3), s"prev_rev chain broken at ${b._1} ${b._2}")
        val g = graft.Portable.jround((b._3 - a._3) / a._3, 4)
        assert(math.abs(b._5.get - g) < 1e-9, s"growth at ${b._1} ${b._2}")
      }
    }
  }

  test("promo_revenue: share recomputes from the rounded sums, months partition the join") {
    val rows = run("promo_revenue").collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_items")).sum
    // every lineitem with a matching part lands in exactly one month
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey")).count()
    assert(n == expected)
    rows.foreach { r =>
      val promo = r.getAs[Double]("promo_rev")
      val total = r.getAs[Double]("total_rev")
      assert(promo >= 0 && promo <= total)
      // mirror the emitter's shape: the pct divides the EXACT ×10⁴
      // integers, not the rounded reporting doubles — tolerance-check
      assert(math.abs(r.getAs[Double]("promo_pct") - 100.0 * promo / total) < 1e-3)
    }
    // PROMO parts exist in the corpus, so the share is not vacuous
    assert(rows.exists(_.getAs[Double]("promo_rev") > 0))
  }

  test("q17_small_qty: brand counts replay the per-part-average threshold locally") {
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong,
        math.floor(r.getDouble(2) * (1 - r.getDouble(3)) * 10000 + 0.5).toLong))
    val brands = Tables.part(spark, sf).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stats = li.groupBy(_._1).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(_._2).sum)
    }
    val expected = li
      .filter { case (pk, q, _) =>
        val (cnt, sumQ) = stats(pk); q * cnt * 5 < sumQ
      }
      .groupBy(t => brands(t._1))
      .map { case (b, rs) => b -> (rs.length.toLong, rs.map(_._3).sum) }
    val got = run("q17_small_qty").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_small"), r.getAs[Double]("avg_yearly"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (b, (n, revQ)) =>
      assert(got(b)._1 == n, s"brand $b count: ${got(b)._1} vs $n")
      val yearly = graft.Portable.jround(revQ / 10000.0 / 7.0, 4)
      assert(got(b)._2 == yearly, s"brand $b: ${got(b)._2} vs $yearly")
    }
    // the per-part threshold must actually prune (not pass everything)
    assert(expected.values.map(_._1).sum < li.length / 2)
  }

  test("order_count_hist: histogram covers every customer exactly once, zeros included") {
    val perCust = Tables.orders(spark, sf).select("o_custkey").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val custs = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0))
    val expected = custs.map(c => perCust.getOrElse(c, 0L))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = run("order_count_hist").collect()
      .map(r => r.getAs[Long]("c_count") -> r.getAs[Long]("n_cust")).toMap
    assert(got == expected)
    // every customer lands in exactly one bucket
    assert(got.values.sum == custs.length.toLong)
  }

  test("top_supplier: exactly the argmax suppliers of quantized quarterly revenue") {
    val lo = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("1996-04-01T00:00:00")
    val rev = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate").collect()
      .filter { r =>
        val d = r.getAs[java.time.LocalDateTime](3)
        !d.isBefore(lo) && d.isBefore(hi)
      }
      .map(r => r.getLong(0) ->
        math.floor(r.getDouble(1) * (1 - r.getDouble(2)) * 10000 + 0.5).toLong)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val maxQ = rev.values.max
    val expected = rev.filter(_._2 == maxQ).keySet
    val got = run("top_supplier").collect()
    assert(got.map(_.getAs[Long]("s_suppkey")).toSet == expected)
    got.foreach(r => assert(
      math.abs(r.getAs[Double]("total_revenue") - maxQ / 10000.0) < 1e-6))
  }

  test("idle_customers: above-positive-average balance AND no recent orders, exact threshold") {
    val cutoff = java.time.LocalDateTime.parse(
      graft.queries.Analytics.IdleCutoff + "T00:00:00")
    val withOrders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate").collect()
      .filter(!_.getAs[java.time.LocalDateTime](1).isBefore(cutoff))
      .map(_.getLong(0)).toSet
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    val pos = cust.filter(_._3 > 0)
    val (nPos, sumPos) = (pos.length.toLong, pos.map(_._3).sum)
    val qualifying = cust.filter { case (k, _, b) =>
      b * nPos > sumPos && !withOrders(k)
    }
    val expected = qualifying.groupBy(_._2)
      .map { case (seg, rs) => seg -> (rs.length.toLong, rs.map(_._3).sum) }
    val got = run("idle_customers").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_cust"), r.getAs[Double]("total_bal"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (seg, (n, balQ)) =>
      assert(got(seg)._1 == n)
      assert(math.abs(got(seg)._2 - balQ / 100.0) < 1e-6)
    }
    // the threshold+anti-join must genuinely filter
    assert(qualifying.length < cust.length / 2 && qualifying.nonEmpty)
  }

  test("part_value_share: exactly the parts above 1.5x the mean share, integer threshold") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .collect()
    val vq = li.groupBy(_.getLong(0)).view.mapValues(_.map { r =>
      math.floor(
        (r.getDouble(1) * (1 - r.getDouble(2))) * 10000 + 0.5).toLong
    }.sum).toMap
    val total = vq.values.sum
    val n = vq.size.toLong
    val expected = vq.filter { case (_, v) =>
      BigInt(v) * n * 2 > BigInt(total) * 3 }
    val got = run("part_value_share").collect()
    assert(got.map(_.getAs[Long]("p_partkey")).toSet == expected.keySet)
    got.foreach { r =>
      val v = expected(r.getAs[Long]("p_partkey"))
      assert(math.abs(r.getAs[Double]("value") - v / 10000.0) < 1e-3)
      assert(math.abs(r.getAs[Double]("share") - v.toDouble / total) < 1e-6)
    }
    // the cut genuinely selects a minority tail, never everything
    assert(got.nonEmpty && got.length < vq.size / 10)
  }

  test("skyline_2d: window formulation equals brute-force pairwise dominance") {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    val expected = parts.filter { case (_, sz, pq) =>
      !parts.exists { case (_, sz2, pq2) =>
        sz2 >= sz && pq2 <= pq && (sz2 > sz || pq2 < pq) }
    }.map(_._1).toSet
    val got = run("skyline_2d").collect()
    assert(got.map(_.getAs[Long]("p_partkey")).toSet == expected)
    // the frontier is strictly monotone: larger size → strictly higher price
    val f = got.map(r => (r.getAs[Int]("p_size"), r.getAs[Double]("price")))
      .distinct.sortBy(_._1)
    f.sliding(2).foreach {
      case Array((s1, p1), (s2, p2)) => assert(s1 < s2 && p1 < p2)
      case _ =>
    }
    assert(got.nonEmpty && got.length < parts.length / 10)
  }

  test("rfm_segments: quartile coding replays the exact percentile edges") {
    import org.apache.spark.sql.functions._
    val per = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
      .collect().map(r => (r.getDate(1).toLocalDate, r.getLong(2),
        r.getDecimal(3)))
    val refd = per.map(_._1).max((a: java.time.LocalDate, b: java.time.LocalDate) => a.compareTo(b))
    val rows = per.map { case (d, f, m) =>
      (java.time.temporal.ChronoUnit.DAYS.between(d, refd),
        f,
        m.divide(new java.math.BigDecimal(100)).setScale(0, java.math.RoundingMode.FLOOR).longValue(),
        m.movePointRight(2).longValueExact())
    }
    // exact interpolated quartile edges over the sorted multiset —
    // the gridPct contract (x[l] + frac * (x[l+1] - x[l]))
    def edges(vs: Seq[Long]): Seq[Double] = {
      val x = vs.sorted
      Seq(0.25, 0.5, 0.75).map { p =>
        val pos = p * (x.length - 1)
        val l = math.floor(pos).toInt
        val xu = if (l + 1 < x.length) x(l + 1) else x(l)
        x(l) + (pos - l) * (xu - x(l)).toDouble
      }
    }
    val (re, fe, me) = (edges(rows.map(_._1).toSeq), edges(rows.map(_._2).toSeq),
      edges(rows.map(_._3).toSeq))
    def code(v: Long, es: Seq[Double]): Int = es.count(e => v.toDouble > e)
    val expected = rows.groupBy(r => (code(r._1, re), code(r._2, fe), code(r._3, me)))
      .map { case (k, ms) => k -> (ms.length.toLong, ms.map(_._4).sum) }
    val got = run("rfm_segments").collect()
      .map(r => (r.getAs[Int]("r_code"), r.getAs[Int]("f_code"), r.getAs[Int]("m_code")) ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("monetary_c"))).toMap
    assert(got == expected, s"segments: ${got.size} vs ${expected.size}")
    assert(got.values.map(_._1).sum == rows.length.toLong)
    // codes span the quartile range on every axis
    assert(got.keySet.map(_._1).size >= 3 && got.keySet.map(_._3).size >= 3)
  }

  test("cohort_ltv: cells and cumulative LTV replay an exact local recount") {
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map { r =>
        // o_orderdate is TIMESTAMP_NTZ -> LocalDateTime in Row
        val d = r.getAs[java.time.LocalDateTime](1).toLocalDate
        (r.getLong(0), d.getYear * 12 + d.getMonthValue - 1,
          new java.math.BigDecimal(r.getDouble(2)).setScale(2, java.math.RoundingMode.HALF_UP)
            .movePointRight(2).longValueExact())
      }
    val coh = orders.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = orders.groupBy(o => (coh(o._1), o._2 - coh(o._1))).view.mapValues { os =>
      (os.length.toLong, os.map(_._1).distinct.length.toLong, os.map(_._3).sum)
    }.toMap
    val sizes = coh.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = run("cohort_ltv").collect()
      .map(r => (r.getAs[Int]("cohort_month"), r.getAs[Int]("age")) ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("n_active"),
          r.getAs[Long]("revenue_c"), r.getAs[Long]("cum_revenue_c"),
          r.getAs[Long]("cohort_size"), r.getAs[Long]("ltv_cents"))).toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case (k @ (cm, age), (no, na, rev, cum, sz, ltv)) =>
      val (eo, ea, er) = cells(k)
      assert((no, na, rev) == (eo, ea, er), s"cell $k")
      val ecum = (0 to age).map(a => cells.get((cm, a)).map(_._3).getOrElse(0L)).sum
      assert(cum == ecum, s"cell $k cum")
      assert(sz == sizes(cm))
      // exact floor division in cents — no float ever reaches the hash
      assert(ltv == ecum / sz, s"cell $k ltv")
    }
    // LTV curves are monotone along age within each cohort
    val byCoh = got.toSeq.groupBy(_._1._1)
    byCoh.foreach { case (_, rows) =>
      val cums = rows.sortBy(_._1._2).map(_._2._4)
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
    }
  }

  test("benford_check: digit masses replay from a local count; the " +
    "verbatim log table is the law; the synthetic generator is detected") {
    import graft.queries.Robust.BenfordPpm
    // the injected table IS round(1e6*log10(1+1/d)) and sums to ~1e6
    BenfordPpm.zipWithIndex.foreach { case (v, i) =>
      assert(v == math.round(1e6 * math.log10(1.0 + 1.0 / (i + 1))))
    }
    assert(math.abs(BenfordPpm.sum - 1000000L) <= 2L)
    def replay(vals: Array[Double]): (Map[Int, Long], Long, Long) = {
      val ds = vals.map(v =>
        math.floor(v * 100 + 0.5).toLong.toString.charAt(0).asDigit)
      val cnt = ds.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = vals.length.toLong
      val tvd = cnt.map { case (d, c) =>
        math.abs(c * 1000000L / n - BenfordPpm(d - 1)) }.sum / 2
      (cnt, n, tvd)
    }
    val oVals = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(_.getDouble(0))
    val lVals = Tables.lineitem(spark, sf).select("l_extendedprice").collect()
      .map(_.getDouble(0))
    val got = SparkEntry.queries("benford_check")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getAs[Long]("n_obs"), r.getAs[Long]("n_total"),
          r.getAs[Long]("obs_ppm"), r.getAs[Long]("exp_ppm"),
          r.getAs[Long]("dev_ppm"), r.getAs[Long]("tvd_ppm")))).toMap
    Seq(("o_totalprice", oVals), ("l_extendedprice", lVals)).foreach {
      case (c, vals) =>
        val (cnt, n, tvd) = replay(vals)
        cnt.foreach { case (d, exp) =>
          val g = got((c, d))
          assert(g._1 == exp && g._2 == n, s"$c digit $d count")
          assert(g._3 == exp * 1000000L / n, s"$c digit $d obs_ppm")
          assert(g._4 == BenfordPpm(d - 1), s"$c digit $d exp_ppm")
          assert(g._5 == g._3 - g._4 && g._6 == tvd, s"$c digit $d tvd")
        }
        // the detector fires: a sum-of-uniforms generator is nothing
        // like a multi-scale Benford population (conformance band is
        // tvd below a few % — this corpus sits far above)
        assert(tvd > 100000L, s"$c tvd $tvd suspiciously Benford")
    }
  }
}
