package graft

class AnnSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def neighbors(name: String): Map[Long, Seq[Long]] =
    run(name).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"), r.getAs[Long]("nb")))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

  private def recallAtK(approx: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double = {
    val hits = exact.map { case (q, nbs) =>
      approx.getOrElse(q, Seq.empty).toSet.intersect(nbs.toSet).size
    }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  test("ann_bruteforce: k ranked neighbors per query, no self-matches") {
    val rows = run("ann_bruteforce").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == Ann.NumQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to Ann.K))
      assert(rs.forall(_.getAs[Long]("nb") != q))
      val cs = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann_lsh: recall@5 vs bruteforce above floor, subset property") {
    val r = recallAtK(neighbors("ann_lsh"), neighbors("ann_bruteforce"))
    assert(r >= 0.5, s"recall@5 $r")
  }

  test("ann_ivf: recall@5 vs bruteforce above floor") {
    val r = recallAtK(neighbors("ann_ivf"), neighbors("ann_bruteforce"))
    assert(r >= 0.4, s"recall@5 $r")
  }

  test("knn_join: every vector gets k ranked neighbors; probe rows equal bruteforce") {
    val rows = run("knn_join").collect()
    val n = Tables.embeddings(spark, sf).count()
    val byV = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(byV.size.toLong == n, "a vector is missing its neighbor list")
    byV.foreach { case (v, rs) =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to Ann.K))
      assert(rs.forall(_.getAs[Long]("nb") != v))
    }
    // on the probe subset the kNN join must agree with ann_bruteforce
    val knnProbe = rows.filter(_.getAs[Long]("vec_id") < Ann.NumQueries)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rnk")) -> r.getAs[Long]("nb")).toMap
    val bf = run("ann_bruteforce").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk")) -> r.getAs[Long]("nb")).toMap
    assert(knnProbe == bf, "knn_join disagrees with bruteforce on the probe set")
  }

  test("knn_join_lsh: recall vs exact knn_join above floor; candidates only, ranked") {
    val rows = run("knn_join_lsh").collect()
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (v, rs) =>
      // ≤ K neighbors (LSH may find fewer candidates), ranked 1..n
      assert(rs.length <= Ann.K)
      assert(rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to rs.length))
      assert(rs.forall(_.getAs[Long]("nb") != v))
    }
    // recall@K vs the exact kNN join (the dedupEmbeddingLsh precedent:
    // approximate path must agree with the exact operator well above
    // chance — 8 tables × 4 bits on this corpus)
    def lists(name: String): Map[Long, Set[Long]] =
      run(name).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nb")))
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val exact = lists("knn_join")
    val approx = lists("knn_join_lsh")
    val hits = exact.map { case (v, nbs) =>
      approx.getOrElse(v, Set.empty).intersect(nbs).size }.sum
    val recall = hits.toDouble / exact.values.map(_.size).sum
    assert(recall >= 0.5, s"recall@${Ann.K} $recall")
  }

  test("emb_quantize: error bounded by scale/2, clips only at max magnitude") {
    val rows = run("emb_quantize").collect()
    assert(rows.length.toLong == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_err")
      // round-half-up quantization error is ≤ scale/2 everywhere
      // except clipped elements; by construction |x|max/scale = 127
      // exactly, so clipped elements also sit within scale/2. Both
      // values arrive rounded to 6 digits → up to 5e-7 slack each.
      assert(err <= scale / 2 + 1.1e-6, s"vec ${r.getAs[Long]("vec_id")}: err $err scale $scale")
      assert(r.getAs[Int]("n_clip") >= 0)
    }
    // quantization is lossy but not degenerate: some vector clips
    assert(rows.map(_.getAs[Int]("n_clip")).sum > 0)
  }

  test("vec_health: norm stats match a left-to-right per-vector recount") {
    val vecs = Tables.embeddings(spark, sf).select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val out = run("vec_health").collect().map(r => r.getInt(0) -> r).toMap
    assert(out.size == vecs.map(_._1).distinct.length)
    vecs.groupBy(_._1).foreach { case (lbl, vs) =>
      val norms = vs.map(_._2.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        .map(math.sqrt)
      val r = out(lbl)
      assert(r.getAs[Long]("n_vecs") == vs.length.toLong)
      assert(r.getAs[Int]("min_dim") == 64 && r.getAs[Int]("max_dim") == 64)
      assert(r.getAs[Long]("n_zero") == norms.count(_ == 0.0).toLong)
      assert(math.abs(r.getAs[Double]("avg_norm") - norms.sum / norms.size) < 1e-3)
      assert(math.abs(r.getAs[Double]("min_norm") - norms.min) < 1e-3)
      assert(math.abs(r.getAs[Double]("max_norm") - norms.max) < 1e-3)
    }
  }

  test("emb_dim_stats: quantized moments match a local recount, no dead dims in corpus") {
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    val got = run("emb_dim_stats").collect()
      .map(r => r.getAs[Long]("dim") -> r).toMap
    assert(got.size == dims)
    (0 until dims).foreach { d =>
      val qs = vecs.map(v => math.floor(v(d).toDouble * 10000 + 0.5).toLong)
      val n = qs.length
      val mean = qs.sum.toDouble / n / 10000.0
      val vr = (qs.map(x => x * x).sum.toDouble / n -
        (qs.sum.toDouble / n) * (qs.sum.toDouble / n)) / 1.0e8
      val r = got(d.toLong)
      assert(r.getAs[Long]("n_vecs") == n.toLong)
      assert(r.getAs[Double]("mean") ==
        graft.Portable.jround(mean, 4), s"dim $d mean")
      assert(math.abs(r.getAs[Double]("variance") - vr) < 1e-6, s"dim $d var")
      assert(r.getAs[Boolean]("dead") == (vr < graft.operators.Ann.DeadVarFloor))
    }
    // synthetic embeddings are healthy — a dead dim would mean the op broke
    assert(got.values.forall(!_.getAs[Boolean]("dead")))
  }

  test("ann_recall: per-query hits recount from the four ranking pipelines") {
    def pairs(name: String) = run(name).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nb"))).toSet
    val (ex, lsh, ivf) = (pairs("ann_bruteforce"), pairs("ann_lsh"), pairs("ann_ivf"))
    val pq = run("ann_pq").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor"))).toSet
    val got = run("ann_recall").collect().map(r => r.getAs[Long]("qid") -> r).toMap
    assert(got.keySet == ex.map(_._1))
    got.foreach { case (q, r) =>
      val exq = ex.filter(_._1 == q)
      assert(r.getAs[Long]("n_exact") == exq.size.toLong && exq.size == Ann.K)
      assert(r.getAs[Long]("lsh_hits") == exq.count(lsh.contains).toLong, s"q$q lsh")
      assert(r.getAs[Long]("ivf_hits") == exq.count(ivf.contains).toLong, s"q$q ivf")
      assert(r.getAs[Long]("pq_hits") == exq.count(pq.contains).toLong, s"q$q pq")
      assert(r.getAs[Double]("lsh_recall") >= 0.0 && r.getAs[Double]("lsh_recall") <= 1.0)
      assert(r.getAs[Double]("pq_recall") >= 0.0 && r.getAs[Double]("pq_recall") <= 1.0)
    }
    // the calibration table must show the paths actually recall something
    assert(got.values.map(_.getAs[Long]("lsh_hits")).sum > 0)
    assert(got.values.map(_.getAs[Long]("ivf_hits")).sum > 0)
    assert(got.values.map(_.getAs[Long]("pq_hits")).sum > 0)
  }

  test("ann_pq: ADC ranking is complete, monotone, and recalls exact quantized L2") {
    import graft.operators.Ann.{PqProbes, PqTopK}
    val rows = run("ann_pq").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor"), r.getAs[Long]("qdist")))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == (0L until PqProbes).toSet)
    byProbe.foreach { case (p, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to PqTopK).toSeq, s"probe $p ranks")
      // qdist non-decreasing with rank; neighbors distinct; no self
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted, s"probe $p order")
      assert(rs.map(_._3).distinct.length == PqTopK)
      assert(!rs.exists(_._3 == p), s"probe $p returned itself")
    }
    // recall@10 against EXACT L2 on the same quantized vectors — the
    // corpus is fixed, so this is a deterministic pin, not a flake
    val qvecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
      .toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recalls = (0L until PqProbes).map { p =>
      val exact = qvecs.collect { case (id, v) if id != p => (l2(qvecs(p), v), id) }
        .toSeq.sorted.take(PqTopK).map(_._2).toSet
      val got = byProbe(p).map(_._3).toSet
      got.intersect(exact).size.toDouble / PqTopK
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall@$PqTopK = $mean — PQ codes not informative")
    assert(recalls.exists(_ >= 0.3), s"no probe recalls 30%: $recalls")
  }

  test("pca_power: integer iterate aligns with a float eigensolver, share is Rayleigh-sane") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = vecs.head.length
    val n = vecs.length.toDouble
    // double-precision covariance + long power iteration = independent oracle
    val mean = Array.tabulate(d)(j => vecs.map(_(j)).sum / n)
    val cov = Array.tabulate(d, d)((j, k) =>
      vecs.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum / n)
    var ev = Array.fill(d)(1.0)
    for (_ <- 1 to 500) {
      val u = Array.tabulate(d)(j => (0 until d).map(k => cov(j)(k) * ev(k)).sum)
      val m = u.map(math.abs).max
      ev = u.map(_ / m)
    }
    val got = run("pca_power").collect()
    assert(got.length == d)
    val loading = got.map(r => r.getAs[Long]("dim") -> r.getAs[Double]("loading")).toMap
    // |cos| between the integer iterate and the float eigenvector ~ 1
    val dot = (0 until d).map(j => loading(j.toLong) * ev(j)).sum
    val na = math.sqrt((0 until d).map(j => loading(j.toLong) * loading(j.toLong)).sum)
    val nb = math.sqrt(ev.map(x => x * x).sum)
    assert(math.abs(dot) / (na * nb) > 0.99,
      s"integer PC diverges from float PC: |cos| = ${math.abs(dot) / (na * nb)}")
    // L-infinity normalization pins the peak loading at exactly +-1
    assert(loading.values.map(math.abs).max == 1.0)
    // Rayleigh share: top eigenvalue is at least the average, at most all
    val share = got.head.getAs[Double]("top_share")
    assert(got.forall(_.getAs[Double]("top_share") == share))
    assert(share > 1.0 / d && share <= 1.0, s"share $share")
  }

  // alias so the object reference compiles from the test package
  private object Ann { val NumQueries = graft.operators.Ann.NumQueries; val K = graft.operators.Ann.K }

  test("emb_centroid_drift: pairwise centroid cosines replay a local recompute") {
    val S = graft.operators.KMeansIter.Scale
    val rows = Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val byLabel = rows.groupBy(_._1)
    val cent = byLabel.view.mapValues { vs =>
      val d = vs.head._2.length
      Array.tabulate(d) { i =>
        val sum = vs.map(v => math.floor(v._2(i).toDouble * S + 0.5).toLong).sum
        math.floor(sum.toDouble / vs.length).toLong
      }
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      graft.Portable.jround(dot / (na * nb), 4)
    }
    val labels = cent.keys.toSeq.sorted
    val expected = (for {
      i <- labels.indices; j <- (i + 1) until labels.length
      (a, b) = (labels(i), labels(j))
    } yield (a, b) -> (byLabel(a).length.toLong, byLabel(b).length.toLong,
      cos(cent(a), cent(b)))).toMap
    val got = run("emb_centroid_drift").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("cos_centroid"))).toMap
    assert(got.keySet == expected.keySet,
      s"pair set: ${got.keySet.size} vs ${expected.keySet.size}")
    got.foreach { case (k, v) => assert(v == expected(k), s"pair $k: $v vs ${expected(k)}") }
    // the labels genuinely separate in this space: cosines not all ~1
    assert(got.values.map(_._3).min < 0.99)
  }

  test("knn_label_eval: confusion matrix recounts from knn_join + labels, majority tiebreak pinned") {
    val lab = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nbrs = run("knn_join").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nb")))
      .groupBy(_._1).view.mapValues(_.map(p => lab(p._2))).toMap
    val expected = nbrs.toSeq.map { case (v, nls) =>
      val votes = nls.groupBy(identity).view.mapValues(_.length).toSeq
      val pred = votes.minBy { case (l, n) => (-n, l) }._1
      (lab(v), pred)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = run("knn_label_eval").collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")) ->
        r.getAs[Long]("n_vecs")).toMap
    assert(got == expected)
    assert(got.values.sum == lab.size.toLong, "every vector must be classified")
    // the eval's READ on this corpus: the synthetic labels are NOT
    // geometric (near-isotropic embeddings — the pca_power finding),
    // so the diagonal sits at chance level; the matrix must still be
    // complete over the label alphabet on the true axis
    val labels = lab.values.toSet
    assert(got.keySet.map(_._1) == labels, "a true label vanished from the matrix")
    val diag = got.collect { case ((t2, p2), n) if t2 == p2 => n }.sum
    assert(diag > 0)
  }

  test("hard_negatives: recounts from knn_join + labels; impostor is the max-cos cross-label neighbor") {
    val lab = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val knn = run("knn_join").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nb"), r.getAs[Double]("cos")))
    val byAnchor = knn.groupBy(_._1)
    val expected = byAnchor.flatMap { case (v, rows) =>
      val neg = rows.filter(r => lab(r._2) != lab(v))
      if (neg.isEmpty) None
      else {
        val hn = neg.minBy(r => (-r._3, r._2))
        Some(v -> (lab(v), rows.size - neg.size, neg.size, hn._2, hn._3))
      }
    }
    val got = run("hard_negatives").collect().map { r =>
      r.getAs[Long]("vec_id") -> (r.getAs[Int]("label"),
        r.getAs[Long]("n_pos").toInt, r.getAs[Long]("n_neg").toInt,
        r.getAs[Long]("hn_id"), r.getAs[Double]("hn_cos"))
    }.toMap
    assert(got == expected.toMap)
    assert(got.nonEmpty)
    // counts cover the whole top-K list
    got.foreach { case (v, (_, np, nn, _, _)) =>
      assert(np + nn == byAnchor(v).size, s"anchor $v counts")
    }
  }

  test("ann_probe_sweep: recall curve recounts locally and is monotone in nprobe") {
    val A = graft.operators.Ann
    // local exact cosine machinery over the collected embeddings
    val em = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = em.keys.filter(_ < A.IvfCentroids).toSeq.sorted
    def cellRank(v: Array[Double]): Seq[Long] =
      cents.sortBy(c => (-cos(v, em(c)), c))
    val assign = em.keys.map(id => id -> cellRank(em(id)).head).toMap
    val queries = em.keys.filter(_ < A.NumQueries).toSeq.sorted
    def topK(ids: Seq[Long], q: Long): Set[Long] =
      ids.filter(_ != q).sortBy(n => (-cos(em(q), em(n)), n)).take(A.K).toSet
    val gt = queries.map(q => q -> topK(em.keys.toSeq, q)).toMap
    val expected = A.ProbeGrid.map { p =>
      val stats = queries.map { q =>
        val cells = cellRank(em(q)).take(p).toSet
        val cand = em.keys.filter(n => n != q && cells.contains(assign(n))).toSeq
        (cand.size.toLong, (topK(cand, q) intersect gt(q)).size.toLong)
      }
      (p.toLong, A.NumQueries.toLong, stats.map(_._1).sum, stats.map(_._2).sum,
        stats.map(_._2).sum * 1000000L / (A.NumQueries.toLong * A.K))
    }
    val got = run("ann_probe_sweep").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // recall is monotone in nprobe; full probe budget reaches max recall
    got.map(_._5).sliding(2).foreach(pr => assert(pr.head <= pr.last))
  }

  test("mrl_recall: truncation recall replays locally; full width is the identity") {
    import graft.operators.Ann.{K, MrlDims, NumQueries}
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def topk(d: Int, qid: Long): Seq[Long] = {
      val qe = vecs.toMap.apply(qid).take(d)
      val qn = math.sqrt(qe.map(x => x * x).sum)
      vecs.filter(_._1 != qid).map { case (id, v) =>
        val ne = v.take(d)
        val nn = math.sqrt(ne.map(x => x * x).sum)
        val c = if (qn * nn == 0) 0.0
          else ne.zip(qe).foldLeft(0.0) { case (a, (x, y)) => a + x * y } / (qn * nn)
        (id, c)
      }.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSeq
    }
    val qids = vecs.map(_._1).filter(_ < NumQueries)
    val expected = MrlDims.map { d =>
      val hits = qids.map(q => topk(d, q).toSet.intersect(topk(64, q).toSet).size).sum
      d.toLong -> ((qids.length.toLong, hits.toLong,
        hits.toLong * 1000 / (K * qids.length)))
    }.toMap
    val got = run("mrl_recall").collect().map(r =>
      r.getAs[Long]("dim") -> ((r.getAs[Long]("n_queries"), r.getAs[Long]("hits"),
        r.getAs[Long]("recall_pm")))).toMap
    assert(got == expected)
    // the full-width row is the identity, and truncation really costs recall
    assert(got(64L)._3 == 1000L)
    assert(got(4L)._3 < 1000L)
  }

  test("hub_stats: k-occurrence diagnostics replay from the kNN lists") {
    import graft.operators.Ann.K
    val knn = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = Tables.embeddings(spark, sf).count()
    val occ = knn.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val koccAll = (0L until nVecs).map(v => v -> occ.getOrElse(v, 0L))
    val slots = occ.values.sum
    val s2 = occ.values.map(x => x * x).sum
    val topN = ((nVecs + 99) / 100).toInt
    val topSlots = occ.toSeq.sortBy { case (v, c) => (-c, v) }.take(topN).map(_._2).sum
    val sortedK = koccAll.map(_._2).sorted
    val p99 = sortedK((math.ceil(nVecs * 99 / 100.0).toInt - 1).max(0))
    val r = SparkEntry.queries("hub_stats")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_vecs") == nVecs)
    assert(r.getAs[Long]("max_kocc") == occ.values.max)
    assert(r.getAs[Long]("n_antihubs") == koccAll.count(_._2 == 0).toLong)
    assert(r.getAs[Long]("p99_kocc") == p99)
    assert(r.getAs[Long]("top1pct_share_pm") == topSlots * 1000 / slots)
    assert(r.getAs[Long]("hub_index_pm") == nVecs * s2 * 1000 / (slots * slots))
    // hubness is real in this 64-dim space: skew above uniform
    assert(r.getAs[Long]("hub_index_pm") > 1000L)
    assert(r.getAs[Long]("top1pct_share_pm") > 10L) // > uniform 1% = 10 pm
  }

  test("mutual_knn: pairs are exactly the bidirectional top-K intersections") {
    val knn = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk").toLong))
    val lists = knn.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val expected = (for {
      (va, ns) <- lists.toSeq
      (vb, rab) <- ns.toSeq
      if va < vb
      rba <- lists.get(vb).flatMap(_.get(va))
    } yield (va, vb, rab, rba)).toSet
    val got = SparkEntry.queries("mutual_knn")(spark, sf).collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"),
        r.getAs[Int]("rnk_ab").toLong, r.getAs[Int]("rnk_ba").toLong)).toSet
    assert(got == expected)
    // the mutual cut is a real filter: strictly fewer pairs than directed edges
    assert(got.nonEmpty && got.size < knn.length)
  }

  test("ndcg_eval: weight table is the rounded 1/log2 discounts; micro-NDCG replays") {
    import graft.operators.Ann.{K, NdcgW, NdcgCw}
    assert(NdcgW == Seq(1000000L, 630930L, 500000L, 430677L, 386853L))
    assert(NdcgCw.last == NdcgW.sum)
    val ex = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .select("qid", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def replay(name: String, q: String, n: String, r: String): (Long, Long) = {
      val rows = SparkEntry.queries(name)(spark, sf)
        .select(q, n, r).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getAs[Int](2).toLong))
        .filter(_._3 <= K) // NDCG@K scores only the top-K of each list
      val byQ = rows.groupBy(_._1)
      val dcg = byQ.values.map(_.map { case (qq, nb, rk) =>
        if (ex.contains((qq, nb))) NdcgW(rk.toInt - 1) else 0L }.sum).sum
      val idcg = byQ.values.map { l =>
        val hits = l.count { case (qq, nb, _) => ex.contains((qq, nb)) }
        if (hits == 0) 0L else NdcgCw(hits - 1)
      }.sum
      (dcg, idcg)
    }
    val got = SparkEntry.queries("ndcg_eval")(spark, sf).collect()
      .map(x => x.getString(0) -> ((x.getAs[Long]("sum_dcg"),
        x.getAs[Long]("sum_idcg"), x.getAs[Long]("ndcg_pm"),
        x.getAs[Long]("rank_quality_pm"), x.getAs[Long]("n_queries")))).toMap
    Seq(("lsh", "ann_lsh", "qid", "nb", "rnk"),
        ("ivf", "ann_ivf", "qid", "nb", "rnk"),
        ("pq", "ann_pq", "probe_id", "neighbor", "rank")).foreach {
      case (path, op, q, n, r) =>
        val (dcg, idcg) = replay(op, q, n, r)
        assert(got(path)._1 == dcg, s"$path dcg")
        assert(got(path)._2 == idcg, s"$path idcg")
        // standard NDCG@K: the exact path returns K relevant per
        // query, so IDCG@K is the constant CW[K] per query
        assert(got(path)._3 == dcg * 1000 / (got(path)._5 * NdcgCw.last))
        // ordering-only variant: denominator is CW[retrieved hits]
        assert(got(path)._4 == (if (idcg == 0) 0L else dcg * 1000 / idcg))
        // completeness penalty is real: ndcg_pm never exceeds the
        // ordering-only score (equality iff recall is perfect)
        assert(got(path)._3 <= got(path)._4, s"$path ndcg vs rank_quality")
    }
    // both are bounded by 1 and the position weighting is live
    assert(got.values.forall(v => v._3 <= 1000L && v._4 <= 1000L))
  }

  test("mrr_eval: reciprocal ranks replay on the lcm(1..K) lattice; " +
    "first-hit scoring is live") {
    import graft.operators.Ann.{K, MrrLcm}
    assert(MrrLcm == 60L) // lcm(1..5)
    val ex = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .select("qid", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = ex.map(_._1).size.toLong
    def replay(name: String, q: String, n: String, r: String): (Long, Long) = {
      val rows = SparkEntry.queries(name)(spark, sf)
        .select(q, n, r).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getAs[Int](2).toLong))
        .filter(_._3 <= K)
      val firstByQ = rows.filter { case (qq, nb, _) => ex.contains((qq, nb)) }
        .groupBy(_._1).view.mapValues(_.map(_._3).min)
      (firstByQ.size.toLong, firstByQ.values.map(MrrLcm / _).sum)
    }
    val got = SparkEntry.queries("mrr_eval")(spark, sf).collect()
      .map(x => x.getString(0) -> ((x.getAs[Long]("n_queries"),
        x.getAs[Long]("n_hit"), x.getAs[Long]("sum_rr"),
        x.getAs[Long]("mrr_pm")))).toMap
    Seq(("lsh", "ann_lsh", "qid", "nb", "rnk"),
        ("ivf", "ann_ivf", "qid", "nb", "rnk"),
        ("pq", "ann_pq", "probe_id", "neighbor", "rank")).foreach {
      case (path, op, q, n, r) =>
        val (nHit, sumRr) = replay(op, q, n, r)
        assert(got(path)._1 == nQ, s"$path n_queries")
        assert(got(path)._2 == nHit, s"$path n_hit")
        assert(got(path)._3 == sumRr, s"$path sum_rr")
        assert(got(path)._4 == sumRr * 1000L / (nQ * MrrLcm), s"$path mrr_pm")
        // MRR is bounded by hit rate: a first hit scores at most 1/1
        assert(got(path)._4 <= nHit * 1000L / nQ + 1L, s"$path bound")
    }
    // the metric is non-vacuous: at least one path lands a first hit
    assert(got.values.exists(_._3 > 0L))
  }

  test("lof_outliers: the reciprocal-lattice LOF replays from the kNN " +
    "artifact; dense-uniform points sit near 1, the flag is a ratio read") {
    import graft.operators.Ann.{K, LofScale, LofFlagPpm, LofTopK}
    val art = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        10000L - math.floor(r.getDouble(2) * 10000 + 0.5).toLong))
    val byV = art.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    val kdist = byV.map { case (v, l) => v -> l.map(_._2).max }
    val sreach = byV.map { case (v, l) =>
      v -> math.max(1L, l.map { case (o, d) => math.max(d, kdist(o)) }.sum) }
    val lrd = sreach.map { case (v, s) => v -> LofScale / s }
    val lof = byV.map { case (v, l) =>
      v -> sreach(v) * (l.map(o => lrd(o._1)).sum / K) / 1000000L }
    val expected = lof.toSeq.sortBy { case (v, s) => (-s, v) }.take(LofTopK)
      .map { case (v, s) => (v, kdist(v), sreach(v), s) }
    val nFlagged = lof.values.count(_ >= LofFlagPpm).toLong
    val got = SparkEntry.queries("lof_outliers")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kdist"),
        r.getAs[Long]("sreach"), r.getAs[Long]("lof_ppm"),
        r.getAs[Long]("n_vecs"), r.getAs[Long]("n_flagged")))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq == expected)
    assert(got.forall(_._5 == byV.size.toLong))
    assert(got.forall(_._6 == nFlagged))
    // LOF's defining property on any non-degenerate corpus: scores
    // spread around 1 (some points denser than their neighborhood,
    // some sparser) — the top outlier is a real ratio, not a constant
    assert(lof.values.min < 1000000L && got.head._4 > 1000000L,
      s"lof range [${lof.values.min}, ${got.head._4}]")
  }

  test("ann_nsw: the beam walk replays step for step from the kNN graph; " +
    "graph search reaches real neighbors from one entry point") {
    import graft.operators.Ann.{K, NswBeam, NswRounds, NumQueries}
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else d / den
    }
    val art = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (art ++ art.map(_.swap)).distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val entry = vecs.keys.min
    val expected = (0L until NumQueries.toLong).flatMap { qid =>
      var beam = Seq(entry)
      for (_ <- 1 to NswRounds) {
        val cand = (beam ++ beam.flatMap(n => adj.getOrElse(n, Set.empty))).distinct
        beam = cand.map(n => (n, cos(vecs(qid), vecs(n))))
          .sortBy { case (n, c) => (-c, n) }.take(NswBeam).map(_._1)
      }
      beam.filter(_ != qid).map(n => (n, cos(vecs(qid), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(K).zipWithIndex
        .map { case ((n, c), i) =>
          (qid, n, i + 1L, math.floor(c * 1e4 + 0.5) / 1e4) }
    }
    val got = SparkEntry.queries("ann_nsw")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk").toLong,
        r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
    assert(got == expected.sortBy(t => (t._1, t._3)))
    // graph search is live: it finds a non-trivial share of the exact
    // top-K from ONE entry point (the navigability read; floor
    // measured at this SF, the recall-vs-exact contract of D2/D3)
    val exact = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .select("qid", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.count(t => exact((t._1, t._2)))
    assert(hits * 10 >= exact.size * 3, s"recall ${hits}/${exact.size} < 0.3")
  }

  test("colbert_maxsim: the 16x16 MaxSim grid replays; late interaction beats single-dot ties") {
    import graft.operators.Ann.{CbDim, CbTokens, CbTopK, NumQueries}
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000 + 0.5).toLong).toArray)
      .toMap
    def maxsim(q: Array[Long], d: Array[Long]): Long =
      (0 until CbTokens).map { i =>
        (0 until CbTokens).map { j =>
          (0 until CbDim).map(t => q(i * CbDim + t) * d(j * CbDim + t)).sum
        }.max
      }.sum
    val qids = vecs.keys.filter(_ < NumQueries).toSeq.sorted
    val expected = qids.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, maxsim(vecs(q), v)) }
        .sortBy { case (id, sc) => (-sc, id) }.take(CbTopK)
        .zipWithIndex.map { case ((id, sc), r) => (q, id, (r + 1).toLong, sc) }
    }.toSet
    val got = SparkEntry.queries("colbert_maxsim")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nb"),
        r.getAs[Int]("rnk").toLong, r.getAs[Long]("score"))).toSet
    assert(got == expected)
    // late interaction genuinely reorders vs the single-vector ranking
    val single = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .select("qid", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)) != single)
  }

  test("colbert_maxsim: kernel and HOF probe forms are row-identical") {
    // every (probe, neighbor) score, not only the top-K the operator keeps
    import org.apache.spark.sql.functions._
    import graft.operators.Ann.{CbDim, NumQueries}
    val q4 = (c: org.apache.spark.sql.Column) =>
      transform(c, x => floor(x.cast("double") * 10000 + 0.5).cast("long"))
    val e = Tables.embeddings(spark, sf)
    val pairs = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), q4(col("embedding")).as("qe4"))
      .crossJoin(e.select(col("vec_id").as("nb"), q4(col("embedding")).as("ne4")))
      .select(col("qid"), col("nb"),
        call_function("maxsim_score", col("qe4"), col("ne4"), lit(CbDim.toLong)).as("ker"),
        ReferenceForms.maxsimHof(col("qe4"), col("ne4")).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(2) == r.getLong(3), s"(${r.getLong(0)}, ${r.getLong(1)})"))
  }

  test("label_noise_knn: per-class flag rates replay from the neighbor lists") {
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val knn = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val perPoint = knn.groupBy(_._1).map { case (v, ns) =>
      val agree = ns.count { case (_, nb) => labels(nb) == labels(v) }.toLong
      (v, labels(v), agree, ns.length.toLong)
    }
    val exp = perPoint.groupBy(_._2).map { case (l, ps) =>
      val n = ps.size.toLong
      val fl = ps.count(p => p._3 * 2 <= p._4).toLong
      val ag = ps.map(_._3).sum
      val kk = ps.map(_._4).sum
      l -> ((n, fl, fl * 1000 / n, ag * 1000 / kk))
    }
    val got = SparkEntry.queries("label_noise_knn")(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getAs[Long]("n_points"),
        r.getAs[Long]("n_flagged"), r.getAs[Long]("flag_pm"),
        r.getAs[Long]("agree_pm")))).toMap
    assert(got == exp)
    // conservation + the filter is live on this corpus
    assert(got.values.map(_._1).sum == labels.size.toLong)
    assert(got.values.exists(_._2 > 0))
  }

  test("dbscan_cluster: core/border/noise replay against a local " +
    "union-find over the eps-kNN graph") {
    import graft.operators.Ann.{DbEps, DbMinPts}
    val knn = SparkEntry.queries("knn_join")(spark, sf)
      .select("vec_id", "nb", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 >= DbEps)
    val sym = knn.flatMap { case (a, b, _) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).view.mapValues(_.length).toMap
    val core = deg.filter(_._2 >= DbMinPts).keySet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map[Long, Long]() ++
      core.map(c => c -> c)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      parent(x) = r; r
    }
    sym.filter { case (a, b) => core(a) && core(b) }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val compOf = core.map(c => c -> find(c)).toMap
    val borderOf = sym.filter { case (a, b) => !core(a) && core(b) }
      .groupBy(_._1).view.mapValues(_.map(p => compOf(p._2)).min).toMap
    val nAll = Tables.embeddings(spark, sf).count()
    val expCore = compOf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expBorder = borderOf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("dbscan_cluster")(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster") -> ((r.getAs[Long]("n_core"),
        r.getAs[Long]("n_border"), r.getAs[Long]("n_noise"),
        r.getAs[Boolean]("converged")))).toMap
    // the bounded-round propagation must declare convergence on this
    // corpus — only then are its labels the true components
    assert(got.values.forall(_._4), "propagation did not converge")
    val gotClusters = got.filter(_._1 >= 0)
    assert(gotClusters.keySet == (expCore.keySet ++ expBorder.keySet))
    gotClusters.foreach { case (c, (nc, nb, nn, _)) =>
      assert(nc == expCore.getOrElse(c, 0L), s"cluster $c core")
      assert(nb == expBorder.getOrElse(c, 0L), s"cluster $c border")
      assert(nn == 0L)
    }
    assert(got(-1L)._3 == nAll - compOf.size - borderOf.size)
    // the structure is non-trivial: >1 cluster, some noise, some border
    assert(gotClusters.size > 1 && got(-1L)._3 > 0)
    assert(gotClusters.values.map(_._2).sum > 0)
  }

  test("kcenter_coreset: the greedy farthest-point trajectory replays; " +
    "the covering radius is non-increasing") {
    import graft.operators.Ann.KcK
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    // the kernel's accumulation order: left-to-right, floats promoted
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1
      }
      s
    }
    val n2 = vecs.map { case (id, e) => id -> dot(e, e) }.toMap
    val emb = vecs.toMap
    var picks = Vector((1L, vecs.head._1, 0.0))
    for (r <- 2 to KcK) {
      val ids = picks.map(_._2).toSet
      val cand = vecs.filter(v => !ids.contains(v._1)).map { case (id, e) =>
        val dmin = ids.map(c => n2(id) + n2(c) - 2.0 * dot(e, emb(c))).min
        (id, dmin)
      }
      val best = cand.minBy { case (id, d) => (-d, id) }
      picks = picks :+ ((r.toLong, best._1, best._2))
    }
    val expected = picks.map { case (r, id, d2) =>
      (r, id, math.floor(d2 * 10000 + 0.5) / 10000)
    }
    val got = SparkEntry.queries("kcenter_coreset")(spark, sf).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("center_id"),
        r.getAs[Double]("radius2"))).sortBy(_._1).toVector
    assert(got == expected)
    // the k-center curve: each pick's radius is <= the previous one
    // (the farthest remaining point can only get closer as the
    // center set grows), and the selection is a real spread
    val radii = got.drop(1).map(_._3)
    radii.sliding(2).foreach { case Seq(a, b) => assert(b <= a, s"$b > $a") }
    assert(got.map(_._2).distinct.size == KcK)
    assert(radii.head > 0.0)
  }

  test("ann_ranked artifact: persisted rankings are row-identical to the " +
    "fresh pipelines, and the eval trio is unchanged by the swap") {
    import graft.operators.{Ann => AnnOp}
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // the artifact is the four fresh rankings, verbatim
    assert(rows(spark.read.parquet(AnnOp.ensureAnnRanked(spark, sf)))
      == rows(AnnOp.annRankedFresh(spark, sf)))
    // each eval's output is identical under fresh vs artifact sources
    val fresh = AnnOp.freshRankedOf(spark, sf, _: String)
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "ann_recall" -> AnnOp.annRecallFrom(fresh),
      "ndcg_eval" -> AnnOp.ndcgEvalFrom(fresh),
      "mrr_eval" -> AnnOp.mrrEvalFrom(fresh))
      .foreach { case (name, freshDf) =>
        assert(rows(run(name)) == rows(freshDf), s"$name diverged")
      }
  }

  test("roc_auc machinery: planted separable scores give AUC 1, identical " +
    "distributions give exactly 0.5, and a planted tie lands on midrank") {
    import spark.implicits._
    // separable: every positive outscores every negative → u2 = 2mn
    val sep = (1 to 20).map(i => (0, 1L, 100L + i)) ++
      (1 to 30).map(i => (0, 0L, i.toLong))
    // inseparable: positives and negatives share the same lattice
    // values 1..10 → pure midrank, AUC exactly 1/2
    val insep = (1 to 10).flatMap(v => Seq((1, 1L, v.toLong), (1, 0L, v.toLong)))
    // one planted tie: pos at {1,3}, neg at {2,3} → pairs: (1,2) lose,
    // (1,3) lose, (3,2) win, (3,3) tie → u2 = 2*1 + 1 = 3 of 2*2*2=8
    val tie = Seq((2, 1L, 1L), (2, 1L, 3L), (2, 0L, 2L), (2, 0L, 3L))
    val got = graft.operators.Ann.aucFromScored(
      (sep ++ insep ++ tie).toDF("cls", "pos", "sc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((20L, 30L, 2L * 20 * 30, 1000000L)))
    assert(got(1L) == ((10L, 10L, 100L, 500000L)))
    assert(got(2L) == ((2L, 2L, 3L, 375000L)))
  }

  test("roc_auc: corpus result replays from a local nearest-centroid " +
    "brute force; AUC is properly above chance on the labeled embeddings") {
    import graft.operators.KMeansIter
    import graft.operators.Ann.AucScale
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(v =>
          math.floor(v.toDouble * KMeansIter.Scale + 0.5).toLong),
        r.getInt(2)))
    val dims = rows.head._2.length
    val cents: Map[Int, Array[Long]] = rows.groupBy(_._3).view.mapValues { g =>
      Array.tabulate(dims)(d =>
        math.floor(g.map(_._2(d)).sum.toDouble / g.length).toLong)
    }.toMap
    def qscore(v: Array[Long], c: Array[Long]): Long = {
      val dot = v.zip(c).map { case (a, b) => a * b }.sum
      val vn2 = v.map(x => x * x).sum.toDouble
      val cn2 = c.map(x => x * x).sum.toDouble
      if (vn2 * cn2 == 0) 0L
      else math.floor(dot.toDouble / (math.sqrt(vn2) * math.sqrt(cn2))
        * AucScale + 0.5).toLong
    }
    val expected = cents.map { case (cls, c) =>
      val scored = rows.map(r => (r._3 == cls, qscore(r._2, c)))
      val pos = scored.filter(_._1).map(_._2)
      val neg = scored.filterNot(_._1).map(_._2)
      val u2 = pos.map(p => 2L * neg.count(_ < p) + neg.count(_ == p)).sum
      cls.toLong -> ((pos.length.toLong, neg.length.toLong, u2,
        u2 * 1000000L / (2L * pos.length * neg.length)))
    }
    val got = SparkEntry.queries("roc_auc")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // the centroid scorer must beat chance on its own training labels
    // for every class — the synthetic labels are cluster-correlated
    assert(got.values.forall(_._4 > 500000L),
      s"some class at/below chance: $got")
  }

  test("pr_auc machinery: separable gives AP 1, pure ties give prevalence, " +
    "and a 3-threshold plant lands on the exact step sum") {
    import spark.implicits._
    // separable: AP = 1 exactly
    val sep = (1 to 5).map(i => (0, 1L, 100L + i)) ++
      (1 to 7).map(i => (0, 0L, i.toLong))
    // one tied cell (10 pos + 10 neg at one score): AP = prevalence 1/2
    val tied = (1 to 10).flatMap(_ => Seq((1, 1L, 5L), (1, 0L, 5L)))
    // pos at {3,1}, neg at {2}: thresholds P=1/1 then 0-weight then 2/3
    // → AP = (1 + 2/3)/2 = 5/6 → sum_term 10⁹+666666666, ap_ppm 833333
    val steps = Seq((2, 1L, 3L), (2, 0L, 2L), (2, 1L, 1L))
    val got = graft.operators.Ann.apFromScored(
      (sep ++ tied ++ steps).toDF("cls", "pos", "sc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((5L, 7L, 1000000L)))
    assert(got(1L) == ((10L, 10L, 500000L)))
    assert(got(2L) == ((2L, 1L, 833333L)))
  }

  test("calibration machinery: perfectly calibrated plants read ECE/Brier 0, " +
    "a fully anti-calibrated plant reads both at the 10⁶ ceiling") {
    import graft.operators.Ann.{AucScale, PScale}
    import spark.implicits._
    // confident-and-right: sc=+AucScale with pos=1 → p=1 spot-on
    val good = (1 to 8).map(_ => (0, 1L, AucScale)) ++
      (1 to 8).map(_ => (0, 0L, -AucScale))
    // confident-and-wrong: p=1 on negatives, p=0 on positives
    val bad = (1 to 8).map(_ => (1, 0L, AucScale)) ++
      (1 to 8).map(_ => (1, 1L, -AucScale))
    // mid-bin honesty: p = 1/2 (sc=0) on a half-positive cell → the
    // bin gap is 0 even though Brier is 1/4
    val mid = (1 to 4).flatMap(_ => Seq((2, 1L, 0L), (2, 0L, 0L)))
    val got = graft.operators.Ann.calibFromScored(
      (good ++ bad ++ mid).toDF("cls", "pos", "sc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((16L, 0L, 0L, 0L)))
    assert(got(1L) == ((16L, 1000000L, 1000000L, 1000000L)))
    assert(got(2L) == ((8L, 0L, 250000L, 0L)))
  }

  test("pavFit: a planted non-monotone rate sequence pools exactly as " +
    "sequential PAV does, and the fit is isotonic") {
    import spark.implicits._
    // equal-n bins with rates .1 / .8 / .4 → PAV pools bins 1,2 to .6
    val binned = Seq((0, 0L, 10L, 1L), (0, 1L, 10L, 8L), (0, 2L, 10L, 4L))
      .toDF("cls", "bin", "n_b", "pos_b")
    val got = graft.operators.Ann.pavFit(binned).collect()
      .map(r => r.getLong(1) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(0L -> ((100000L, 100000L)),
      1L -> ((800000L, 600000L)), 2L -> ((400000L, 600000L))))
  }

  test("pr_auc / calibration_eval / isotonic_fit corpus runs: AP beats the " +
    "prevalence baseline, ECE is a proper fraction, the fit is monotone") {
    val ap = run("pr_auc").collect()
    assert(ap.nonEmpty)
    ap.foreach { r =>
      val base = r.getLong(1) * 1000000L / (r.getLong(1) + r.getLong(2))
      assert(r.getLong(3) > base,
        s"class ${r.getLong(0)}: AP ${r.getLong(3)} <= prevalence $base")
    }
    run("calibration_eval").collect().foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
      assert(r.getLong(4) >= r.getLong(2), "max bin gap below the mean gap")
    }
    run("isotonic_fit").collect()
      .groupBy(_.getLong(0)).foreach { case (cls, rows) =>
        val fits = rows.sortBy(_.getLong(1)).map(_.getLong(5))
        assert(fits.zip(fits.tail).forall { case (a, b) => a <= b },
          s"class $cls fit not isotonic: ${fits.mkString(",")}")
      }
  }
}
