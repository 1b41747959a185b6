package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {

  private def fused = SparkEntry.queries("rank_fusion")(spark, sf)

  test("rank_fusion: FusedK rows, query doc excluded, every row from >=1 leg") {
    val rows = fused.collect()
    assert(rows.length == Retrieval.FusedK)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") != Retrieval.QVec.toLong)
      val lex = r.getAs[Long]("lex_rank"); val vec = r.getAs[Long]("vec_rank")
      assert(lex > 0 || vec > 0, s"row with no leg: $r")
      assert(lex <= Retrieval.RfDepth && vec <= Retrieval.RfDepth)
    }
  }

  test("rank_fusion: rrf_q is the exact integer RRF of the reported ranks") {
    fused.collect().foreach { r =>
      val lex = r.getAs[Long]("lex_rank"); val vec = r.getAs[Long]("vec_rank")
      val expect =
        (if (lex > 0) Retrieval.RrfScale / (Retrieval.RrfK + lex) else 0L) +
        (if (vec > 0) Retrieval.RrfScale / (Retrieval.RrfK + vec) else 0L)
      assert(r.getAs[Long]("rrf_q") == expect, s"rrf mismatch: $r")
    }
  }

  test("rank_fusion: leg ranks are distinct within each leg") {
    val rows = fused.collect()
    val lex = rows.map(_.getAs[Long]("lex_rank")).filter(_ > 0)
    val vec = rows.map(_.getAs[Long]("vec_rank")).filter(_ > 0)
    assert(lex.distinct.length == lex.length)
    assert(vec.distinct.length == vec.length)
  }

  test("rank_fusion: vec leg rank-1 equals the local argmax cosine vs the query vector") {
    // local replay of the semantic leg on the raw embeddings —
    // the same round-then-order contract as the operator
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toMap
    val q = embs(Retrieval.QVec.toLong)
    val qn = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    def cos(v: Array[Float]): Double = {
      val dot = q.indices.map(i => q(i).toDouble * v(i).toDouble).sum
      dot / (qn * math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
    }
    val best = embs.toSeq.filter(_._1 != Retrieval.QVec.toLong)
      .map { case (id, v) => (id, Portable.jround(cos(v), 4)) }
      .minBy { case (id, c) => (-c, id) }._1
    val rank1 = fused.filter(col("vec_rank") === 1L).collect()
    // rank-1 of the vec leg survives fusion only if its fused score
    // clears the cut; when present it must be the local argmax
    rank1.foreach(r => assert(r.getAs[Long]("doc_id") == best))
    assert(rank1.length <= 1)
  }

  test("bitext_mine: margin pipeline replays exactly from first principles") {
    val langs = Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val embs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s += a(i).toDouble * b(i).toDouble; i += 1
      }
      s
    }
    val xs = embs.keys.filter(id => langs(id) == "en").toSeq.sorted
    val ys = embs.keys.filter(id => langs(id) != "en").toSeq.sorted
    val pairs = for {
      va <- xs; vb <- ys
      den = math.sqrt(dot(embs(va), embs(va))) * math.sqrt(dot(embs(vb), embs(vb)))
      cos = if (den == 0) 0.0 else dot(embs(va), embs(vb)) / den
      c4 = math.floor(cos * 10000 + 0.5).toLong
      if c4 > 0
    } yield (va, vb, c4)
    def topkSum(grouped: Map[Long, Seq[(Long, Long)]]): Map[Long, Long] =
      grouped.view.mapValues(
        _.sortBy { case (other, c4) => (-c4, other) }
          .take(Retrieval.BtK).map(_._2).sum).toMap
    val sx = topkSum(pairs.groupBy(_._1).view
      .mapValues(_.map(p => (p._2, p._3))).toMap)
    val sy = topkSum(pairs.groupBy(_._2).view
      .mapValues(_.map(p => (p._1, p._3))).toMap)
    val margins = pairs.map { case (va, vb, c4) =>
      (va, vb, c4, 2L * Retrieval.BtK * c4 * 1000 / (sx(va) + sy(vb)))
    }
    val expected = margins.groupBy(_._2).view.mapValues(
      _.minBy { case (va, _, _, m) => (-m, va) }).toMap
      .values.filter(_._4 >= Retrieval.BtMarginFloor)
      .map { case (va, vb, c4, m) => vb -> ((va, c4, m)) }.toMap
    val got = SparkEntry.queries("bitext_mine")(spark, sf).collect()
      .map(r => r.getAs[Long]("vb") ->
        ((r.getAs[Long]("va"), r.getAs[Long]("cos_q4"),
          r.getAs[Long]("margin_pm")))).toMap
    assert(got == expected)
    // the gate is non-trivial in both directions on this corpus
    assert(got.nonEmpty && got.size < ys.size)
    got.keys.foreach(vb => assert(langs(vb) != "en"))
  }

  test("bitext_mine_lsh: the registered index-side swap — candidates from " +
    "bucket collisions, same margin downstream, recall vs the exact leg") {
    val exact = SparkEntry.queries("bitext_mine")(spark, sf).collect()
      .map(r => r.getAs[Long]("vb") -> r.getAs[Long]("va")).toMap
    val lsh = SparkEntry.queries("bitext_mine_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vb"),
        (r.getAs[Long]("va"), r.getAs[Long]("cos_q4"), r.getAs[Long]("margin_pm"))))
    val lshMap = lsh.map { case (vb, t) => vb -> t }.toMap
    assert(lsh.length == lshMap.size, "one best candidate per y")
    // margins are over the RETRIEVED neighborhoods (the deployed
    // CCMatrix shape), so admissions can differ from the exact leg;
    // recall of the exact leg's (vb -> va) picks is the claim
    val hits = exact.count { case (vb, va) => lshMap.get(vb).exists(_._1 == va) }
    assert(exact.nonEmpty)
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.5, s"pair recall $recall ($hits/${exact.size})")
    // candidate generation is a real cut AND the floor still gates
    assert(lshMap.nonEmpty)
    lsh.foreach { case (_, (_, c4, m)) =>
      assert(c4 > 0 && m >= graft.operators.Retrieval.BtMarginFloor)
    }
  }

  test("mmr_diversify: the greedy trajectory replays exactly; diversity really changes picks") {
    import graft.operators.Retrieval.{MmrC, MmrK, MmrLambda10}
    import graft.operators.Ann.NumQueries
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0
      else a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y } / (na * nb)
    }
    def lat(c: Double): Long = math.floor(c * 10000 + 0.5).toLong
    val qids = vecs.keys.filter(_ < NumQueries).toSeq.sorted
    val expected = qids.flatMap { q =>
      val cands = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(MmrC)
        .map { case (id, c) => (id, lat(c)) }
      var sel = List.empty[Long]
      (1 to MmrK).map { r =>
        val best = cands.filterNot(c => sel.contains(c._1)).map { case (id, r4) =>
          val ms = if (sel.isEmpty) 0L
            else sel.map(s => lat(cos(vecs(id), vecs(s)))).max
          (id, MmrLambda10 * r4 - (10 - MmrLambda10) * ms)
        }.minBy { case (id, sc) => (-sc, id) }
        sel = sel :+ best._1
        (q, best._1, r.toLong, best._2)
      }
    }.toSet
    val got = SparkEntry.queries("mmr_diversify")(spark, sf).collect().map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("nb"), r.getAs[Long]("rnk"),
        r.getAs[Long]("score"))).toSet
    assert(got == expected)
    assert(got.size == qids.size * MmrK)
    // diversity bites: for some query the MMR set differs from pure top-K
    val mmrSets = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val topkSets = qids.map { q =>
      q -> vecs.toSeq.filter(_._1 != q).map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(MmrK).map(_._1).toSet
    }.toMap
    assert(qids.exists(q => mmrSets(q) != topkSets(q)))
  }

  test("mmr_diversify: driver-absorbed greedy emits exactly the relational rows") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nb"),
        r.getAs[Long]("rnk"), r.getAs[Long]("score"))).toSet
    val drv = rows(graft.operators.Retrieval.mmrDiversify(spark, sf))
    assert(drv == rows(ReferenceForms.mmrDiversifyRelational(spark, sf)))
    assert(drv.nonEmpty)
  }
}
