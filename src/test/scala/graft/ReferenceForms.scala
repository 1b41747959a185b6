package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashFns.{A, B, NumHashes, P, SimA, SimB}

/** Superseded plan forms that specs replay the shipped operators
  * against. Each one computes the same rows as its shipped sibling by
  * a different plan (scalar aggregates instead of a buffer kernel,
  * interpreted higher-order functions instead of a codegen kernel,
  * relational rounds instead of a local loop), so a spec
  * comparing the two pins the kernel's or the rewrite's contract. */
object ReferenceForms {

  /** [[graft.functions.HashFns.minhashSigAgg]] as 64 plain `min`
    * scalar aggregates (whole-stage codegen, one column per hash). */
  def minhashSigAggScalar(posts: DataFrame, idCol: String, hCol: String): DataFrame = {
    val mins = (0 until NumHashes).map(i =>
      min(pmod(lit(A(i)) * col(hCol) + lit(B(i)), lit(P))).as(s"s$i"))
    posts.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** Portable simhash bit k of token hash `h`: parity of g² mod P for
    * g = (SimA(k)·h + SimB(k)) mod P. */
  def simBit(h: Column, k: Int): Column = {
    val g = pmod(lit(SimA(k)) * h + lit(SimB(k)), lit(P))
    (g * g) % P % 2 === 1
  }

  /** [[graft.functions.HashFns.simhashBandsAggPortable]] as one
    * `sum(when(simBit…))` scalar aggregate per bit. */
  def simhashBandsScalar(posts: DataFrame, idCol: String, hCol: String,
                         totalBits: Int, numBands: Int): DataFrame = {
    val r = totalBits / numBands
    val sums = (0 until totalBits).map(k =>
      sum(when(simBit(col(hCol), k), 1L).otherwise(-1L)).as(s"c$k"))
    val bandCols = (0 until numBands).map { bnd =>
      (0 until r).foldLeft(lit(0L)) { (acc, j) =>
        acc * 2 + when(col(s"c${bnd * r + j}") > 0, 1L).otherwise(0L)
      }.as(s"b$bnd")
    }
    posts.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), array((0 until numBands).map(i => col(s"b$i")): _*).as("sb"))
  }

  /** Portable ±1 sign for LSH plane k, dimension d. */
  def planeSign(k: Int, d: Column): Column = {
    import graft.functions.VecFns.{HashMult, MaxDim}
    pmod((lit(k.toLong * MaxDim) + d + 1) * HashMult, lit(graft.functions.VecFns.P)) % 2 === 1
  }

  /** [[graft.functions.VecFns.portableBuckets]] as one
    * `sum(when(planeSign…))` scalar aggregate per plane. */
  def portableBucketsScalar(df: DataFrame, idCol: String, vecCol: String,
                            bits: Int, tables: Int): DataFrame = {
    val posts = df.select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        floor(col("x").cast("double") * 10000 + 0.5).cast("long").as("q"))
    val projs = (0 until tables * bits).map(k =>
      sum(when(planeSign(k, col("d")), col("q")).otherwise(-col("q"))).as(s"p$k"))
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map(r =>
        when(col(s"p${t * bits + r}") > 0, 1L << r).otherwise(0L))
        .reduce(_ + _).as(s"b$t")
    }
    posts.groupBy(col(idCol)).agg(projs.head, projs.tail: _*)
      .select(col(idCol) +: bucketCols: _*)
      .select(col(idCol), explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("tb"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.b").as("b"))
  }

  /** `cdc_boundaries(t, w, mask)` as a per-position filter over the
    * string hash of each trailing w-char window. */
  def cdcBoundariesHof(t: Column, len: Column, w: Int, mask: Long): Column =
    when(len > w, filter(
      sequence(lit(w.toLong), len - 1),
      i => pmod(graft.functions.HashFns.strHash(
        t.substr((i - w + 1).cast("int"), lit(w))), lit(mask)) === 0))
      .otherwise(array().cast("array<long>"))

  /** `maxsim_score(qe, ne, CbDim)` as nested aggregate / array_max /
    * transform higher-order functions over element_at dots. */
  def maxsimHof(qe: Column, ne: Column): Column = {
    import graft.operators.Ann.{CbDim, CbTokens}
    def dot(i: Column, j: Column) = (0 until CbDim).map { t =>
      element_at(qe, (i * CbDim + t + 1).cast("int")) *
        element_at(ne, (j * CbDim + t + 1).cast("int"))
    }.reduce(_ + _)
    aggregate(sequence(lit(0), lit(CbTokens - 1)), lit(0L),
      (acc, i) => acc + array_max(
        transform(sequence(lit(0), lit(CbTokens - 1)), j => dot(i, j))))
  }

  /** [[graft.operators.PageRankIter.pagerankIter]] in its r4 form:
    * pairs re-derived from lineitem⨝orders, out-degree riding with
    * each edge (per-EDGE `r div deg`), no checkpoints. */
  def pagerankIterR4(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PageRankIter.{RankScale, TopK}
    val pairs = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    val rawEdges = pairs
      .select(concat(lit("c"), col("c")).as("src"), concat(lit("s"), col("sk")).as("dst"))
      .unionByName(pairs
        .select(concat(lit("s"), col("sk")).as("src"), concat(lit("c"), col("c")).as("dst")))
    val deg = rawEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edges = rawEdges.join(deg, "src")
    val nodes = deg.select(col("src").as("node"))
    def step(rank: DataFrame): DataFrame = {
      val m = edges
        .join(broadcast(rank.select(col("node").as("src"), col("r"))), "src")
        .select(col("dst"), expr("r div deg").as("ct"))
        .groupBy(col("dst")).agg(sum(col("ct")).as("m"))
      nodes.join(broadcast(m), col("node") === col("dst"), "left_outer")
        .select(col("node"), expr("150000L + (85 * coalesce(m, 0L)) div 100").as("r"))
    }
    step(step(nodes.withColumn("r", lit(RankScale))))
      .orderBy(col("r").desc, col("node"))
      .limit(TopK)
      .select(col("node"), col("r").as("rank"))
  }

  /** [[graft.operators.Retrieval.mmrDiversify]] with the greedy as
    * MmrK relational rounds (join + argmax window + checkpoint each)
    * instead of the local loop. */
  def mmrDiversifyRelational(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Retrieval.{MmrK, MmrLambda10, mmrCandsPairs}
    val (cands, pairs) = mmrCandsPairs(s, dir)
    val ws = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nb"))
    def pick(pool: DataFrame, r: Int): DataFrame = pool
      .withColumn("rn2", row_number().over(ws)).filter(col("rn2") === 1)
      .select(col("qid"), col("nb"), lit(r.toLong).as("rnk"), col("score"))
      .localCheckpoint()
    var picked = pick(cands.withColumn("score", lit(MmrLambda10) * col("rel4")), 1)
    var selected = picked.select(col("qid"), col("nb"))
    (2 to MmrK).foreach { r =>
      val ms = pairs
        .join(selected.withColumnRenamed("nb", "b"), Seq("qid", "b"))
        .groupBy(col("qid"), col("a")).agg(max(col("sim4")).as("ms"))
        .withColumnRenamed("a", "nb")
      val pool = cands
        .join(selected, Seq("qid", "nb"), "left_anti")
        .join(ms, Seq("qid", "nb"), "left_outer")
        .na.fill(0L, Seq("ms"))
        .withColumn("score",
          lit(MmrLambda10) * col("rel4") - lit(10 - MmrLambda10) * col("ms"))
      val p = pick(pool, r)
      picked = picked.unionByName(p)
      selected = selected.unionByName(p.select(col("qid"), col("nb")))
    }
    picked
  }

  /** [[graft.operators.CorpusClean.bpeTrainRun]] on the ROW frame
    * (doc_id, pos, w): per round a lead(w) window for the pair counts,
    * then the island-parity stageMerge/applyMerge window chain, each
    * round's frame persisted. Returns the final token frame (caller
    * unpersists) and the merge report rows. */
  def bpeTrainRowForm(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.CorpusClean.{BpeTrainRounds, applyMerge, stageMerge}
    def mat(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var toks = mat(Tables.documents(s, dir).select(col("doc_id"),
      posexplode(graft.functions.TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w"))))
    // every merged occurrence fuses two tokens into one, so the
    // token-count drop per round is the applied-merge count
    var nToks = toks.count()
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (round <- 1 to BpeTrainRounds) {
      val best = toks.withColumn("w1", lead(col("w"), 1).over(w))
        .filter(col("w1").isNotNull)
        .groupBy(col("w"), col("w1")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"), col("w1")).limit(1)
        .collect()(0)
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      val prev = toks
      toks = mat(applyMerge(stageMerge(toks, l, r), r))
      val nAfter = toks.count()
      prev.unpersist()
      merges += ((round, l, r, n, nToks - nAfter))
      nToks = nAfter
    }
    (toks, merges.result())
  }

  /** [[graft.queries.Behavior.removalEffects]] as relational steps:
    * every variant's chain in one variant-keyed frame, each of the
    * MkSteps mass-propagation steps a join + aggregate. */
  def removalEffectsRelational(s: SparkSession, trans: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Behavior.{MkSteps, ShapChannels}
    val variants = ("full" +: ShapChannels.map(_._1)).toDF("variant")
    val redirected = variants.crossJoin(broadcast(trans))
      .where(col("variant") === "full" || col("src") =!= col("variant"))
      .select(col("variant"), col("src"),
        when(col("variant") =!= "full" && col("dst") === col("variant"),
          lit("NULL")).otherwise(col("dst")).as("dst"),
        col("c"))
      .groupBy(col("variant"), col("src"), col("dst"))
      .agg(sum(col("c")).as("c"))
    val selfLoops = variants.crossJoin(broadcast(
      Seq(("CONV", "CONV", 1L), ("NULL", "NULL", 1L)).toDF("src", "dst", "c")))
    val p = redirected.unionByName(selfLoops.select(col("variant"),
        col("src"), col("dst"), col("c")))
      .withColumn("r", sum(col("c")).over(
        Window.partitionBy(col("variant"), col("src"))))
      .localCheckpoint() // ≤ 5·51 rows; read every step
    def step(v: DataFrame): DataFrame =
      v.join(p.select(col("variant").as("pv"), col("src"), col("dst"),
          col("c"), col("r")),
        col("variant") === col("pv") && col("state") === col("src"))
        .groupBy(col("variant"), col("dst"))
        .agg(sum(expr("mass * c div r")).as("mass"))
        .select(col("variant"), col("dst").as("state"), col("mass"))
    val v0 = variants.select(col("variant"), lit("START").as("state"),
      lit(1000000L).as("mass"))
    val vK = (1 to MkSteps).foldLeft(v0)((v, _) => step(v))
    // LEFT join from variants: a removal that makes CONV unreachable
    // produces NO CONV mass row — exactly the most decisive channels
    // — and must read p = 0, not vanish from the result
    val pConv = variants.join(vK.where(col("state") === "CONV")
        .select(col("variant").as("kv"), col("mass")),
        col("variant") === col("kv"), "left_outer")
      .select(col("variant"), coalesce(col("mass"), lit(0L)).as("p_ppm"))
    val full = pConv.where(col("variant") === "full")
      .select(col("p_ppm").as("p_full_ppm"))
    val removals = pConv.where(col("variant") =!= "full")
      .crossJoin(broadcast(full))
      .select(col("variant").as("channel"), col("p_full_ppm"),
        col("p_ppm").as("p_removed_ppm"),
        (col("p_full_ppm") - col("p_ppm")).as("removal_ppm"))
      .localCheckpoint() // 4 rows; read twice for the share rollup
    val totRem = removals.agg(sum(col("removal_ppm")).as("tot_rem"))
    removals.crossJoin(broadcast(totRem))
      .select(col("channel"), col("p_full_ppm"), col("p_removed_ppm"),
        col("removal_ppm"),
        when(col("tot_rem") === 0L, lit(0L))
          .otherwise(expr("removal_ppm * 1000 div tot_rem")).as("share_pm"))
  }

  /** [[graft.queries.TextOps.winnowFps]] in the oracle's shape: each
    * gram string built by transform/slice/concat_ws and char-folded,
    * then replicated to the ≤ w window-ends containing it and reduced
    * by a (doc, end) max aggregate instead of a running window. */
  def winnowFpsFanout(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.TextOps.{WinK, WinM, WinW}
    val P = graft.functions.HashFns.P
    val toks = col("toks")
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TextFns.wsTokens(lower(col("text"))).as("toks"))
      .filter(size(toks) > 0)
      .select(col("doc_id"),
        when(size(toks) >= WinK,
          transform(sequence(lit(0), size(toks) - WinK),
            i => concat_ws(" ", slice(toks, i + 1, lit(WinK)))))
          .otherwise(array(concat_ws(" ", toks))).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("ng"),
        posexplode(col("gs")).as(Seq("p", "g")))
      .select(col("doc_id"), col("ng"), col("p"),
        graft.functions.HashFns.strHash(col("g")).as("h"))
      .withColumn("key", expr(s"(${P}L - h) * $WinM + p"))
      // ends i span [min(w−1, ng−1), ng−1]; gram p belongs to every
      // end in [max(p, that floor), min(p+w−1, ng−1)]
      .select(col("doc_id"), col("ng"), col("key"),
        explode(sequence(
          greatest(col("p"), least(lit(WinW - 1), col("ng") - 1)),
          least(col("p") + (WinW - 1), col("ng") - 1))).as("i"))
      .groupBy(col("doc_id"), col("ng"), col("i"))
      .agg(max(col("key")).as("key"))
      .select(col("doc_id"), col("ng"), col("key")).distinct()
      .select(col("doc_id"), col("ng"), expr(s"${P}L - key div $WinM").as("h"))
  }

  /** [[graft.queries.TextOps.textrankKeywords]] with the rank tail
    * distributed over all documents at once: kernel survivors and
    * window pairs, then symmetrize+weight the edges, TrRounds of
    * weighted PageRank as (doc_id, src)-keyed joins with each node's
    * weighted degree carried in the rank frame, top-K per doc by a
    * window rank. */
  def textrankDistributed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.queries.TextOps.{TrBase, TrRounds, TrScale, TrTopK, trSpFrame}
    val sp = trSpFrame(s, dir).localCheckpoint()
    val nodes = sp
      .select(col("doc_id"), explode(col("sp.toks")).as("node")).distinct()
    val edges = sp
      .select(col("doc_id"), explode(col("sp.pairs")).as("c"))
      .select(col("doc_id"), col("c.src").as("src"), col("c.dst").as("dst"))
    val symBase = edges.unionByName(
        edges.select(col("doc_id"), col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("doc_id"), col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // wdeg of the DST endpoint rides the edge row: the graph is
    // symmetric by construction (u–v and v–u carry the same count),
    // so the dst-keyed window sum equals the src-keyed degree, and
    // the per-round aggregate can hand every node its own divisor
    // for the NEXT round without any join
    val wdegW = Window.partitionBy(col("doc_id"), col("dst"))
    val symW = symBase
      .withColumn("wdeg_dst", sum(col("w")).over(wdegW))
      .repartition(col("doc_id"), col("src")) // the per-round join key
      .persist(lvl)
    val connected = symW
      .select(col("doc_id"), col("dst").as("node"), col("wdeg_dst").as("wdeg"))
      .distinct()
    def step(rank: DataFrame): DataFrame = {
      val contrib = rank.select(col("doc_id"), col("node").as("src"),
        expr("r div wdeg").as("rw"))
      symW.join(contrib, Seq("doc_id", "src"))
        .groupBy(col("doc_id"), col("dst"), col("wdeg_dst"))
        .agg(sum(col("w") * col("rw")).as("m"))
        .select(col("doc_id"), col("dst").as("node"),
          col("wdeg_dst").as("wdeg"),
          expr(s"${TrBase}L + (85 * m) div 100").as("r"))
    }
    val r0 = connected.withColumn("r", lit(TrScale))
    val rC = (1 to TrRounds).foldLeft(r0)((r, _) => step(r))
      .select(col("doc_id"), col("node"), col("r"))
    // isolated candidates (no surviving co-occurrence partner):
    // zero incoming mass every round, so for TrRounds >= 1 they sit
    // at exactly the 0.15 base — no reason to drag them through the
    // rank loop
    val isolated = nodes
      .join(connected.select(col("doc_id"), col("node")),
        Seq("doc_id", "node"), "left_anti")
      .select(col("doc_id"), col("node"), lit(TrBase).as("r"))
    val rFinal = rC.unionByName(isolated)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("r").desc, col("node"))
    rFinal.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TrTopK)
      .select(col("doc_id"), col("node").as("tok"), col("rnk"),
        col("r").as("rank_pm"))
  }
}
