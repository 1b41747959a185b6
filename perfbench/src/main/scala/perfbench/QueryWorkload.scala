package perfbench

import graft.SparkEntry

/** A closed loop with one client over named `SparkEntry.queries`
  * entries, each forced with a `noop` write. `warehouse_queries` draws
  * a fresh seeded order of its query mix per round; `corpus_curation`
  * runs its operators in pipeline order, one pass after another.
  *
  * Output checks: the first warm-up pass writes every entry's result as
  * parquet, which run.py compares with the DuckDB oracle
  * (`SparkEntry.oracleSql`); after measuring, a seeded sample of
  * `Rechecks` entries is run again and must equal the warm-up result. */
final class QueryWorkload(ops: Seq[String], layer: String, shuffled: Boolean,
                          corpus: Boolean, sizes: TableGen.Sizes) extends Workload {
  val Rechecks = 4
  private var dir: String = _
  /** Seeded order of the mix, drawn afresh for every round of the run. */
  private var rng: scala.util.Random = _

  def prepare(ctx: Ctx, d: String): Unit = {
    dir = s"$d/tables"
    if (corpus) TableGen.corpus(ctx.spark, dir, ctx.seed, sizes)
    else TableGen.warehouse(ctx.spark, dir, ctx.seed, sizes)
  }

  /** Run one entry; `out` = null forces it with `noop`, otherwise the
    * result is written there as parquet. Returns its seconds. */
  private def run(ctx: Ctx, name: String, out: String): Double = {
    val t0 = System.nanoTime()
    Trace.span(layer, name) {
      val w = SparkEntry.queries(name)(ctx.spark, dir).write.mode("overwrite")
      if (out == null) w.format("noop").save() else w.parquet(s"$out/$name")
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def dump(ctx: Ctx, tag: String, names: Seq[String]): Unit = {
    val out = s"${ctx.work}/results_$tag"
    names.foreach(n => ctx.op(n)(run(ctx, n, out)))
    ctx.outputs(tag) = Seq(out)
  }

  def warmup(ctx: Ctx): Unit = {
    rng = new scala.util.Random(ctx.seed)
    ctx.outputs("tables") = Seq(dir)
    ctx.outputs("oracle") = Seq(s"${ctx.work}/oracle_sql.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.work}/oracle_sql.json"),
      Json.write(ops.map(n => n -> SparkEntry.oracleSql(n)).toMap)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dump(ctx, "first", ops)
    // further passes forced with noop, as the measured ones are (see
    // `WarmPasses` in the companion)
    (1 until QueryWorkload.WarmPasses).foreach(_ => ops.foreach(n => ctx.op(n)(run(ctx, n, null))))
  }

  override def finish(ctx: Ctx): Unit =
    dump(ctx, "last", new scala.util.Random(ctx.seed + 1).shuffle(ops).take(Rechecks))

  /** Each entry's seconds in the traced rounds. */
  private val perOp = scala.collection.mutable.Map[String, Seq[Double]]()

  /** Whole rounds, every entry once per round ([[Rounds]]). */
  def measure(ctx: Ctx, deadlineNs: Long): Window = {
    val lat = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val rounds = Rounds.run(deadlineNs) {
      (if (shuffled) rng.shuffle(ops) else ops).foreach { n =>
        ctx.op(n)(run(ctx, n, null)).foreach { s =>
          lat += n -> s
          if (Trace.enabled) perOp(n) = perOp.getOrElse(n, Nil) :+ s
        }
      }
    }
    val wall = lat.map(_._2).sum
    // corpus: documents curated per second; warehouse: queries per second
    Window(lat.toSeq, if (corpus) sizes.docs.toDouble * rounds else lat.size.toDouble, wall, lat.size)
  }

  override def traceExtras(ctx: Ctx): Map[String, Double] =
    ops.map(n => s"$layer.${n}_s" -> perOp.get(n).map(Main.median).getOrElse(0.0)).toMap ++
      (if (corpus) Kernels.rates(ctx, dir).toMap else Map.empty)
}

object QueryWorkload {
  /** Ten of the query surface's TPC-H shapes and analytics: scans,
    * joins of two to six tables, a top-n, an anti-join, windows and
    * exact aggregates. */
  val WarehouseOps: Seq[String] = Seq("q1_agg", "q3_join_topn", "q5_multijoin", "q6_range_sum",
    "q18_big_orders", "q21_late_solo", "topn_per_group", "funnel", "cohort_ltv", "percentiles")

  /** Seven curation operators in pipeline order: exact and simhash
    * dedup, heuristic filters, quality scoring, BM25 retrieval, vector
    * kNN by LSH, BPE training. */
  val CurationOps: Seq[String] = Seq("dedup_exact", "dedup_simhash", "c4_filters",
    "text_quality", "bm25_topk", "knn_join_lsh", "bpe_train")

  val WarehouseSizes = TableGen.Sizes(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, events = 10000, docs = 0, vectors = 0)
  val CorpusSizes = TableGen.Sizes(0, 0, 0, 0, 0, docs = 1000, vectors = 500)

  /** Warm-up passes over the mix before the window, the first writing
    * the results the oracle checks. After one pass both mixes still ran
    * 10-25% faster in each of the next two to four rounds, and a window
    * right after it read 0.15 to 0.25 apart between seeds (quartile
    * spread of latency_s over ten seeds); after three passes the
    * warehouse mix read 0.08. */
  val WarmPasses = 3

  def warehouse: QueryWorkload =
    new QueryWorkload(WarehouseOps, "queries", shuffled = true, corpus = false, WarehouseSizes)
  def curation: QueryWorkload =
    new QueryWorkload(CurationOps, "operators", shuffled = false, corpus = true, CorpusSizes)
}

/** The `plans` layer: each codegen kernel the program registers, called
  * through SQL over the generated corpus columns (replicated `Copies`
  * times, so the kernel and not the per-query overhead dominates),
  * timed from outside and reported as input rows per second. */
object Kernels {
  val Calls: Seq[(String, String, String)] = Seq(
    ("str_poly_hash", "documents", "SELECT sum(str_poly_hash(text, 31L)) FROM documents"),
    ("token_gram_hashes", "documents",
      "SELECT sum(size(token_gram_hashes(lower(text), 3L))) FROM documents"),
    ("token_grams", "documents", "SELECT sum(size(token_grams(lower(text), 2L))) FROM documents"),
    ("minhash_agg", "grams", "SELECT count(*) FROM (SELECT doc_id, minhash_agg(h, 64) m FROM grams GROUP BY doc_id)"),
    ("simhash_agg", "grams", "SELECT count(*) FROM (SELECT doc_id, simhash_agg(h, 64, 4) m FROM grams GROUP BY doc_id)"),
    ("signlsh_agg", "components",
      "SELECT count(*) FROM (SELECT vec_id, signlsh_agg(d, q, 8, 4) b FROM components GROUP BY vec_id)"),
    ("kmv_agg", "grams", "SELECT size(kmv_agg(h, 256)) FROM grams"),
    ("vec_dot", "embeddings", "SELECT sum(vec_dot(embedding, embedding)) FROM embeddings"),
    ("tok_pairs", "documents", "SELECT sum(size(tok_pairs(split(text, ' ')))) FROM documents"),
    ("bpe_merge", "documents", "SELECT sum(size(bpe_merge(split(text, ' '), 'the', 'a'))) FROM documents"))

  val Reps = 3
  val Copies = 20

  def rates(ctx: Ctx, dir: String): Seq[(String, Double)] = {
    val s = ctx.spark
    def copies(t: String) = s.read.parquet(s"$dir/$t.parquet")
      .crossJoin(s.range(Copies).withColumnRenamed("id", "copy")).cache()
    copies("documents").createOrReplaceTempView("documents")
    copies("embeddings").createOrReplaceTempView("embeddings")
    s.sql("SELECT doc_id + copy * 1000000 AS doc_id, explode(token_gram_hashes(lower(text), 3L)) h FROM documents")
      .cache().createOrReplaceTempView("grams")
    s.sql("SELECT vec_id + copy * 1000000 AS vec_id, CAST(p AS INT) d, CAST(round(x * 1000) AS BIGINT) q " +
      "FROM embeddings LATERAL VIEW posexplode(embedding) e AS p, x")
      .cache().createOrReplaceTempView("components")
    val rows = Seq("documents", "embeddings", "grams", "components")
      .map(t => t -> s.table(t).count().toDouble).toMap
    Calls.flatMap { case (fn, input, sql) =>
      ctx.op(s"plans.$fn") {
        s.sql(sql).collect() // warm: codegen compiled once
        val secs = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          s.sql(sql).collect()
          (System.nanoTime() - t0) / 1e9
        }
        s"plans.${fn}_rows_per_s" -> rows(input) / Main.median(secs)
      }
    }
  }
}
