package graft
import org.apache.spark.sql.SparkSession

/** Plan-shape probe for perf triage: prints the plan of each named
  * SparkEntry query — grep for BroadcastHashJoin / PushedFilters /
  * Exchange counts.
  *
  * Prints `explain("formatted")` (the optimization-guide §7.2 form:
  * numbered operator list + per-operator details incl. PushedFilters
  * and ReadSchema) — the round's plans/ before/after evidence
  * files are captured with exactly this output. Set
  * SPARK_GRAFT_PLAN_SF to probe a different scale (default sf0.001;
  * plan SHAPE is scale-invariant here, but AQE-chosen strategies can
  * differ — capture at the bench scale when a claim depends on one).
  *
  * Usage: runMain graft.PlanProbe <name> [name...]
  */
object PlanProbe {
  /** Internal frames whose PUBLIC query plan is localCheckpoint-
    * truncated (Scan ExistingRDD): probe these names to see the real
    * shape the checkpoint hides. */
  private def frames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "bitext_margin_frame" -> ((s, d) =>
      operators.Retrieval.marginMineFrame(operators.Retrieval.bitextLshPairs(s, d))),
    "ngram_novelty_frame" -> ((s, d) =>
      queries.TextOps.ngramNoveltyFrame(s, queries.TextOps.ngramPosts(s, d))),
    "kmv_intersect_frame" -> ((s, d) =>
      operators.Sketches.kmvIntersectFrame(operators.Sketches.kmvPostings(s, d))),
    "mmr_pairs_frame" -> ((s, d) =>
      operators.Retrieval.mmrCandsPairs(s, d)._2),
    // dedup_clusters materializes its pair list EAGERLY (count +
    // collect during construction), so the public plan shows only the
    // withSingletons tail; the artifact delta lives in the PAIRS
    // frame these two expose (fresh C2 sweep vs parquet read)
    "dedup_clusters_pairs_fresh" -> ((s, d) =>
      operators.Dedup.minhashLshFrame(s, d)),
    "dedup_clusters_pairs_artifact" -> ((s, d) =>
      operators.Dedup.lshPairsArtifact(s, d)),
    // bpe_train collects per round, so its loop never shows in one
    // plan; this exposes ONE round's pair-count frame
    "bpe_round_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.documents(s, d).select(col("doc_id"),
          functions.TextFns.wsTokens(lower(col("text"))).as("ts"))
        .select(explode(call_function("tok_pairs", col("ts"))).as("p"))
        .select(col("p.w").as("w"), col("p.w1").as("w1"))
        .groupBy(col("w"), col("w1")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"), col("w1")).limit(1)
    }),
    "textrank_sp_frame" -> ((s, d) => queries.TextOps.trSpFrame(s, d)),
    "keyness_frame" -> ((s, d) =>
      queries.TextOps.keynessFrame(queries.TextOps.keynessCells(s, d))),
    // the gate/bucket consumers checkpoint their cells during
    // construction, so their public plans hide the scoring half; the
    // artifact delta lives in the SCORES frame these two expose
    "lm_scores_fresh" -> ((s, d) =>
      operators.CorpusClean.lmPerDoc(s, d, barrier = false)),
    "lm_scores_artifact" -> ((s, d) =>
      operators.CorpusClean.lmScoresArtifact(s, d)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    for (n <- args) {
      println(s"===== $n")
      val df = frames.get(n).map(_(spark, sfDir))
        .getOrElse(SparkEntry.queries(n)(spark, sfDir))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
