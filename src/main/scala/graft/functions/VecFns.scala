package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector kernels for similarity search (SURVEY.md §2 C5/D*): dot
  * product / cosine over `array<float>` embedding columns, via
  * `zip_with` + `aggregate` higher-order functions — codegen'd, no
  * UDF row-object churn in the hot path.
  */
object VecFns {

  /** Σ aᵢ·bᵢ in double precision (floats promoted before multiply).
    * Dispatches to the codegen'd [[graft.plans.VecDotProduct]]
    * (registered as `vec_dot` by GraftSession) — same left-to-right
    * double accumulation as the interpreted HOF form, ~10× faster. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 for zero-norm vectors (ANSI-safe: no /0). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Max vector dimensionality the portable plane-sign family covers
    * (the (plane, dim) → sign hash is indexed by k·MaxDim + d). */
  val MaxDim = 512

  /** Portable universal-hash constants (shared with the DuckDB
    * oracles as literals). */
  val HashMult = 2654435761L
  val P = 1000000007L

  /** Sign-LSH bucket assignment with INTEGER arithmetic end to end:
    * embeddings are quantized to q = floor(x·10⁴ + 0.5) (the
    * emb_quantize half-up convention), each plane projection is
    * Σ_d ±q_d with portable signs — the sign for plane k, dimension d
    * is the parity of ((k·MaxDim + d + 1)·HashMult) mod P, exactly
    * replayable in ANSI SQL and < 2^46 for any plane count in use —
    * and bit r of table t = (projection of plane t·bits+r) > 0. Exact
    * integer sums are order-independent, so Spark's unordered partial
    * aggregation and DuckDB's scan order produce identical buckets —
    * float projections could sign-flip near 0 between engines. Shape:
    * one posexplode + the [[graft.plans.SignLshAgg]] buffer aggregate
    * (one tight planes-long loop over a tabulated sign table, planes
    * longs per partial, instead of one scalar `sum` per plane and its
    * giant codegen class per layout — OPTIMIZATION_r13.md); the result
    * is the exploded (id, t, b) keys ready for the (t, b) equi-join. */
  def portableBuckets(df: DataFrame, idCol: String, vecCol: String,
                      bits: Int, tables: Int): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        floor(col("x").cast("double") * 10000 + 0.5).cast("long").as("q"))
      .groupBy(col(idCol))
      .agg(call_function("signlsh_agg", col("d"), col("q"),
        lit(bits), lit(tables)).as("bs"))
      .select(col(idCol), posexplode(col("bs")).as(Seq("t", "b")))

  /** DuckDB CTEs computing the portable (vec_id, t, b) bucket keys
    * for every embedding — the literal replay of [[portableBuckets]]
    * (ends in a CTE named `buckets`). */
  def portableBucketsSql(bits: Int, tables: Int, src: String = "embeddings"): String =
    s"""posts AS (
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS d
       |        FROM $src)),
       |projs AS (
       |  SELECT vec_id, k,
       |    sum(CASE WHEN (((k * $MaxDim + d + 1) * $HashMult) % $P) % 2 = 1
       |        THEN q ELSE -q END) AS p
       |  FROM posts, (SELECT unnest(range(${tables * bits})) AS k)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id, CAST(k // $bits AS INT) AS t,
       |    CAST(sum(CASE WHEN p > 0
       |      THEN (1::BIGINT << CAST(k % $bits AS INT)) ELSE 0 END) AS BIGINT) AS b
       |  FROM projs GROUP BY 1, 2)""".stripMargin

  // Band geometry note (applies to portableBuckets' (bits, tables)
  // choice): P(vectors at angle θ share ≥1 band) =
  // 1-(1-(1-θ/π)^bits)^tables. Tight near-dup thresholds (cos ≥ 0.9,
  // θ ≈ 26°) want wide selective bands (8×8); a weak threshold like
  // cos ≥ 0.4 (θ ≈ 66°) needs narrow permissive ones (2-bit × 32,
  // per-pair miss ≈ 9e-8).
}
