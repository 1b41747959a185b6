package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table plumbing shared by Verify, Bench and the specs.
  *
  * Local mode runs one JVM with N executor threads, so shuffle
  * partitions are sized to the core count rather than the 200
  * default; on a real cluster these come from the submit conf and
  * AQE coalesces from there.
  */
object GraftSession {
  def configured(builder: SparkSession.Builder, cores: String): SparkSession = {
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // prefer shuffled-hash over sort-merge when the planner's size
      // conditions allow (optimization-guide §3.1): drops both sort
      // legs; falls back to SMJ whenever the build side is not
      // provably small per partition, so spill safety is unchanged.
      // Env-overridable for A/B and for clusters that want the
      // always-spillable default back.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      // the 64-column sketch aggregates generate large classes; the
      // default 100-entry codegen cache thrashes when many queries
      // share a session (measured: 22 s cold → 120 s mid-bench from
      // repeated Janino recompiles)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // testdata events.ts is parquet TIMESTAMP(NANOS) which Spark's
      // reader rejects; read as long ns and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // disk-backed streaming state: the default HDFS-backed provider
      // keeps every state row on the JVM heap, which caps keyed state
      // (sessionize users, KMV windows) at executor memory; RocksDB
      // spills to local disk with an in-memory working set, the
      // provider 100 TB key cardinalities need. All streaming specs
      // and every stream_* query runs under it.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native codegen'd kernels + surfaced internals; idempotent.
    // Shared with [[GraftExtensions]] (the spark.sql.extensions
    // deployment path) via [[GraftFunctions]].
    GraftFunctions.all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark
  }

  def local(cores: Int = 4): SparkSession =
    configured(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores.toString)
}

/** The graft function surface, name → expression builder — the ONE
  * list both registration paths share.
  *
  * - `vec_dot`: the codegen'd dot-product kernel
  *   ([[graft.plans.VecDotProduct]]).
  * - `bloom_agg` / `bloom_contains`: Spark ships
  *   BloomFilterAggregate/BloomFilterMightContain for its runtime
  *   row-level filters but leaves them off the public registry;
  *   surfacing them lets plans build EXPLICIT semi-join prefilters
  *   (the analyzer wraps the bare AggregateFunction).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.types.{IntegerType, LongType}

  /** Sketch sizes must be plan-time constants (they fix the aggregate
    * buffer width); fail analysis with the function's name instead of
    * a raw ClassCastException on e.g. `kmv_agg(h, k_col)`. */
  private def intLit(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) if v > 0  => v
    case Literal(v: Long, LongType) if v > 0 && v <= Int.MaxValue => v.toInt
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map("funcName" -> s"`$fn`",
        "paramName" -> "`k`", "paramType" -> "positive \"INT\" literal"))
  }

  /** String config args (e.g. a stopword vocabulary) must be
    * plan-time constants — they are parsed once into the expression
    * node, never per row. Same analysis-time contract as [[intLit]]. */
  private def strLit(fn: String, e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) if v != null => v.toString
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map("funcName" -> s"`$fn`",
        "paramName" -> "`stops`", "paramType" -> "\"STRING\" literal"))
  }

  /** Window/divisor args of the scalar kernels must be POSITIVE
    * plan-time constants: `cdc_boundaries(text, 8, 0)` would hit
    * modulo-by-zero and `maxsim_score(a, b, 0)` divide-by-zero at
    * execution time otherwise. Same analysis-time contract as
    * [[intLit]]; int literals are widened so SQL callers can write
    * bare `8` where the kernel takes bigint. `max` bounds the params
    * a kernel narrows to Int (a gram width, a dimension, a window):
    * `token_grams(t, 4294967299)` would otherwise run as n = 3. */
  private def posLongLit(fn: String, param: String, e: Expression,
                         max: Long = Long.MaxValue): Expression =
    e match {
      case Literal(v: Int, IntegerType) if v > 0 => Literal(v.toLong, LongType)
      case l @ Literal(v: Long, LongType) if v > 0 && v <= max => l
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$fn`",
          "paramName" -> s"`$param`",
          "paramType" ->
            (if (max == Long.MaxValue) "positive \"BIGINT\" literal"
             else s"positive \"BIGINT\" literal <= $max")))
    }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> ((exprs: Seq[Expression]) =>
      graft.plans.VecDotProduct(exprs(0), exprs(1))),
    "str_poly_hash" -> ((exprs: Seq[Expression]) =>
      graft.plans.StrPolyHash(exprs(0), exprs(1))),
    "token_gram_hashes" -> ((exprs: Seq[Expression]) =>
      graft.plans.TokenGramHashes(exprs(0), exprs(1))),
    "maxsim_score" -> ((exprs: Seq[Expression]) =>
      graft.plans.MaxSimScore(exprs(0), exprs(1),
        posLongLit("maxsim_score", "d", exprs(2), Int.MaxValue))),
    "cdc_boundaries" -> ((exprs: Seq[Expression]) =>
      graft.plans.CdcBoundaries(exprs(0),
        posLongLit("cdc_boundaries", "w", exprs(1), Int.MaxValue),
        posLongLit("cdc_boundaries", "mask", exprs(2)))),
    "kmv_agg" -> ((exprs: Seq[Expression]) =>
      graft.plans.KmvAgg(exprs(0), intLit("kmv_agg", exprs(1)))),
    "minhash_agg" -> ((exprs: Seq[Expression]) =>
      graft.plans.MinhashAgg(exprs(0), intLit("minhash_agg", exprs(1)))),
    "simhash_agg" -> ((exprs: Seq[Expression]) =>
      graft.plans.SimhashAgg(exprs(0), intLit("simhash_agg", exprs(1)),
        intLit("simhash_agg", exprs(2)))),
    "signlsh_agg" -> ((exprs: Seq[Expression]) =>
      graft.plans.SignLshAgg(exprs(0), exprs(1),
        intLit("signlsh_agg", exprs(2)), intLit("signlsh_agg", exprs(3)))),
    "band_energies" -> ((exprs: Seq[Expression]) =>
      graft.plans.BandEnergies(exprs(0), intLit("band_energies", exprs(1)))),
    "cp_sum" -> ((exprs: Seq[Expression]) =>
      graft.plans.CpSum(exprs(0))),
    "token_grams" -> ((exprs: Seq[Expression]) =>
      graft.plans.TokenGrams(exprs(0),
        posLongLit("token_grams", "n", exprs(1), Int.MaxValue))),
    "lap_energy" -> ((exprs: Seq[Expression]) =>
      graft.plans.LapEnergy(exprs(0))),
    "phash_sketch" -> ((exprs: Seq[Expression]) =>
      graft.plans.PhashSketch(exprs(0),
        intLit("phash_sketch", exprs(1)), intLit("phash_sketch", exprs(2)))),
    "patch_sums" -> ((exprs: Seq[Expression]) =>
      graft.plans.PatchSums(exprs(0), intLit("patch_sums", exprs(1)))),
    "token_grams_all" -> ((exprs: Seq[Expression]) =>
      graft.plans.TokenGramsAll(exprs(0),
        posLongLit("token_grams_all", "n", exprs(1), Int.MaxValue))),
    "tok_pairs" -> ((exprs: Seq[Expression]) =>
      graft.plans.TokPairs(exprs(0))),
    "tr_surv_pairs" -> ((exprs: Seq[Expression]) =>
      graft.plans.TrSurvPairs(exprs(0),
        intLit("tr_surv_pairs", exprs(1)), intLit("tr_surv_pairs", exprs(2)),
        strLit("tr_surv_pairs", exprs(3)))),
    "tr_rank" -> ((exprs: Seq[Expression]) =>
      graft.plans.TrRank(exprs(0),
        intLit("tr_rank", exprs(1)), intLit("tr_rank", exprs(2)),
        intLit("tr_rank", exprs(3)).toLong, intLit("tr_rank", exprs(4)).toLong)),
    "bpe_merge" -> ((exprs: Seq[Expression]) =>
      graft.plans.BpeMerge(exprs(0), exprs(1), exprs(2))),
    "bloom_agg" -> ((exprs: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))),
    "bloom_contains" -> ((exprs: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))))
}

/** Parquet table loaders for the driver-generated star schema. */
object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** The generator has shipped `events.ts` three ways across rounds:
    * parquet TIMESTAMP(NANOS) (read as long ns via the nanosAsLong
    * legacy flag), TIMESTAMP_NTZ micros, and plain TIMESTAMP. All
    * event-time code (windows, watermarks, sessionization) is written
    * against TimestampType, so normalize just that column — the
    * session runs in UTC, making the NTZ→LTZ cast a pure wall-clock
    * relabel, which is also exactly what DuckDB's
    * CAST(ts AS TIMESTAMP) oracle view sees. Other NTZ columns
    * (l_shipdate, o_orderdate) pass through untouched: operators and
    * oracles already agree on them as-is. Works on batch and
    * streaming frames alike. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.name == "ts").foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: TimestampNTZType => acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case LongType =>
          // legacy nanos-as-long; integer division — a double
          // round-trip would lose precision above 2^53 ns
          acc.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
        case _ => acc
      }
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
