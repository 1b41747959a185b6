package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.ingest.{Decisions, Fetch, Manifest, Upsert, ZipCsv}
import graft.sinks.JdbcUpsertSink

/** The reference's job, three legs per iteration over the same seeded
  * daily dumps, each landing in Derby and each checked against the
  * generator's own last-write winners:
  *
  * - backfill: date range → daily dump fetch from a file:// mirror →
  *   nested-zip CSV scan → typed Decision parse → last-write-wins on
  *   uuid → optimistic JDBC write into an empty table (plain INSERT);
  * - rerun: the same job into the now-populated table (every partition
  *   hits 23505, rolls back and replays as MERGE);
  * - stream: the days' rows as parquet files published open-loop into
  *   a watched directory, streamed through the parse and a guarded
  *   MERGE per micro-batch ([[StreamLeg]]). */
final class DsaIngest extends Workload {
  val Days = 12
  val PerDay = 250
  val RecurShare = 0.05
  val StreamIntervalMs = 100
  val Table = "DECISIONS"
  val StreamTable = "DECISIONS_STREAM"

  private var mirror: String = _
  private var from: String = _
  private var to: String = _
  private var expected: (Long, Long) = _
  private var archiveBytes = 0L
  private var db: String = _
  private var dbSeq = 0
  private var stream: StreamLeg = _
  private val layer = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def prepare(ctx: Ctx, dir: String): Unit = {
    val rng = new java.util.SplittableRandom(ctx.seed)
    val start = LocalDate.of(2025, 1, 1).plusDays(math.floorMod(ctx.seed, 300L))
    val missing = 1 + rng.nextInt(Days - 2) // one day in the range is never published
    val recs = DecisionGen.groups(ctx.seed, Days, PerDay, RecurShare,
      start.atStartOfDay(ZoneOffset.UTC).toEpochSecond)
    val published = (0 until Days).filter(_ != missing)
    mirror = s"$dir/mirror"
    Files.createDirectories(Paths.get(mirror))
    published.foreach { d =>
      val day = start.plusDays(d.toLong).toString
      DecisionGen.writeDump(s"$mirror/${Manifest.UrlPrefix}$day-full.zip", day, d, recs(d))
    }
    from = start.toString
    to = start.plusDays(Days - 1L).toString
    expected = DecisionGen.digest(DecisionGen.winners(published.flatMap(recs)))
    archiveBytes = new java.io.File(mirror).listFiles().map(_.length).sum
    stream = new StreamLeg(StreamIntervalMs)
    stream.prepare(ctx, s"$dir/stream", published.map(recs))
    if (db != null) Derby.drop(db)
    dbSeq += 1
    db = s"dsa$dbSeq"
    Derby.create(db, DecisionGen.ddl(Table))
    Derby.exec(db, DecisionGen.ddl(StreamTable))
  }

  def warmup(ctx: Ctx): Unit = iteration(ctx)

  /** One iteration: reset the tables, then the three legs. Returns the
    * latency samples (each batch leg's seconds, each streamed file's
    * lag) and the seconds of the legs that succeeded. */
  private def iteration(ctx: Ctx): (Seq[(String, Double)], Double, Int) = {
    Seq(Table, StreamTable).foreach { t =>
      Derby.exec(db, s"DROP TABLE $t")
      Derby.exec(db, DecisionGen.ddl(t))
    }
    val samples = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var legS = 0.0
    var done = 0
    Seq("backfill", "rerun", "stream").foreach { leg =>
        ctx.op(s"dsa_ingest.$leg") {
          val (s, lat) = Trace.span(if (leg == "stream") "streaming" else "ingest", leg) {
            if (leg == "stream") stream.run(ctx, db, StreamTable)
            else { val s = if (Trace.enabled) tracedLeg(ctx, leg) else plainLeg(ctx); (s, Seq(s)) }
          }
          verify(ctx, leg, if (leg == "stream") StreamTable else Table)
          if (Trace.enabled) { layer(s"ingest.${leg}_s") += s; layer(s"ingest.${leg}_legs") += 1 }
          samples ++= lat.map(leg -> _)
          legS += s
          done += 1
        }
      }
    (samples.toSeq, legS, done)
  }

  private def urls(ctx: Ctx): DataFrame =
    Manifest.daily(ctx.spark, from, to)
      .select(concat(lit(Paths.get(mirror).toUri.toString.stripSuffix("/") + "/"), col("file")).as("url"))

  private def checkFetch(ctx: Ctx, statuses: Array[String]): Unit =
    ctx.check("dsa_ingest.fetch_statuses",
      statuses.count(_ == "fetched") == Days - 1 && statuses.count(_ == "permanent_fail") == 1,
      s"fetch statuses ${statuses.groupBy(identity).map { case (k, v) => k -> v.length }}")

  private def lww(parsed: DataFrame): DataFrame =
    Upsert.lastWriteWins(parsed, Seq("uuid"), Decisions.lwwOrder)
      .select(Decisions.OutCols.map(col): _*)

  /** The job as a user runs it: each stage feeds the next lazily. */
  private def plainLeg(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    val fetched = Fetch.fetchArchives(urls(ctx), "url", backoffMs = 1)
    checkFetch(ctx, fetched.select("status").collect().map(_.getString(0)))
    val raw = ZipCsv.read(ctx.spark, mirror, Decisions.FieldNames).drop("_src")
    val parsed = Decisions.parse(raw).filter(col("uuid") =!= "")
    JdbcUpsertSink.writeOptimistic(lww(parsed), Derby.url(db), Table, "uuid",
      mergeTypes = DecisionGen.columnTypes)
    (System.nanoTime() - t0) / 1e9
  }

  /** The same job with every stage materialized on its own (persisted
    * and counted) inside its span, and the sink given the counting
    * connection wrapper. */
  private def tracedLeg(ctx: Ctx, leg: String): Double = {
    val t0 = System.nanoTime()
    val man = Trace.span("ingest", "manifest") { val m = urls(ctx).persist(); m.count(); m }
    val st = Trace.span("ingest", "fetch") {
      Fetch.fetchArchives(man, "url", backoffMs = 1).select("status", "attempts", "n_bytes").collect()
    }
    checkFetch(ctx, st.map(_.getString(0)))
    layer("ingest.fetch_attempts") += st.map(_.getInt(1)).sum
    layer("ingest.fetch_permanent_fail") += st.count(_.getString(0) == "permanent_fail")
    layer("ingest.fetch_bytes") += st.map(_.getLong(2)).sum
    val raw = Trace.span("ingest", "zipcsv") {
      val r = ZipCsv.read(ctx.spark, mirror, Decisions.FieldNames).drop("_src").persist()
      layer("ingest.zipcsv_rows") += EngineProbe.tagged(ctx.spark, "ingest.zipcsv")(r.count())
      r
    }
    layer("ingest.archive_bytes") += archiveBytes
    val parsed = Trace.span("ingest", "parse") {
      val p = Decisions.parse(raw).filter(col("uuid") =!= "").persist()
      layer("ingest.parse_rows") += p.count()
      p
    }
    val won = Trace.span("ingest", "lww") {
      val w = lww(parsed).persist()
      layer("ingest.lww_rows") += w.count()
      w
    }
    val w0 = System.nanoTime()
    val db0 = CountingJdbc.dbExecNs.get
    Trace.span("sinks", "write") {
      JdbcUpsertSink.writeOptimistic(won, Derby.url(db), Table, "uuid",
        mergeTypes = DecisionGen.columnTypes, connect = CountingJdbc.connect)
    }
    layer(s"sinks.${leg}_write_s") += (System.nanoTime() - w0) / 1e9
    layer(s"sinks.${leg}_db_exec_s") += (CountingJdbc.dbExecNs.get - db0) / 1e9
    Seq(man, raw, parsed, won).foreach(_.unpersist())
    (System.nanoTime() - t0) / 1e9
  }

  private def verify(ctx: Ctx, leg: String, table: String): Unit = {
    val got = DecisionGen.digest(Derby.rows(db, table, Decisions.OutCols))
    ctx.check(s"dsa_ingest.$leg.table_equals_lww_winners", got == expected,
      s"Derby table (rows, hash) $got != generator's winners $expected")
  }

  /** Latency samples by kind: backfill and rerun legs (their seconds)
    * and streamed files (their lag); throughput: rows landed per second
    * of leg time. */
  def measure(ctx: Ctx, deadlineNs: Long): Window = {
    val lat = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var legS = 0.0
    var legs = 0
    Rounds.run(deadlineNs) {
      val (l, s, n) = iteration(ctx)
      lat ++= l
      legS += s
      legs += n
    }
    Window(lat.toSeq, expected._1.toDouble * legs, legS, legs)
  }

  override def traceExtras(ctx: Ctx): Map[String, Double] =
    traceLayer(ctx) ++ stream.layerMetrics(ctx, math.max(1.0, layer("ingest.stream_legs")))

  /** Per-layer numbers from the traced legs: ingest stages per batch
    * leg (backfill or rerun), sink numbers per leg. */
  private def traceLayer(ctx: Ctx): Map[String, Double] = {
    val legs = layer("ingest.backfill_legs") + layer("ingest.rerun_legs") + layer("ingest.stream_legs")
    if (legs == 0) return Map.empty
    val sp = Trace.all
    // the traced window is over and the listener bus drained
    val zipBytes = ctx.probe.taggedInputBytes("ingest.zipcsv").toDouble
    val batchLegs = math.max(1.0, layer("ingest.backfill_legs") + layer("ingest.rerun_legs"))
    def stage(n: String) = sp.filter(s => s.layer == "ingest" && s.name == n).map(_.durNs).sum / 1e9 / batchLegs
    val write = sp.filter(s => s.layer == "sinks").map(_.durNs).sum / 1e9
    val dbExec = CountingJdbc.dbExecNs.get / 1e9
    val batches = CountingJdbc.batches.get.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def share(leg: String) = ratio(layer(s"sinks.${leg}_db_exec_s"), layer(s"ingest.${leg}_s"))
    def rowsPerS(leg: String) = ratio(expected._1 * layer(s"ingest.${leg}_legs"), layer(s"ingest.${leg}_s"))
    Map(
      "ingest.manifest_s" -> stage("manifest"),
      "ingest.fetch_s" -> stage("fetch"),
      "ingest.fetch_attempts" -> layer("ingest.fetch_attempts") / batchLegs,
      "ingest.fetch_permanent_fail" -> layer("ingest.fetch_permanent_fail") / batchLegs,
      "ingest.fetch_bytes" -> layer("ingest.fetch_bytes") / batchLegs,
      "ingest.zipcsv_s" -> stage("zipcsv"),
      "ingest.zipcsv_rows" -> layer("ingest.zipcsv_rows") / batchLegs,
      "ingest.zipcsv_bytes" -> zipBytes / batchLegs,
      "ingest.read_amplification" ->
        ratio(layer("ingest.fetch_bytes") + zipBytes, layer("ingest.archive_bytes")),
      "ingest.parse_s" -> stage("parse"),
      "ingest.lww_s" -> stage("lww"),
      "ingest.lww_keep_ratio" -> ratio(layer("ingest.lww_rows"), layer("ingest.parse_rows")),
      "ingest.backfill_rows_per_s" -> rowsPerS("backfill"),
      "ingest.rerun_rows_per_s" -> rowsPerS("rerun"),
      "ingest.stream_rows_per_s" -> rowsPerS("stream"),
      "sinks.write_s" -> write / legs,
      "sinks.db_exec_s" -> dbExec / legs,
      "sinks.bind_s" -> (CountingJdbc.connNs.get / 1e9 - dbExec) / legs,
      "sinks.batches" -> batches / legs,
      "sinks.commits" -> CountingJdbc.commits.get / legs,
      "sinks.rollbacks" -> CountingJdbc.rollbacks.get / legs,
      "sinks.replayed_rows" -> CountingJdbc.replayedRows.get / legs,
      "sinks.rows_per_batch" -> (if (batches > 0) CountingJdbc.batchRows.get / batches else 0.0),
      "sinks.backfill_db_exec_share" -> share("backfill"),
      "sinks.rerun_db_exec_share" -> share("rerun"))
  }
}
