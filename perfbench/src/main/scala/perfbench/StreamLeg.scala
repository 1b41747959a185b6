package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.{Decisions, Upsert}
import graft.sinks.JdbcUpsertSink

/** The reference's production shape (Structured Streaming + JDBC
  * sink) as an open loop: one generator thread publishes one parquet
  * file of raw decision rows per day into a watched directory every
  * `intervalMs`, by atomic rename; a streaming query parses them
  * (`Decisions.parse`) and, per micro-batch, runs
  * `Upsert.lastWriteWins` and a guarded `JdbcUpsertSink.write` MERGE
  * into a fresh table. A file's lag runs from the time it was due to
  * the commit of the micro-batch that consumed it, so a stalled trigger
  * also delays the files behind it. Which batch consumed which file is
  * read, after the query stops, from the query's own checkpoint: the
  * offset log (batch -> source log offset) and the file source's log
  * (offset -> files). */
final class StreamLeg(intervalMs: Int) {
  private val rawSchema =
    StructType(Decisions.FieldNames.map(StructField(_, StringType, nullable = true)))
  private var staged: IndexedSeq[String] = _
  private var dir: String = _
  private var runs = 0
  /** Per-layer numbers of the traced legs. */
  val lags = ArrayBuffer[Double]()
  var backlogMax = 0.0
  var generatorLateMax = 0.0
  /** (query id, per-trigger numbers) of every trigger that processed rows. */
  val progress = ArrayBuffer[(java.util.UUID, Map[String, Double])]()
  /** Ids of the traced legs' queries; the listener is registered at the first. */
  private val tracedQueries = scala.collection.mutable.Set[java.util.UUID]()

  /** Stage each group of records as one parquet file under `d`. */
  def prepare(ctx: Ctx, d: String, groups: Seq[Seq[DecisionGen.Rec]]): Unit = {
    dir = d
    val rows = groups.zipWithIndex.flatMap { case (g, i) => g.map(r => Row.fromSeq(r.raw.toSeq :+ i)) }
    val out = s"$d/staged"
    ctx.spark.createDataFrame(rows.asJava, rawSchema.add("f", "int"))
      .repartition(col("f")).write.partitionBy("f").parquet(out)
    staged = groups.indices.map { i =>
      val s = Files.list(Paths.get(s"$out/f=$i"))
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get().toString finally s.close()
    }
  }

  /** One leg into `table` of `db`. Returns the leg's seconds, from the
    * first file's due time to the commit of the last batch, and every
    * file's lag. */
  def run(ctx: Ctx, db: String, table: String): (Double, Seq[Double]) = {
    runs += 1
    val watch = s"$dir/watch$runs"
    val pending = s"$dir/pending$runs"
    val ckpt = s"$dir/checkpoint$runs"
    Files.createDirectories(Paths.get(watch))
    Files.createDirectories(Paths.get(pending))
    val n = staged.size
    val names = (0 until n).map(k => f"day_$k%03d.parquet")
    (0 until n).foreach(k => Files.copy(Paths.get(staged(k)), Paths.get(s"$pending/${names(k)}")))
    val dueNs = new Array[Long](n)
    val publishNs = new Array[Long](n)
    val commitNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val entryNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val url = Derby.url(db)
    val connect = if (Trace.enabled) CountingJdbc.connect else null
    val legSpan = Trace.currentSpan
    val q = Decisions.parse(ctx.spark.readStream.schema(rawSchema).parquet(watch))
      .filter(col("uuid") =!= "")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        entryNs.put(id, System.nanoTime())
        Trace.under(legSpan)(Trace.span("streaming", "batch") {
          val won = Upsert.lastWriteWins(batch, Seq("uuid"), Decisions.lwwOrder)
            .select(Decisions.OutCols.map(col): _*)
          Trace.span("sinks", "write") {
            JdbcUpsertSink.write(won, url, table, "uuid", guard = "v.created_at > t.created_at",
              mergeTypes = DecisionGen.columnTypes, connect = connect)
          }
        })
        commitNs.put(id, System.nanoTime())
        ()
      }
      .start()
    if (Trace.enabled) {
      if (tracedQueries.isEmpty) ctx.spark.streams.addListener(Progress)
      tracedQueries += q.id
    }
    val t0 = System.nanoTime() + 100000000L
    val gen = new Thread(() => (0 until n).foreach { k =>
      dueNs(k) = t0 + k * intervalMs * 1000000L
      val wait = dueNs(k) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Files.move(Paths.get(s"$pending/${names(k)}"), Paths.get(s"$watch/${names(k)}"),
        StandardCopyOption.ATOMIC_MOVE)
      publishNs(k) = System.nanoTime()
    }, "perfbench-generator")
    try {
      gen.start()
      gen.join()
      q.processAllAvailable()
    } finally {
      gen.join()
      q.stop()
    }
    q.exception.foreach(e => throw e)
    val batchOf = consumedBy(ckpt)
    ctx.check("dsa_ingest.stream.every_file_committed",
      names.forall(f => batchOf.get(f).exists(b => commitNs.containsKey(b))),
      s"files without a committed batch: ${names.filterNot(batchOf.contains).mkString(", ")}")
    val fileCommit = names.map(f => commitNs.get(batchOf(f)))
    val fileLags = (0 until n).map(k => (fileCommit(k) - dueNs(k)) / 1e9)
    if (Trace.enabled) {
      lags ++= fileLags
      generatorLateMax = math.max(generatorLateMax, (0 until n).map(k => (publishNs(k) - dueNs(k)) / 1e9).max)
      entryNs.asScala.foreach { case (b, at) =>
        val waiting = (0 until n).count(k => publishNs(k) < at && batchOf(names(k)) > b)
        backlogMax = math.max(backlogMax, waiting.toDouble)
      }
    }
    ((fileCommit.max - dueNs(0)) / 1e9, fileLags)
  }

  /** file name -> id of the micro-batch that consumed it. */
  private def consumedBy(ckpt: String): Map[String, Long] = {
    def lines(p: java.nio.file.Path) = Files.readAllLines(p).asScala.toSeq
    def list(d: String) = {
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.toList finally s.close()
    }
    val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
    val offsetToBatch = list(s"$ckpt/offsets").filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap(p => LogOffset.findFirstMatchIn(lines(p).mkString("\n"))
        .map(m => m.group(1).toLong -> p.getFileName.toString.toLong)).toMap
    val Entry = "\"path\"\\s*:\\s*\"([^\"]+)\".*\"batchId\"\\s*:\\s*(\\d+)".r
    list(s"$ckpt/sources/0").filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(lines).flatMap(l => Entry.findFirstMatchIn(l))
      .flatMap { m =>
        val path = m.group(1)
        offsetToBatch.get(m.group(2).toLong).map(path.substring(path.lastIndexOf('/') + 1) -> _)
      }.toMap
  }

  /** Per-trigger breakdown from StreamingQueryProgress.durationMs, for
    * triggers that processed rows; events arrive asynchronously, so
    * they are kept with their query's id and sorted out at the end. */
  object Progress extends StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        def s(k: String) = if (d.containsKey(k)) d.get(k).doubleValue / 1000.0 else 0.0
        progress.synchronized {
          progress += (e.progress.id -> Map(
            "streaming.trigger_s" -> s("triggerExecution"),
            "streaming.latest_offset_s" -> s("latestOffset"),
            "streaming.get_batch_s" -> s("getBatch"),
            "streaming.query_planning_s" -> s("queryPlanning"),
            "streaming.add_batch_s" -> s("addBatch"),
            "streaming.wal_commit_s" -> s("walCommit"),
            "streaming.rows_per_batch" -> e.progress.numInputRows.toDouble))
        }
      }
  }

  /** The streaming.* numbers of the traced legs; call once, after the window. */
  def layerMetrics(ctx: Ctx, legs: Double): Map[String, Double] = {
    ctx.spark.streams.removeListener(Progress)
    val ps = progress.synchronized(progress.toList).collect { case (id, p) if tracedQueries(id) => p }
    val keys = Seq("streaming.trigger_s", "streaming.latest_offset_s", "streaming.get_batch_s",
      "streaming.query_planning_s", "streaming.add_batch_s", "streaming.wal_commit_s",
      "streaming.rows_per_batch")
    keys.map(k => k -> (if (ps.isEmpty) 0.0 else Main.median(ps.map(_(k))))).toMap ++ Map(
      "streaming.batches" -> ps.size / legs,
      "streaming.backlog_files_max" -> backlogMax,
      "streaming.generator_late_s" -> generatorLateMax,
      "streaming.lag_p50_s" -> (if (lags.isEmpty) 0.0 else Main.quantile(lags.toSeq, 0.5)),
      "streaming.lag_p90_s" -> (if (lags.isEmpty) 0.0 else Main.quantile(lags.toSeq, 0.9)))
  }
}
