package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A failed output check: counted as a failed operation. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one measured window produced: latency samples by operation
  * kind, the units of work completed, the seconds the operations took
  * (the throughput's base) and the number of operations (the per-layer
  * numbers' base). */
final case class Window(samples: Seq[(String, Double)], work: Double, wallS: Double, ops: Int) {
  private def byKind = samples.groupBy(_._1).values.map(_.map(_._2))
  private def geomean(xs: Iterable[Double]) = math.exp(xs.map(math.log).sum / xs.size)
  /** Geometric mean over operation kinds of each kind's median: one
    * typical latency for a mix whose kinds differ in cost, which a
    * pooled median is not (it lands between kinds). */
  def typical: Double = geomean(byKind.map(Main.median))
  /** The same over each kind's slowest occurrence in the window. */
  def worst: Double = geomean(byKind.map(_.max))
}

object Window {
  /** One window made of several (the traced run's alternating rounds). */
  def merge(ws: Seq[Window]): Window =
    Window(ws.flatMap(_.samples), ws.map(_.work).sum, ws.map(_.wallS).sum, ws.map(_.ops).sum)
}

trait Workload {
  /** Generate the seeded inputs under `dir` and create the sink. Runs
    * once per set-up, each in a fresh session. */
  def prepare(ctx: Ctx, dir: String): Unit
  /** One unmeasured iteration after the last set-up; it also writes
    * the outputs the first output check reads. */
  def warmup(ctx: Ctx): Unit
  /** Run whole rounds of operations until `deadlineNs` (System.nanoTime), see [[Rounds]]. */
  def measure(ctx: Ctx, deadlineNs: Long): Window
  /** Untimed checks after measuring. */
  def finish(ctx: Ctx): Unit = ()
  /** Extra per-layer numbers for the traced run (called after the
    * window, with tracing off). */
  def traceExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Run state shared by the harness and the workloads. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
                val work: String, val cores: Int) {
  var spark: SparkSession = _
  var probe: EngineProbe = _
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[Map[String, Any]]()
  val checks = LinkedHashMap[String, Boolean]()
  /** Result directories the oracle step compares: name -> dirs. */
  val outputs = LinkedHashMap[String, Seq[String]]()

  def restartSession(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = graft.GraftSession.configured(SparkSession.builder()
      .master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local"), cores.toString)
  }

  /** Run one counted operation; a throw (including a failed output
    * check) counts it as failed, with its root cause. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val logAt = Derby.logSize(work)
    CountingJdbc.firstDbError = null
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(20).toSeq
        val root = chain.last
        failures += Map(
          "op" -> name,
          "root_class" -> root.getClass.getName,
          "root_message" -> String.valueOf(root.getMessage).take(500),
          "top_class" -> e.getClass.getName,
          "first_db_error" -> CountingJdbc.firstDbError,
          "derby_log" -> Derby.errorLines(work, logAt))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) throw new CheckFailed(s"$name: $detail")
  }
}

/** The measured window: whole rounds, at least `min`, and another only
  * while the last round's duration says it ends before the deadline.
  * The count of rounds then stays the same from run to run, which
  * matters because rounds still speed up as the JIT warms. The traced
  * run sets `min` to 1 and measures one round per window. */
object Rounds {
  var min = 2

  def run(deadlineNs: Long)(round: => Unit): Int = {
    var rounds = 0
    var last = 0L
    while (rounds < min || System.nanoTime() + last <= deadlineNs) {
      val t0 = System.nanoTime()
      Trace.iteration += 1
      round
      last = System.nanoTime() - t0
      rounds += 1
    }
    rounds
  }
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Writes `DIR/result.json`; run.py turns it into the benchmark line. */
object Main {
  val Setups = 3
  /** Traced runs measure at least this many untraced/traced round pairs. */
  val TracedPairs = 2

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** CPU time the hypervisor gave to others (the `steal` column of
    * /proc/stat, in clock ticks of 1/100 s, summed over CPUs); 0 where
    * the file does not exist. */
  def stealTicks(): Long = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L) finally src.close()
    }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  val workloads: Map[String, () => Workload] = Map(
    "dsa_ingest" -> (() => new DsaIngest),
    "warehouse_queries" -> (() => QueryWorkload.warehouse),
    "corpus_curation" -> (() => QueryWorkload.curation))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val ctx = new Ctx(name, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
      work, cores)
    Derby.configure(work)
    val w = workloads(name)()

    // set-up: session start + seeded inputs + sink, three times (the
    // median is reported), then one warm-up iteration
    val prepareS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      ctx.restartSession()
      w.prepare(ctx, s"$work/setup$i")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val metrics = LinkedHashMap[String, Double]()
    var spans: Seq[Map[String, Any]] = Nil
    val cpus = Runtime.getRuntime.availableProcessors()
    def stealShare(ticks0: Long, t0: Long): Double =
      (stealTicks() - ticks0) / ((System.nanoTime() - t0) / 1e9 * 100.0 * cpus)
    if (!ctx.trace) {
      val (steal0, t0) = (stealTicks(), System.nanoTime())
      val win = w.measure(ctx, System.nanoTime() + ctx.seconds * 1000000000L)
      metrics("host.steal_share") = stealShare(steal0, t0)
      metrics ++= Seq(
        "setup_s" -> (median(prepareS) + warmupS),
        "latency_s" -> win.typical,
        "latency_worst_s" -> win.worst,
        "throughput_per_s" -> win.work / win.wallS,
        "peak_rss_mb" -> peakRssMb())
      metrics("samples") = win.samples.size.toDouble
    } else {
      // untraced and traced rounds alternate in ABBA order over the
      // window, each after the same pause, so a drift (the JIT still
      // warming, the host's load) weighs on both kinds alike; the
      // difference of their typical latencies is the tracing overhead.
      // One unmeasured round first takes the steepest part of the
      // warm-up out of the comparison. The engine numbers are the sum
      // of the traced rounds' deltas, each taken after the listener bus
      // has delivered its events.
      Rounds.min = 1
      w.measure(ctx, System.nanoTime())
      ctx.probe = new EngineProbe
      ctx.probe.attach(ctx.spark)
      CountingJdbc.reset()
      val origin = System.nanoTime()
      val steal0 = stealTicks()
      val deadline = origin + ctx.seconds * 1000000000L
      val plainW, tracedW = ArrayBuffer[Window]()
      var engine = EngineProbe.Snap.Zero
      var busyS = 0.0
      def plainRound(): Unit = {
        ctx.probe.drain()
        plainW += w.measure(ctx, System.nanoTime())
      }
      def tracedRound(): Unit = {
        ctx.probe.drain()
        val a = ctx.probe.snap()
        val fromMs = System.currentTimeMillis()
        Trace.enabled = true
        tracedW += w.measure(ctx, System.nanoTime())
        Trace.enabled = false
        val toMs = System.currentTimeMillis()
        ctx.probe.drain()
        engine = engine + (ctx.probe.snap() - a)
        busyS += ctx.probe.jobBusySeconds(fromMs, toMs)
      }
      var pairNs = 0L
      while (tracedW.size < TracedPairs || System.nanoTime() + pairNs <= deadline) {
        val p0 = System.nanoTime()
        if (tracedW.size % 2 == 0) { plainRound(); tracedRound() }
        else { tracedRound(); plainRound() }
        pairNs = System.nanoTime() - p0
      }
      metrics("host.steal_share") = stealShare(steal0, origin)
      val plain = Window.merge(plainW.toSeq)
      val traced = Window.merge(tracedW.toSeq)
      val ss = Trace.all
      val ops = math.max(1, traced.ops).toDouble
      metrics ++= ctx.probe.metrics(engine, busyS, traced.wallS, cores)
        .map { case (k, v) => k -> (if (PerOp(k)) v / ops else v) }
      val self = Trace.layerSelfSeconds(ss)
      Layers.foreach(l => metrics(s"self.${l}_s") = self.getOrElse(l, 0.0) / ops)
      val p0 = plain.typical
      val p1 = traced.typical
      metrics ++= Seq(
        "trace.ops" -> ops,
        "trace.pairs" -> tracedW.size.toDouble,
        "trace.untraced_latency_s" -> p0,
        "trace.traced_latency_s" -> p1,
        "trace.overhead_s" -> (p1 - p0),
        "trace.overhead_share" -> (p1 - p0) / p0)
      metrics ++= w.traceExtras(ctx)
      spans = Trace.toJson(ss, origin)
    }
    w.finish(ctx)
    metrics("failed_share") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val result = Map(
      "workload" -> name, "seed" -> ctx.seed, "trace" -> ctx.trace, "cores" -> cores,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq, "checks" -> ctx.checks,
      "prepare_runs_s" -> prepareS, "warmup_s" -> warmupS, "outputs" -> ctx.outputs, "metrics" -> metrics)
    Files.write(Paths.get(s"$work/result.json"), Json.write(result).getBytes(StandardCharsets.UTF_8))
    if (spans.nonEmpty)
      Files.write(Paths.get(s"$work/spans.json"), Json.write(spans).getBytes(StandardCharsets.UTF_8))
    ctx.spark.stop()
    // engine and Derby threads would otherwise hold the JVM open
    sys.exit(0)
  }

  /** Layers whose spans the harness records. */
  val Layers = Seq("ingest", "sinks", "queries", "operators", "streaming")

  /** engine.* metrics reported per operation rather than per window. */
  private val PerOp = Set("engine.plan_s", "engine.codegen_compile_s", "engine.driver_s",
    "engine.task_run_s", "engine.task_cpu_s", "engine.gc_s", "engine.stages", "engine.tasks",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes")
}
