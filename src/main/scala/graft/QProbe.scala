package graft
import org.apache.spark.sql.SparkSession

/** Single-query timer: runs each named SparkEntry query `rounds`
  * times on an otherwise idle session, PASS-MAJOR (A B A B …) over
  * the comma list, so `QProbe a,b` is an A/B of two named entries in
  * which box drift during the session biases neither side. Each pass
  * is the bench convention: noop write, cache clear; pass 1 carries
  * Janino/JIT compile, so read the warm min/med. Also the
  * adjudication step for `warm_regressed` flags the bench's own
  * end-of-run re-measure could not settle (r13: 28 flags on
  * untouched queries while every calib fingerprint read the box 2×
  * FASTER than the prior stamp — an idle targeted re-run is the only
  * way to tell a phantom band from a real regression without paying
  * a full 25-minute sweep).
  *
  * Usage: runMain graft.QProbe <name[,name...]> [sfDir] [rounds]
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q1_agg").split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configured(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-qprobe"), cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    for (_ <- 1 to rounds; (name, fn) <- fns) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sharedState.cacheManager.clearCache()
      times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
    }
    for (name <- names) {
      val ts = times(name)
      // with rounds=1 there is no warm pass: fall back to the full list
      val warm = if (ts.size >= 2) ts.drop(1) else ts
      // median convention: upper-middle element for even sizes (a
      // real observed time, never an interpolated value)
      println(f"QPROBE $name all=${ts.map(t => f"$t%.3f").mkString(" ")} " +
        f"warmMin=${warm.min}%.3f warmMed=${warm.sorted.apply(warm.size / 2)}%.3f")
    }
    spark.stop()
  }
}
