package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload hands back: its timed operations and checks. */
final class Run {
  /** Set-up repetitions (seconds each); the median is reported. */
  val setups = mutable.ArrayBuffer.empty[Double]
  /** One-off warm-up before the timed ops (JIT, codegen), in seconds. */
  var warmup = 0.0
  val writes = mutable.ArrayBuffer.empty[Double]
  val serves = mutable.ArrayBuffer.empty[Double]
  /** Input records committed by the timed write-class ops. */
  var records = 0L
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var opFailed = false

  /** Count one operation; a thrown exception or a failed check fails it. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          failures += s"$what: $e"
          opFailed = true
          None
      }
    if (opFailed) failed += 1
    out
  }

  /** A failed check fails the enclosing op; later checks still run. */
  def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += s"check failed: $what"; opFailed = true }

  /** A correctness check run outside timing, counted as one operation. */
  def verify(what: String)(ok: => Boolean): Unit =
    op(what)(check(what, ok))

  def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    into += (System.nanoTime() - t0) / 1e9
    out
  }
}

/** `python3 perfbench/run.py` starts this main. See perfbench/README.md. */
object Main {

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val cpus = opt("--cpus").toInt
    val work = opt("--work")
    val spansOut = opts.get("--spans")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    // JVM start + session start, paid once per run (not repeated)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (trace) Trace.start(spark.sparkContext)
    val run = new Run
    try workload match {
      case "ingest"    => IngestWorkload.run(spark, seed, seconds, work, run)
      case "retrieval" => RetrievalWorkload.run(spark, seed, seconds, work, run)
      case "graph"     => GraphWorkload.run(spark, seed, seconds, work, run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (trace) Thread.sleep(1500) // let the listener bus drain
      spark.stop()
    }
    System.err.println(f"perfbench: total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    run.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", sessionS + run.warmup + percentile(run.setups.toSeq, 0.5), "s"),
      ("records_per_s", run.records / run.writes.sum, "1/s"),
      ("write_p50_s", percentile(run.writes.toSeq, 0.5), "s"),
      ("serve_p50_s", percentile(run.serves.toSeq, 0.5), "s"))
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    // sample counts behind each median, the parts of set-up, and the p90s
    // (informational: a run holds too few samples to gate on a p90)
    println(s"# samples: setups=${run.setups.length} writes=${run.writes.length} " +
      s"serves=${run.serves.length} session_s=${fmt(sessionS)} " +
      s"warmup_s=${fmt(run.warmup)} " +
      s"setup_reps_s=${run.setups.map(fmt).mkString(",")} " +
      s"writes_s=${run.writes.map(fmt).mkString(",")} " +
      s"serves_s=${run.serves.map(fmt).mkString(",")} " +
      s"write_p90_s=${fmt(percentile(run.writes.toSeq, 0.9))} " +
      s"serve_p90_s=${fmt(percentile(run.serves.toSeq, 0.9))}")
    val metrics =
      if (!trace) e2e
      else {
        spansOut.foreach(p => Trace.dump(java.nio.file.Paths.get(p)))
        // the traced run's own end-to-end figures, for the overhead diff
        println(s"# traced_e2e: ${obj(e2e)}")
        Layers.metrics(Trace.all)
      }
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":${obj(metrics)}}""")
  }
}
