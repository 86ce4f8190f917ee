package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes its metrics as JSON.
  *
  * Set-up is the session build plus the first operation, both in the
  * fresh JVM, as a command-line user pays it. After an untimed warm-up,
  * operations run back to back, one closed-loop client, until
  * `--seconds` have passed. With `--trace 1` each untraced operation is
  * followed by a traced one and a call-by-call replay of its steps, and
  * the output holds the per-layer metrics instead of the end-to-end ones.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <checkout> --bench <benchmark dir> --work <scratch dir> --out <result.json>
  */
object Main {
  /** JIT compilation keeps speeding operations up for tens of seconds
    * after set-up; operations in this window are checked but not timed.
    * It lasts `WarmupS` and at least `WarmupOps` operations, so a slow
    * operation such as a query pass is also run warm a few times. On
    * 4 cores, operation times fall by a third over the first 20-30 s;
    * timing from 4 s on made the run's median depend mostly on how far
    * the JIT had got.
    */
  private val WarmupS = 18.0
  private val WarmupOps = 3
  /** Fewest traced operations a traced run makes, however short `--seconds` is. */
  private val MinTraced = 2

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = Paths.get(opt("root"))
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work.resolve("tmp"))
    val wl: Workload = opt("workload") match {
      case "ingest" => new Ingest(Seq(new CsvBulk(seed, root, work), new ApiSmall(seed, root, work)))
      case "query_mix" => new QueryMix(Paths.get(opt("bench")), work, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val out = run(wl, seconds, trace, cores, work)
      Files.write(Paths.get(opt("out")), out.getBytes("UTF-8"))
    } finally wl.close()
  }

  private def session(wl: Workload, cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    wl.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def run(wl: Workload, seconds: Double, trace: Boolean, cores: Int, work: Path): String = {
    var attempted = 0
    var failedOps = 0
    val problems = ArrayBuffer.empty[String]
    /** One operation and its checks: its seconds if every check passed. */
    def attempt(spark: SparkSession, tr: Tracer): Option[Double] = {
      attempted += 1
      val found = ArrayBuffer.empty[String]
      val s =
        try {
          val s = wl.op(spark, tr)
          found ++= wl.check()
          s
        } catch { case e: Exception => found += e.toString; 0.0 }
      if (found.isEmpty) Some(s)
      else {
        failedOps += 1
        problems ++= found
        System.err.println(s"[perfbench] operation failed: ${found.mkString("; ")}")
        None
      }
    }

    val untraced = new Tracer
    val s0 = System.nanoTime()
    val spark = session(wl, cores, work)
    val build = (System.nanoTime() - s0) / 1e9
    val setupS = attempt(spark, untraced).map { s =>
      System.err.println(f"[perfbench] set-up: session $build%.2f s, first operation $s%.2f s")
      build + s
    }

    val w0 = System.nanoTime()
    var warm = 0
    while ((System.nanoTime() - w0) / 1e9 < WarmupS || warm < WarmupOps) {
      attempt(spark, untraced)
      warm += 1
    }

    val tr = new Tracer
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val deltas = ArrayBuffer.empty[Map[String, Double]]
    val host0 = Stats.hostCpu()
    val cpu0 = Stats.processCpuS()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < seconds || (trace && traced.size < MinTraced && elapsed < 6 * seconds)) {
      attempt(spark, untraced).foreach(plain += _)
      if (trace) {
        tr.attach(spark.sparkContext, i)
        try {
          val c0 = wl.counters()
          attempt(spark, tr).foreach(traced += _)
          deltas += wl.counters().map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
          wl.replay(spark, tr)
        } finally tr.detach(spark.sparkContext)
      }
      i += 1
    }
    val hostDelta = Stats.hostCpu().zip(host0).map { case (a, b) => a - b }
    val cpuS = Stats.processCpuS() - cpu0
    val rssMb = Stats.peakRssMb()
    stop(spark)
    if (trace) Files.write(work.resolveSibling(work.getFileName.toString + ".trace.jsonl"), tr.dump().getBytes("UTF-8"))

    val metrics =
      if (trace) Layers.metrics(tr.usage(), tr.counts(), deltas.toSeq, wl.inputBytes, cores, plain.toSeq, traced.toSeq)
      else {
        val p50 = Stats.median(plain.toSeq)
        Seq(
          ("setup_s", "s", setupS.getOrElse(Double.NaN)),
          ("op_s_p50", "s", p50),
          ("input_mb_per_s", "MB/s", wl.inputBytes / 1e6 / p50),
          ("rows_per_s", "1/s", wl.rowsPerOp / p50),
          ("output_bytes_per_input_byte", "ratio", wl.outputBytes.toDouble / wl.inputBytes),
          ("ok_ratio", "ratio", (attempted - failedOps).toDouble / attempted),
          ("peak_rss_mb", "MB", rssMb))
      }
    val samples = if (trace) traced else plain
    Json.obj(Seq(
      "correct" -> (failedOps == 0 && samples.nonEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "detail" -> Json.obj(Seq(
        "cores" -> cores.toString,
        "input_bytes" -> wl.inputBytes.toString,
        "rows_per_op" -> wl.rowsPerOp.toString,
        "setup_s" -> Json.num(setupS.getOrElse(Double.NaN)),
        "op_s" -> samples.map(Json.num).mkString("[", ",", "]"),
        // a run holds too few operations for a tail percentile above the
        // median, so the tail stays out of the metrics
        "op_s_tail" -> Json.num(Stats.tail(samples.toSeq)._1),
        "op_s_tail_percentile" -> Json.num(Stats.tail(samples.toSeq)._2),
        // what else ran on this host while operations were timed
        "process_cpu_s" -> Json.num(cpuS),
        "host_steal_share" -> Json.num(hostDelta(7) / hostDelta.sum),
        "host_busy_share" -> Json.num(1 - (hostDelta(3) + hostDelta(4)) / hostDelta.sum),
        "problems" -> problems.take(5).map(Json.str).mkString("[", ",", "]"))),
    ))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest nearest-rank percentile with at least ten samples above
    * it, and that percentile. Below twenty samples that percentile would
    * not reach the median, so the maximum stands in for it.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 20) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Host-wide CPU jiffies by state, as /proc/stat lists them (user, nice, system, idle, iowait, irq, softirq, steal). */
  def hostCpu(): Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").slice(1, 9).map(_.toDouble).toSeq
    finally src.close()
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status")
    try line.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally line.close()
  }
}
