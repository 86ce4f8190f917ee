package perfbench

/** Per-layer metrics of a traced run: each is the median, over traced
  * operations, of what that layer did in one operation. Every workload
  * reports every metric; a layer a workload never calls reads 0.
  */
object Layers {
  private def isRoot(name: String) = name == "op" || name.startsWith("queries.")

  def metrics(
      usage: Seq[Usage],
      counts: Seq[Map[String, Double]],
      deltas: Seq[Map[String, Double]],
      inputBytes: Long,
      cores: Int,
      plain: Seq[Double],
      traced: Seq[Double]): Seq[(String, String, Double)] = {
    val byOp = usage.groupBy(_.span.op).values.toSeq
    def perOp(f: Seq[Usage] => Double): Double = if (byOp.isEmpty) 0.0 else Stats.median(byOp.map(f))
    def spans(p: String => Boolean)(us: Seq[Usage]) = us.filter(u => p(u.span.name))
    def sum(p: String => Boolean)(f: Usage => Double): Double = perOp(us => spans(p)(us).map(f).sum)
    def util(us: Seq[Usage]): Double = {
      val wall = us.map(_.span.durS).sum
      if (wall > 0) us.map(_.runS).sum / (wall * cores) else 0.0
    }
    def delta(k: String) = if (deltas.isEmpty) 0.0 else Stats.median(deltas.map(_.getOrElse(k, 0.0)))
    def counted(k: String) = if (counts.isEmpty) 0.0 else Stats.median(counts.map(_.getOrElse(k, 0.0)))
    val input = inputBytes.toDouble
    val root = isRoot _
    val queries = (n: String) => n.startsWith("queries.")
    def is(n: String) = (m: String) => m == n
    val wall = (u: Usage) => u.span.durS
    val jobs = (u: Usage) => u.jobs.size.toDouble

    Seq(
      ("op.jobs", "count", sum(root)(jobs)),
      ("op.tasks", "count", sum(root)(_.tasks.toDouble)),
      ("op.driver_s", "s", sum(root)(_.driverS)),
      ("op.input_bytes_ratio", "ratio", sum(root)(_.inputBytes / input)),
      ("op.core_util", "ratio", perOp(us => util(spans(root)(us)))),
      ("op.executor_cpu_s", "s", sum(root)(_.cpuS)),
      ("op.gc_s", "s", sum(root)(_.gcS)),
      ("op.shuffle_bytes", "B", sum(root)(_.shuffleBytes.toDouble)),
      ("op.spill_bytes", "B", sum(root)(_.spillBytes.toDouble)),
      // the undivided run against its steps replayed one call at a time
      ("op.run_minus_steps_s", "s", perOp { us =>
        val steps = us.filter(u => u.span.parent < 0 && !isRoot(u.span.name))
        if (steps.isEmpty) 0.0 else spans(is("op"))(us).map(wall).sum - steps.map(wall).sum
      }),
      ("trace.op_s_p50", "s", Stats.median(traced)),
      ("trace.overhead_s", "s", Stats.median(traced) - Stats.median(plain)),
      ("pipeline.lookup_s", "s", sum(is("pipeline.ApiIngestion.resolveTargetUserId"))(wall)),
      ("sources.csv_read_jobs", "count", sum(is("sources.CsvSource.read"))(jobs)),
      ("sources.api_fetch_s", "s", delta("http.get_s")),
      ("sources.api_fetch_bytes", "B", delta("http.bytes")),
      ("sources.api_success_ratio", "ratio",
        if (delta("http.attempts") > 0) delta("http.successes") / delta("http.attempts") else 0.0),
      ("sources.api_fetch_df_s", "s", sum(is("sources.ApiSource.fetchDf"))(wall)),
      ("cast.apply_s", "s", sum(_.startsWith("cast."))(wall)),
      ("validate.check_s", "s", sum(_.startsWith("validate."))(wall)),
      ("sink.bronze_write_s", "s", sum(is("sink.BronzeWriter.write"))(wall)),
      ("sink.bronze_write_core_util", "ratio", perOp(us => util(spans(is("sink.BronzeWriter.write"))(us)))),
      ("sink.bronze_bytes", "B", delta("bronze.bytes")),
      ("meta.table_stats_s", "s", sum(is("meta.Manifest.tableStats"))(wall)),
      ("meta.table_stats_input_bytes_ratio", "ratio", sum(is("meta.Manifest.tableStats"))(_.inputBytes / input)),
      ("meta.preview_s", "s", sum(is("meta.Manifest.preview"))(wall)),
      ("meta.preview_jobs", "count", sum(is("meta.Manifest.preview"))(jobs)),
      ("meta.md5_s", "s", sum(is("meta.Manifest.md5OfFile"))(wall)),
      ("meta.md5_bytes", "B", counted("meta.md5_bytes")),
      ("meta.write_s", "s", sum(is("meta.Manifest.write"))(wall)),
    ) ++ QueryMix.Names.map(n => (s"queries.${n}_s", "s", sum(is(s"queries.$n"))(wall))) ++ Seq(
      ("queries.jobs", "count", sum(queries)(jobs)),
      ("queries.tasks", "count", sum(queries)(_.tasks.toDouble)),
      ("queries.shuffle_bytes", "B", sum(queries)(_.shuffleBytes.toDouble)),
      ("queries.spill_bytes", "B", sum(queries)(_.spillBytes.toDouble)),
      ("queries.executor_cpu_s", "s", sum(queries)(_.cpuS)),
      ("queries.core_util", "ratio", perOp(us => util(spans(queries)(us)))),
      ("queries.gc_s", "s", sum(queries)(_.gcS)),
    )
  }
}
