package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.ColumnShim

import graft.ops.Pinned

/** Development CLI over the registered queries; its output formats
  * are not stable. Run it with no arguments for the commands.
  */
object Dev {

  private val Usage =
    """usage: graft.Dev <command> ...
      |  show  <sfDir> <name>                        first 20 rows of one query
      |  plan  <sfDir> <name,...> <outDir> <suffix>  explain(formatted) per query, pinned
      |                                              sub-plans included, to <outDir>/<name>_<suffix>.txt
      |  audit <sfDir> <out.md>                      plan-shape table of every query
      |  time  <sfDir> <split> [prefix,...]          cold and warm run time per query
      |  jobs  <sfDir> <split> [prefix,...]          warm-run job census with each job's call site
      |  ingest <out.json> [rows,...]                CsvIngestion.run on generated CSVs of each size
      |                                              (default 20000,200000,2000000): MB/s, jobs,
      |                                              tasks, ranges and core use per size, as JSON
      |plan and audit inspect static plans (AQE off). time and jobs run each
      |query into the noop sink with <split> as the scan split size, over the
      |queries whose names start with a prefix (all queries without one).""".stripMargin

  def main(args: Array[String]): Unit = {
    def session(confs: Map[String, String])(body: SparkSession => Unit): Unit = {
      val spark = Sessions.create(confs)
      try body(spark) finally spark.stop()
    }
    def profile(split: String) = Sessions.harness - Sessions.OpenCost + (Sessions.SplitBytes -> split)
    args.toList match {
      case List("show", sf, name) =>
        session(Sessions.harness)(spark => SparkEntry.queries(name)(spark, sf).show(20, truncate = false))
      case List("plan", sf, names, outDir, suffix) =>
        session(Sessions.harness + Sessions.AqeOff)(plan(_, sf, names.split(',').toSeq, outDir, suffix))
      case List("audit", sf, out) =>
        session(Sessions.harness - Sessions.OpenCost + Sessions.AqeOff)(audit(_, sf, out))
      case "time" :: sf :: split :: prefixes if prefixes.size <= 1 =>
        session(profile(split))(time(_, sf, matching(prefixes)))
      case "jobs" :: sf :: split :: prefixes if prefixes.size <= 1 =>
        session(profile(split))(jobs(_, sf, matching(prefixes)))
      case "ingest" :: out :: sizes if sizes.size <= 1 =>
        val rows = sizes.flatMap(_.split(',')).map(_.toInt)
        session(Map.empty)(ingest(_, out, if (rows.isEmpty) Seq(20000, 200000, 2000000) else rows))
      case _ => System.err.println(Usage); sys.exit(2)
    }
  }

  private type Query = (String, (SparkSession, String) => DataFrame)

  /** Queries whose name starts with one of the comma-separated
    * prefixes (every query when there are none), by name. */
  private def matching(prefixes: List[String]): Seq[Query] = {
    val ps = prefixes.flatMap(_.split(',')).filter(_.nonEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => ps.isEmpty || ps.exists(n.startsWith) }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `body`'s result and the pre-checkpoint plan of every pin it ran:
    * a pin truncates lineage, so the final frame alone cannot show them. */
  private def withPins[A](body: => A): (A, Seq[String]) = {
    val pinned = ArrayBuffer.empty[String]
    val a = Pinned.withAuditTap(pinned += _)(body)
    (a, pinned.toSeq)
  }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String], outDir: String,
      suffix: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val (formatted, pinned) = withPins(
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
      val sb = new StringBuilder
      sb ++= s"== $name — final frame, explain(formatted), sf=$sfDir ==\n\n"
      sb ++= formatted
      pinned.zipWithIndex.foreach { case (p, i) =>
        sb ++= s"\n== pinned sub-plan ${i + 1} (pre-checkpoint executedPlan) ==\n\n"
        sb ++= p
        sb ++= "\n"
      }
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, sb.toString.getBytes("UTF-8"))
      println(s"[dev] wrote $out")
    }
  }

  /** Shuffles, join strategies, codegen spans and scan filter pushdown
    * of every query, as a markdown table. */
  private def audit(spark: SparkSession, sfDir: String, outPath: String): Unit = {
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)

    val out = new StringBuilder
    out ++= "# PLANS - physical-plan audit of every query\n\n"
    out ++= s"Generated by `graft.Dev audit` on `$sfDir`. Columns: shuffle\n"
    out ++= "exchanges / broadcast exchanges, join operators by strategy,\n"
    out ++= "WholeStageCodegen spans, and whether any parquet scan carries\n"
    out ++= "pushed filters. Static (non-AQE) plan shapes; the harness\n"
    out ++= "sessions run with AQE on, which may merge or re-plan exchanges\n"
    out ++= "at runtime. Queries that pin intermediate frames\n"
    out ++= "(localCheckpoint via `Pinned.pin`) are audited THROUGH the\n"
    out ++= "pins: every pinned sub-plan's pre-checkpoint physical plan is\n"
    out ++= "captured and counted alongside the final frame's, so an\n"
    out ++= "iterative query (pagerank, LPA) reports the SUM of its\n"
    out ++= "per-round shapes — `pins` is how many sub-plans that was\n"
    out ++= "(round 12's audit recorded 0 shuffles for the graph queries\n"
    out ++= "because it saw only the post-checkpoint stub).\n\n"
    out ++= "| query | shuffles | bcast | BHJ | SMJ | SHJ | codegen | pushed filters | pins |\n"
    out ++= "|---|---|---|---|---|---|---|---|---|\n"
    matching(Nil).foreach { case (name, fn) =>
      try {
        val (mainPlan, pinned) = withPins(fn(spark, sfDir).queryExecution.executedPlan.toString)
        val plans = pinned :+ mainPlan
        val plan = plans.mkString("\n")
        val row = Seq(
          count(plan, "Exchange hashpartitioning") + count(plan, "Exchange rangepartitioning"),
          count(plan, "BroadcastExchange"),
          count(plan, "BroadcastHashJoin") + count(plan, "BroadcastNestedLoopJoin"),
          count(plan, "SortMergeJoin"),
          count(plan, "ShuffledHashJoin"),
          // codegen spans print as "*(N)" operator prefixes; span ids
          // restart per query execution, so count distinct WITHIN each
          // sub-plan and sum across them
          plans.map(p => """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet.size).sum,
          if (plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")) "yes" else "-",
          pinned.size)
        out ++= s"| $name | ${row.mkString(" | ")} |\n"
      } catch {
        case e: Throwable => out ++= s"| $name | ERROR ${e.getClass.getSimpleName} |\n"
      }
    }
    Files.write(Paths.get(outPath), out.toString.getBytes("UTF-8"))
    println(s"[dev] wrote $outPath")
  }

  /** Cold then warm run of each query. A large cold/warm gap on a
    * re-run is host noise, not plan cost. */
  private def time(spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit =
    qs.foreach { case (name, fn) =>
      for (run <- Seq("cold", "warm"))
        println(f"[time] $name $run: ${seconds(noop(fn(spark, sfDir)))}%.2f s")
    }

  /** Spark jobs (with stages and tasks) of each query's warm run, then
    * each job's call site. Sequential eager actions (pins, counts,
    * convergence checks) are invisible in a plan dump, but each one is
    * a scheduler barrier: a query's stall sensitivity under host noise
    * scales with its job count, not its task count. */
  private def jobs(spark: SparkSession, sfDir: String, qs: Seq[Query]): Unit = {
    final case class Job(stages: Int, tasks: Int, line: String)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tasks = j.stageInfos.map(_.numTasks).sum
        val sites = j.stageInfos.map(_.name).distinct.mkString(" | ")
        seen.add(Job(j.stageInfos.size, tasks,
          f"    job ${j.jobId}%3d stages=${j.stageInfos.size} tasks=$tasks%5d  $sites"))
      }
    })
    qs.foreach { case (name, fn) =>
      noop(fn(spark, sfDir)) // warm-up / JIT
      // listener delivery is async: drain before the reset, so no
      // warm-up event lands in the count, and again before reading
      ColumnShim.drainListenerBus(spark)
      seen.clear()
      val sec = seconds(noop(fn(spark, sfDir)))
      ColumnShim.drainListenerBus(spark)
      val js = seen.asScala.toSeq
      println(f"[jobs] $name: jobs=${js.size}%3d stages=${js.map(_.stages).sum}%4d " +
        f"tasks=${js.map(_.tasks).sum}%6d warm=$sec%.2f s")
      js.foreach(j => println(j.line))
    }
  }

  /** Land a seeded CSV of each size (`MakeCsv`, the ingest bench's
    * shape) with `CsvIngestion.run` under the config of
    * `configs/indicadores_municipios.json`: for 10 s (at least once)
    * to warm up, then three timed runs. Writes, per size, the median
    * run's input MB/s and its jobs, tasks and core use (executor run
    * time over wall time times cores), the wall time its jobs ran (the
    * rest is the driver's own work), and the byte ranges `CsvSource`
    * cut the file into. */
  private def ingest(spark: SparkSession, out: String, sizes: Seq[Int]): Unit = {
    val work = Files.createTempDirectory("graft-ingest-ladder")
    val cores = spark.sparkContext.defaultParallelism
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val jobMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); jobMs.addAndGet(-j.time) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobMs.addAndGet(j.time)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => runMs.addAndGet(m.executorRunTime))
      }
    })
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val report = json.createObjectNode()
    report.put("command", s"graft.Dev ingest $out ${sizes.mkString(",")}")
    report.put("cores", cores)
    report.put("runs", 3)
    val rows = report.putArray("sizes")
    sizes.foreach { n =>
      val input = work.resolve(s"in-$n.csv")
      MakeCsv.generate(n, n, input)
      val base = graft.config.PipelineConfig.fromJsonFile("configs/indicadores_municipios.json")
      val cfg = base.copy(csv = base.csv.map(_.copy(path = input.toString)),
        sink = base.sink.copy(baseDir = work.resolve("bronze").toString))
      final case class Run(seconds: Double, jobs: Int, tasks: Int, coreUtil: Double, jobSeconds: Double)
      def land(): Run = {
        ColumnShim.drainListenerBus(spark)
        jobs.set(0); tasks.set(0); runMs.set(0); jobMs.set(0)
        val s = seconds(graft.pipeline.CsvIngestion.run(spark, cfg))
        ColumnShim.drainListenerBus(spark)
        Run(s, jobs.get, tasks.get, runMs.get / 1e3 / (s * cores), jobMs.get / 1e3)
      }
      val warm = System.nanoTime() + 10000000000L
      land()
      while (System.nanoTime() < warm) land()
      val median = Seq.fill(3)(land()).sortBy(_.seconds).apply(1)
      val bytes = Files.size(input)
      val row = rows.addObject()
      row.put("rows", n)
      row.put("input_bytes", bytes)
      row.put("ranges", graft.sources.CsvSource.read(spark, cfg.csv.get).rdd.getNumPartitions)
      row.put("seconds_p50", median.seconds)
      row.put("mb_per_s", bytes / 1e6 / median.seconds)
      row.put("jobs", median.jobs)
      row.put("tasks", median.tasks)
      row.put("job_seconds", median.jobSeconds)
      row.put("core_util", median.coreUtil)
      println(s"[ingest] $row")
      Files.delete(input)
    }
    scala.util.Using.resource(Files.walk(work))(_.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)))
    Files.write(Paths.get(out), (json.writerWithDefaultPrettyPrinter().writeValueAsString(report) + "\n").getBytes("UTF-8"))
    println(s"[dev] wrote $out")
  }
}
