package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.ColumnShim

import graft.ops.Pinned

/** Development CLI over the registered queries; its output formats
  * are not stable. Run it with no arguments for the commands.
  */
object Dev {

  private val Usage =
    """usage: graft.Dev <command> <sfDir> ...
      |  show  <sfDir> <name>                        first 20 rows of one query
      |  plan  <sfDir> <name,...> <outDir> <suffix>  explain(formatted) per query, pinned
      |                                              sub-plans included, to <outDir>/<name>_<suffix>.txt
      |  audit <sfDir> <out.md>                      plan-shape table of every query
      |  time  <sfDir> <split> [prefix,...]          cold and warm run time per query
      |  jobs  <sfDir> <split> [prefix,...]          warm-run job census with each job's call site
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
}
