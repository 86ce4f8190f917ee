package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed call into a layer. Wall-clock millis are kept for job
  * attribution (Spark stamps its events with the same clock); the
  * duration comes from `nanoTime`.
  */
final case class Span(
    id: Int,
    parent: Int,
    op: Int,
    name: String,
    startMs: Long,
    endMs: Long,
    durS: Double)

/** Counters of one finished job, summed over its tasks. `action` is the
  * call site of the SQL action that ran it (for example
  * `head at Manifest.scala:55`); adaptive execution submits shuffle
  * stages from its own threads, where the stage names say nothing.
  */
final class JobRec(val id: Int, val startMs: Long, val action: String) {
  var endMs: Long = startMs
  var tasks = 0L
  var inputBytes = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  val stageNames = mutable.LinkedHashSet.empty[String]
}

/** What Spark did inside one span, its child spans included. */
final case class Usage(
    span: Span,
    jobs: Seq[JobRec],
    tasks: Long,
    inputBytes: Long,
    runS: Double,
    cpuS: Double,
    gcS: Double,
    shuffleBytes: Long,
    spillBytes: Long,
    driverS: Double)

/** Span recorder plus the SparkListener that counts what Spark did
  * inside each span. Spans are kept in memory and written out once the
  * run ends; a job belongs to the innermost span whose interval holds
  * the job's start.
  *
  * Tracing is switched on per operation: between `attach` and `detach`
  * the listener is registered and spans are recorded; outside, neither
  * costs anything, so one run can time operations both ways.
  */
final class Tracer extends SparkListener {
  private var enabled = false
  private var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val actions = mutable.Map.empty[Long, String]
  private val opCounts = mutable.Map.empty[Int, mutable.Map[String, Double]]

  def attach(sc: org.apache.spark.SparkContext, index: Int): Unit = {
    op = index
    sc.addSparkListener(this)
    enabled = true
  }

  /** Stop tracing once every event of the traced operation has arrived. */
  def detach(sc: org.apache.spark.SparkContext): Unit = {
    enabled = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = (System.nanoTime() - t0) / 1e9
        stack.pop()
        spans += Span(id, parent, op, name, ms0, System.currentTimeMillis(), dur)
      }
    }

  /** Add `v` to the traced operation's count `name`, for what a span
    * measures besides time (for example bytes read).
    */
  def count(name: String, v: Double): Unit =
    if (enabled) {
      val m = opCounts.getOrElseUpdate(op, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  /** Each traced operation's counts. */
  def counts(): Seq[Map[String, Double]] = opCounts.toSeq.sortBy(_._1).map(_._2.toMap)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { actions(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val action = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => actions.get(id.toLong)).getOrElse("")
    val j = new JobRec(e.jobId, e.time, action)
    e.stageInfos.foreach { s => stageJob(s.stageId) = e.jobId; j.stageNames += s.name }
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.runS += m.executorRunTime / 1e3
        j.cpuS += m.executorCpuTime / 1e9
        j.gcS += m.jvmGCTime / 1e3
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Attribute every job to its innermost span and sum per span. */
  def usage(): Seq[Usage] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val owner: Map[Int, Int] = jobs.values.flatMap { j =>
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .maxByOption(s => (depth(s), s.startMs)).map(j.id -> _.id)
    }.toMap
    def within(s: Span): Set[Int] = {
      val kids = spans.filter(_.parent == s.id)
      kids.flatMap(within).toSet + s.id
    }
    spans.toSeq.map { s =>
      val ids = within(s)
      val js = jobs.values.filter(j => owner.get(j.id).exists(ids.contains)).toSeq
      Usage(s, js,
        js.map(_.tasks).sum, js.map(_.inputBytes).sum, js.map(_.runS).sum, js.map(_.cpuS).sum,
        js.map(_.gcS).sum, js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
        math.max(0.0, s.durS - busyS(js, s)))
    }
  }

  /** Seconds of the span during which at least one of `js` ran. */
  private def busyS(js: Seq[JobRec], s: Span): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (busy + curB - curA) / 1e3
  }

  /** Every span and job as JSON lines, for reading a run after it ends. */
  def dump(): String = synchronized {
    val sb = new StringBuilder
    usage().foreach { u =>
      val s = u.span
      sb ++= s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""dur_s":${s.durS},"jobs":[${u.jobs.map(_.id).mkString(",")}],"tasks":${u.tasks},""" +
        s""""input_bytes":${u.inputBytes},"driver_s":${u.driverS}}""" + "\n"
    }
    jobs.values.foreach { j =>
      sb ++= s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""input_bytes":${j.inputBytes},"run_s":${j.runS},"cpu_s":${j.cpuS},"gc_s":${j.gcS},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},"action":${Json.str(j.action)},""" +
        s""""stages":[${j.stageNames.map(Json.str).mkString(",")}]}""" + "\n"
    }
    sb.toString
  }
}
