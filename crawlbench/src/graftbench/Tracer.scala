package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the tracer saw it. `site` is the program call site that
  * launched it (`File.method` of the first `graft.*` frame of the job's
  * call stack); `aqeStage` marks a map-stage job, the kind adaptive query
  * execution submits to materialize one query stage. Times are epoch ms. */
final class JobRec(val id: Int, val start: Long, val site: String,
    val action: String, val aqeStage: Boolean) {
  var end: Long = -1L
  var tasks: Int = 0
  var taskRunMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
}

/** A traced interval: `kind` is the layer (run, setup, unit, call, query,
  * round, job, kernel), `parent` the id of the span that caused it. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** The traced run's recorder. It registers a [[SparkListener]] that keeps
  * every job with its call site, tasks, run time, shuffle and spill bytes,
  * and collects the benchmark's own spans. Everything stays in memory and
  * is rendered once at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSite = mutable.HashMap.empty[String, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var listenerNanos = 0L

  sc.addSparkListener(this)

  // the first frame of the launching program: graft.*, never the
  // benchmark's own frames or Spark's
  private val Frame = """^\s*(?:at\s+)?graft\.([\w.$]+)\.([\w$]+)\((\w+)\.scala:\d+\)""".r

  private def siteOf(details: String): Option[String] =
    details.linesIterator.collectFirst { case Frame(_, method, file) =>
      val m = method.split('$').filter(s => s.nonEmpty && s != "anonfun" &&
        !s.forall(_.isDigit) && s != "adapted").headOption.getOrElse(method)
      s"$file.$m"
    }.orElse(if (details.contains("graftbench.")) Some("bench") else None)

  // a SQL execution's call site, posted from the thread that started it
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      siteOf(x.details).foreach(s => execSite(x.executionId.toString) = s)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val last = e.stageInfos.maxBy(_.stageId)
    val props = Option(e.properties)
    val execs = props.toSeq.flatMap(p => Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(k => Option(p.getProperty(k))))
    // jobs submitted from Spark's own threads (broadcasts, query stages)
    // carry no program frame: they take the site of their SQL execution
    val site = siteOf(last.details)
      .filter(_ != "bench").orElse(execs.flatMap(execSite.get).headOption)
      .orElse(siteOf(last.details))
      .getOrElse("unattributed")

    val action = last.name.split(" at ").headOption.getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site, action, org.apache.spark.graftbench.SparkShim.isMapStage(last))
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    listenerNanos += System.nanoTime() - t
  }

  /** Seconds the listener spent handling events (runs off the driver's
    * critical path, on the listener bus thread). */
  def listenerSeconds: Double = listenerNanos / 1e9

  def drain(): Unit = org.apache.spark.graftbench.SparkShim.drain(sc)

  def stop(): Unit = sc.removeSparkListener(this)

  def span(parent: Int, kind: String, name: String, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, start, end, attrs)
    id
  }

  /** Opens a span now; [[close]] sets its end. */
  def open(parent: Int, kind: String, name: String): Int = {
    val now = System.currentTimeMillis()
    span(parent, kind, name, now, now)
  }

  def close(id: Int): Unit = synchronized {
    spans(id - 1) = spans(id - 1).copy(end = System.currentTimeMillis())
  }

  def spanOf(id: Int): Span = synchronized(spans(id - 1))

  /** Jobs that started inside [a, b] (epoch ms), in start order. */
  def jobsIn(a: Long, b: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.start >= a && j.start <= b).toSeq
  }

  /** Milliseconds of [a, b] during which no Spark job was running. */
  def idleMs(a: Long, b: Long): Long =
    (b - a) - Tracer.coveredMs(jobsIn(a, b).map(j => (j.start, if (j.end < 0) b else j.end)), a, b)

  /** Job spans under the round or call span whose interval holds them. */
  def addJobSpans(parents: Seq[(Int, Long, Long)]): Unit = {
    val all = synchronized(jobs.values.toSeq)
    all.foreach { j =>
      parents.find { case (_, a, b) => j.start >= a && j.start <= b }.foreach { case (pid, _, _) =>
        span(pid, "job", s"site.${j.site}", j.start, if (j.end < 0) j.start else j.end,
          Map("job" -> j.id, "tasks" -> j.tasks, "aqe_stage" -> j.aqeStage,
            "action" -> j.action))
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Self time per (kind, name): a span's duration minus the part of its
    * interval that its child spans cover. */
  def selfTimes: Seq[(String, String, Int, Double, Double)] = {
    val ss = allSpans
    val kids = ss.groupBy(_.parent)
    val rows = ss.map { s =>
      val d = s.end - s.start
      (s.kind, s.name, d, d - Tracer.coveredMs(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }
    rows.groupBy(r => (r._1, r._2)).toSeq.map { case ((k, n), rs) =>
      (k, n, rs.size, rs.map(_._3).sum / 1e3, rs.map(_._4).sum / 1e3)
    }.sortBy(r => -r._5)
  }
}

object Tracer {
  /** Milliseconds of [a, b] covered by the union of `ivs`. */
  def coveredMs(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Aggregates over a set of jobs and windows. */
object JobStats {
  final case class Window(jobs: Int, tasks: Int, aqeJobs: Int, taskRunMs: Long,
      shuffleBytes: Long, spillBytes: Long, wallMs: Long, idleMs: Long)

  def over(t: Tracer, windows: Seq[(Long, Long)]): Window =
    windows.map { case (a, b) =>
      val js = t.jobsIn(a, b)
      Window(js.size, js.map(_.tasks).sum, js.count(_.aqeStage), js.map(_.taskRunMs).sum,
        js.map(_.shuffleWriteBytes).sum, js.map(_.spillBytes).sum, b - a, t.idleMs(a, b))
    }.foldLeft(Window(0, 0, 0, 0L, 0L, 0L, 0L, 0L)) { (x, y) =>
      Window(x.jobs + y.jobs, x.tasks + y.tasks, x.aqeJobs + y.aqeJobs,
        x.taskRunMs + y.taskRunMs, x.shuffleBytes + y.shuffleBytes,
        x.spillBytes + y.spillBytes, x.wallMs + y.wallMs, x.idleMs + y.idleMs)
    }
}
