package kgbench

import org.apache.spark.SparkContext
import org.apache.spark.kgbench.ListenerBus
import org.apache.spark.scheduler._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Executor-side totals, summed from task-end events. */
final class TaskTotals {
  var cpuNs, gcMs, shuffleWriteBytes, shuffleWriteRecords, spillBytes, tasks, failures = 0L

  def +=(o: TaskTotals): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes; tasks += o.tasks; failures += o.failures
  }
}

/** One Spark job as the listener saw it: the job group it was submitted
  * under, its wall interval (epoch ms) and its tasks' totals. */
final case class JobRecord(group: String, startMs: Long, var endMs: Long, totals: TaskTotals)

/** Records every job and its task metrics. Stages are charged to the first
  * job that lists them, so a stage reused (skipped) by a later job is not
  * counted twice. */
final class JobListener extends SparkListener {
  private val jobsById = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobsById(e.jobId) = JobRecord(group, e.time, -1L, new TaskTotals)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobsById.get).foreach { j =>
      val t = j.totals
      t.tasks += 1
      if (!e.taskInfo.successful) t.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobs: Seq[JobRecord] = synchronized(jobsById.values.toVector)
}

/** A timed region of the traced run. Spans of one run share `runId`. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, startMs: Long, var endNs: Long = -1L,
                      var endMs: Long = -1L) {
  def group: String = s"kgbench-$runId-$id"
  def seconds: Double = (endNs - startNs) / 1e9
  def containsMs(t: Long): Boolean = startMs <= t && (endMs < 0 || t <= endMs)
}

/** In-memory span recorder. Each span sets its own Spark job group, so the
  * jobs it submits (and their task metrics) are attributed to it. Spans are
  * written out only when the run ends. */
final class Tracer(sc: SparkContext, val runId: String, listener: JobListener) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  def apply[T](name: String)(f: => T): T = {
    require(!spans.exists(_.name == name), s"span $name recorded twice")
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, runId,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setJobGroup(s.group, name)
    try f
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def span(name: String): Span = spans.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Duration minus the part covered by child spans (children never overlap:
    * the harness is one thread submitting one job at a time). */
  def selfSeconds(name: String): Double = {
    val s = span(name)
    s.seconds - children(s).map(_.seconds).sum
  }

  /** The span a job belongs to: the one named by its job group, unless that
    * span was not open when the job started (a pooled thread inside the
    * engine can carry a stale group) — then the innermost open span. */
  private def owner(j: JobRecord): Option[Span] =
    spans.find(s => s.group == j.group && s.containsMs(j.startMs))
      .orElse(spans.filter(_.containsMs(j.startMs)).sortBy(-_.startNs).headOption)

  def jobsOf(name: String): Seq[JobRecord] = {
    ListenerBus.drain(sc)
    val ids = subtree(span(name)).map(_.id).toSet
    listener.jobs.filter(j => owner(j).exists(s => ids.contains(s.id)))
  }

  def totalsOf(name: String): TaskTotals = {
    val t = new TaskTotals
    jobsOf(name).foreach(j => t += j.totals)
    t
  }

  /** Span wall time during which none of its jobs was running. */
  def idleSeconds(name: String): Double = {
    val s = span(name)
    val ivs = jobsOf(name).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).sortBy(_._1)
    var busy = 0L; var cur = Long.MinValue
    ivs.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) busy += b - from
      cur = math.max(cur, b)
    }
    math.max(0.0, s.seconds - busy / 1e3)
  }

  /** One JSON object per span: identity, timing, self time and the Spark
    * work attributed to it (see kgbench/README.md, "Reading a span dump"). */
  def dump(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val t = totalsOf(s.name)
      val own = listener.jobs.count(j => owner(j).contains(s))
      f"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.seconds}%.6f,""" +
        f""""self_s":${selfSeconds(s.name)}%.6f,"own_jobs":$own,""" +
        f""""subtree_jobs":${jobsOf(s.name).size},"cpu_s":${t.cpuNs / 1e9}%.6f,""" +
        f""""shuffle_write_bytes":${t.shuffleWriteBytes},"spill_bytes":${t.spillBytes}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
