package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One span: times in epoch microseconds; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int, trace: Int)

/** In-memory spans around the benchmark's calls into each layer. When
  * disabled, `span` only runs its body. Thread-safe: the Spark listener
  * adds spans from its own thread. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val nanoBase = System.nanoTime()
  private val usBase = System.currentTimeMillis() * 1000L
  /** the innermost open benchmark span and its trace id (driver thread). */
  @volatile var current: Int = -1
  @volatile var trace: Int = 0

  def nowUs(): Long = usBase + (System.nanoTime() - nanoBase) / 1000L
  def newId(): Int = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      current = id
      val t0 = nowUs()
      try body
      finally {
        add(Span(id, name, t0, nowUs(), parent, trace))
        current = parent
      }
    }

  /** self time per span name, in ms: a span's duration minus the part of
    * it that its children cover. */
  def selfTimes(): Map[String, (Int, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val self = ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.name -> (s.endUs - s.startUs - covered)
    }
    self.groupBy(_._1).map { case (k, v) => k -> (v.size, v.map(_._2).sum / 1000.0) }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Stats.json(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent, "trace" -> s.trace)))
      w.newLine()
    } finally w.close()
  }
}

/** Per-task numbers the Spark-layer metrics are computed from. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, output: Long)
final case class JobRec(id: Int, trace: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

/** Records jobs, stages and tasks as spans under the benchmark span that
  * was open when each job started, and keeps per-task metrics. */
final class SparkTrace(t: Tracer) extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val jobSpan = scala.collection.mutable.HashMap.empty[Int, (Int, Int, Int)] // job -> (span, parent, trace)
  private val stageSpan = scala.collection.mutable.HashMap.empty[Int, (Int, Int, Int)] // stage -> (span, jobSpan, trace)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = t.newId()
    val tr = t.trace
    jobSpan(e.jobId) = (id, t.current, tr)
    e.stageIds.foreach(s => stageSpan(s) = (t.newId(), id, tr))
    jobs += JobRec(e.jobId, tr, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      jobSpan.get(e.jobId).foreach { case (id, parent, tr) =>
        t.add(Span(id, "spark.job", j.startMs * 1000L, e.time * 1000L, parent, tr))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for ((id, parent, tr) <- stageSpan.get(si.stageId); s0 <- si.submissionTime; s1 <- si.completionTime)
      t.add(Span(id, "spark.stage", s0 * 1000L, s1 * 1000L, parent, tr))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
    stageSpan.get(e.stageId).foreach { case (sid, _, tr) =>
      t.add(Span(t.newId(), "spark.task", i.launchTime * 1000L, i.finishTime * 1000L, sid, tr))
    }
  }

  /** Spark-layer numbers, median over the passes in `passes` (trace id to
    * the pass's start and end in epoch ms). */
  def passMetrics(passes: Map[Int, (Long, Long)], threads: Int): Map[String, Double] = synchronized {
    val per = passes.toSeq.map { case (tr, (startMs, endMs)) =>
      val js = jobs.filter(_.trace == tr)
      val stages = js.flatMap(_.stages).toSet
      val ts = tasks.filter(x => stages(x.stage))
      val wall = (endMs - startMs) / 1000.0
      val busy = ts.map(x => x.finishMs - x.launchMs).sum / 1000.0
      val run = ts.map(_.runMs).sum.toDouble
      val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).toSeq
        .sortBy(g => -(g.map(_.finishMs).max - g.map(_.launchMs).min))
        .headOption.map { g =>
          val d = g.map(x => (x.finishMs - x.launchMs).toDouble).sorted.toArray
          d.last / math.max(1.0, Stats.quantile(d, 0.5))
        }.getOrElse(1.0)
      // the job whose tasks wrote the most output is the table write
      val outByJob = js.map(j => j -> ts.filter(x => j.stages.contains(x.stage)).map(_.output).sum)
      val writeJob = outByJob.filter(_._2 > (1L << 20)).sortBy(-_._2).headOption.map(_._1)
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.task_busy_frac" -> busy / math.max(1e-9, wall * threads),
        "spark.gc_frac" -> ts.map(_.gcMs).sum / math.max(1.0, run),
        "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
        "spark.spill_mb" -> ts.map(_.spill).sum / 1e6,
        "spark.task_skew" -> skew,
        "spark.write_s" -> writeJob.map(j => (j.endMs - j.startMs) / 1000.0).getOrElse(0.0),
        "spark.lineage_s" -> writeJob.map(j => (endMs - j.endMs) / 1000.0).getOrElse(0.0))
    }
    per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }
}
