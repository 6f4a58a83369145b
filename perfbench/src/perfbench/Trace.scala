package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** One timed call the benchmark made into a layer. `qid` ties the spans
  * of one request (a question, an analytics call) together.
  */
final class Span(val id: Long, val parent: Long, val name: String,
    val qid: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  /** Analysis + optimization + planning of the returned DataFrame. */
  @volatile var planMs: Double = Double.NaN
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark did for the jobs one span submitted itself. */
final case class Counts(jobs: Int = 0, tasks: Long = 0, taskMs: Long = 0,
    cpuMs: Double = 0, gcMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, bytesWritten: Long = 0, spill: Long = 0,
    waitMs: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    bytesWritten + o.bytesWritten, spill + o.spill, waitMs + o.waitMs)
}

/** Per-job accumulators, written only from the listener bus thread. */
private final class JobRec(val group: String, val submitMs: Long) {
  @volatile var firstTaskMs = -1L
  @volatile var c = Counts(jobs = 1)
}

/** Attributes every job, and the tasks of its stages, to the job group
  * the benchmark set on the submitting thread: one group per span.
  * Spark copies a thread's local properties into the threads it spawns
  * for that work (broadcasts, the materializers' write pools), so jobs
  * those threads submit are attributed to the same span.
  */
private final class Attribution extends SparkListener {
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .filter(_.startsWith(Tracer.Prefix)).foreach { g =>
        val j = new JobRec(g, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageJob.get(e.stageId).foreach { j =>
      if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val task = if (m == null) Counts(tasks = 1, taskMs = e.taskInfo.duration)
      else Counts(tasks = 1, taskMs = e.taskInfo.duration,
        cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        bytesWritten = m.outputMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled)
      j.c = j.c + task
    }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val Prefix = "perfbench-"
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written as JSONL when the run ends. When disabled, `span` runs its
  * body and records nothing; `untraced` does the same inside a traced run,
  * for the output checks that are not part of any measured request.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  private val off = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val spanQueue = new ConcurrentLinkedQueue[Span]()
  private val listener =
    if (enabled) { val l = new Attribution; sc.addSparkListener(l); Some(l) } else None

  def active: Boolean = enabled && !off.get

  def span[T](name: String, qid: String = "")(body: => T): T =
    if (!active) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
        name, if (qid.isEmpty && parent != null) parent.qid else qid, System.nanoTime())
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      sc.setLocalProperty(Tracer.GroupKey, Tracer.Prefix + s.id)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Tracer.GroupKey, prevGroup)
        spanQueue.add(s)
      }
    }

  /** Record the plan phases of `df` on the innermost open span. */
  def plan(df: org.apache.spark.sql.DataFrame): Unit =
    if (active) Option(current.get).foreach { s =>
      val ph = df.queryExecution.tracker.phases
      s.planMs = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
    }

  def untraced[T](body: => T): T = {
    off.set(true)
    try body finally off.set(false)
  }

  /** Drains the listener bus and attributes every recorded job. */
  def finish(): TraceView = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val own = scala.collection.mutable.Map.empty[Long, Counts]
    listener.foreach(_.jobs.values.foreach { j =>
      val id = j.group.stripPrefix(Tracer.Prefix).toLong
      val waited = if (j.firstTaskMs >= 0) j.firstTaskMs - j.submitMs else 0L
      own(id) = own.getOrElse(id, Counts()) + j.c.copy(waitMs = waited)
    })
    new TraceView(spanQueue.asScala.toSeq.sortBy(_.startNs), own.toMap, this)
  }

  def relMs(ns: Long): Double = (ns - t0) / 1e6
}

/** Self time, inclusive counts and the JSONL record of a finished trace. */
final class TraceView(val spans: Seq[Span], own: Map[Long, Counts], tracer: Tracer) {
  val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def ownCounts(s: Span): Counts = own.getOrElse(s.id, Counts())

  def counts(s: Span): Counts =
    children.getOrElse(s.id, Nil).foldLeft(ownCounts(s))(_ + counts(_))

  /** Length of the union of the children's intervals, clipped to s. */
  def coveredMs(s: Span): Double = {
    val iv = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total / 1e6
  }

  def selfMs(s: Span): Double = s.ms - coveredMs(s)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def childNamed(s: Span, name: String): Option[Span] =
    children.getOrElse(s.id, Nil).find(_.name == name)

  def jsonl: String = spans.map { s =>
    val c = ownCounts(s)
    Json.obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "qid" -> s.qid,
      "start_ms" -> tracer.relMs(s.startNs), "end_ms" -> tracer.relMs(s.endNs),
      "self_ms" -> selfMs(s), "plan_ms" -> (if (s.planMs.isNaN) null else s.planMs),
      "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
      "task_cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs, "job_wait_ms" -> c.waitMs,
      "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
      "bytes_written" -> c.bytesWritten, "spill_bytes" -> c.spill)
  }.mkString("", "\n", "\n")
}
