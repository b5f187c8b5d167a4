package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so that
  * the harness's own spans line up with Spark's epoch-millisecond events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, layer: String,
    startMs: Double, endMs: Double, parent: Long) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Spans are written out once, when the run ends.
  * A disabled tracer records nothing and costs one branch per call.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def record(name: String, layer: String, startMs: Double, endMs: Double,
      parent: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, layer, startMs, endMs, parent))
      id
    }

  /** Times `body` as a span; the body receives the span's id for children. */
  def span[T](name: String, layer: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try body(id)
      finally spans.add(Span(id, name, layer, t0, Clock.nowMs, parent))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Self time per layer in ms: each span's duration minus the part of its
    * interval that its children cover (overlapping children count once).
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(iv => iv._2 > iv._1))
      s.layer -> math.max(0.0, s.durMs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(ivs: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Executor-side totals of the `spark` layer, plus job and stage windows for
  * span attribution. Listener state only grows; callers diff snapshots.
  */
final class SparkTally extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (job id, start ms, end ms) of every finished job. */
  val jobWindows = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  /** (stage id, kind, submit ms, end ms, task count) of every finished stage. */
  val stageWindows = new ConcurrentLinkedQueue[(Int, String, Long, Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobWindows.add((e.jobId, s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    val names = i.accumulables.values.flatMap(_.name).toSet
    // the stateful operator and the file sink publish their own SQL metrics
    val kind =
      if (names.exists(_.startsWith("time to commit changes"))) "state"
      else if (names.contains("number of written files")) "sink"
      else "other"
    for (s <- i.submissionTime; c <- i.completionTime)
      stageWindows.add((i.stageId, kind, s, c, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Tally = Tally(jobs.get, stages.get, tasks.get, taskRunMs.get,
    taskCpuNs.get / 1000000L, gcMs.get, shuffleWrite.get, shuffleRead.get, spill.get)
}

final case class Tally(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long) {
  def -(o: Tally): Tally = this + o.scaled(-1)
  def +(o: Tally): Tally = Tally(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill)
  private def scaled(k: Long): Tally = Tally(k * jobs, k * stages, k * tasks, k * runMs,
    k * cpuMs, k * gcMs, k * shuffleWrite, k * shuffleRead, k * spill)
}

object Tally {
  val Zero: Tally = Tally(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Driver planning time of every executed query, from the phases that
  * Spark's `QueryPlanningTracker` records (analysis, optimization, planning).
  * Installed through `spark.sql.queryExecutionListeners`, so that the
  * sibling sessions the program creates report here too.
  */
final class PlanningTally extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    PlanningTally.queries.incrementAndGet()
    PlanningTally.planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanningTally {
  val planningMs = new AtomicLong
  val queries = new AtomicLong
}

/** One finished micro-batch as its `StreamingQueryProgress` reports it. */
final case class Batch(id: Long, startMs: Long, endMs: Long, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long, stateUpdateMs: Long,
    stateMemoryBytes: Long, stateRows: Long)

/** Micro-batch windows of the streaming queries of this run. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val st = p.stateOperators.headOption
    batches.add(Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d,
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.numRowsTotal).getOrElse(0L)))
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.startMs)
}

/** The `spark` layer's per-layer metrics over one timed section. */
object SparkLayer {
  def metrics(t: Tally, wallS: Double, cores: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", t.jobs.toDouble, "count"),
    ("spark.stages", t.stages.toDouble, "count"),
    ("spark.tasks", t.tasks.toDouble, "count"),
    ("spark.task_run_ms", t.runMs.toDouble, "ms"),
    ("spark.task_cpu_ms", t.cpuMs.toDouble, "ms"),
    ("spark.gc_ms", t.gcMs.toDouble, "ms"),
    ("spark.shuffle_write_bytes", t.shuffleWrite.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes"),
    ("spark.spill_bytes", t.spill.toDouble, "bytes"),
    ("spark.core_util", if (wallS > 0) t.runMs / 1000.0 / (wallS * cores) else 0.0, "ratio"))

  def attach(spark: SparkSession): SparkTally = {
    val t = new SparkTally
    spark.sparkContext.addSparkListener(t)
    t
  }
}
