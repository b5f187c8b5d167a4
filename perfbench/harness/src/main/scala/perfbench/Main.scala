package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A traced streaming query: its batches, and the Spark jobs and stages that
  * ran in it.
  */
final case class Window(name: String, startMs: Double, endMs: Double, batches: Seq[Batch],
    jobs: Seq[(Int, Long, Long)], stages: Seq[(Int, String, Long, Long, Int)])

/** One workload: its input preparation, repeated once per set-up, and its
  * warm-up and timed part, run once in the last set-up's session.
  * `setup_s` is the median CPU time of `setups` set-ups.
  */
trait Workload {
  def setups: Int
  def prepare(i: Int): Unit
  def run(seconds: Int): Unit
}

/** Shared state of one benchmark run. `spark` is the current set-up's
  * session.
  */
final class Ctx(val work: String, val data: String, val seed: Long, val trace: Boolean,
    val tracer: Tracer, val report: Report) {
  val cores: Int = Host.cores
  var spark: SparkSession = _

  /** Times one step as a span and returns its value with its seconds. */
  def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val out = body
    val t1 = Clock.nowMs
    tracer.record(name, layer, t0, t1, 0L)
    (out, (t1 - t0) / 1000.0)
  }

  private val windows = scala.collection.mutable.ArrayBuffer.empty[Window]

  /** Keeps a traced streaming query's batches, jobs and stages; spans are
    * built at the end of the run, once the layer probes have timed the
    * kernels.
    */
  def traceQuery(name: String, startMs: Double, endMs: Double, batches: Seq[Batch],
      tally: SparkTally): Unit = {
    def within(s: Long, e: Long) = s >= startMs - 1 && e <= endMs + 1
    windows += Window(name, startMs, endMs, batches.filter(_.inputRows > 0),
      tally.jobWindows.asScala.toSeq.filter(j => within(j._2, j._3)),
      tally.stageWindows.asScala.toSeq.filter(s => within(s._3, s._4)))
  }

  /** Spans of the traced micro-batches. A batch's phases come from its
    * progress report, laid end to end in the engine's order; `addBatch`
    * holds the batch's Spark jobs (layer `spark`: what the stages inside do
    * not cover is scheduling), and each job its stages. The stateful stage's
    * wall time is split between `kernels` and `state` in proportion to the
    * kernel probe's per-frame cost against the operator's reported update
    * and commit time.
    */
  def buildSpans(): Unit = {
    val kernelMs = Seq("grayscale", "blur", "absdiff_threshold", "components")
      .flatMap(k => report.get(s"kernels.${k}_us")).sum / 1000.0
    windows.foreach { w =>
      val root = tracer.record(w.name, "microbatch", w.startMs, w.endMs, 0L)
      w.batches.foreach { b =>
        val bid = tracer.record(s"batch-${b.id}", "microbatch", b.startMs.toDouble, b.endMs.toDouble, root)
        var t = b.startMs.toDouble
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { phase =>
            val d = b.durations.getOrElse(phase, 0L).toDouble
            if (d > 0) {
              val layer = if (phase == "addBatch") "sink" else "microbatch"
              val pid = tracer.record(phase, layer, t, t + d, bid)
              if (phase == "addBatch") {
                def in(s: Long, e: Long, lo: Double, hi: Double) = s >= lo - 1 && e <= hi + 1
                val jobs = w.jobs.filter(j => in(j._2, j._3, t, t + d))
                val jobIds = jobs.map { case (jid, s, e) =>
                  (tracer.record(s"job-$jid", "spark", s.toDouble, e.toDouble, pid), s, e)
                }
                w.stages.filter(s => in(s._3, s._4, t, t + d)).foreach {
                  case (sid, kind, s0, s1, _) =>
                    val parent = jobIds.find(j => in(s0, s1, j._2.toDouble, j._3.toDouble))
                      .map(_._1).getOrElse(pid)
                    val layer = kind match {
                      case "state" => "state"
                      case "sink" => "sink"
                      case _ => "decode"
                    }
                    val stage = tracer.record(s"stage-$sid", layer, s0.toDouble, s1.toDouble, parent)
                    if (kind == "state") {
                      val kern = b.inputRows * kernelMs
                      val total = math.max(b.stateUpdateMs + b.stateCommitMs, kern)
                      val kw = (s1 - s0) * kern / total
                      if (kw > 0) tracer.record("kernels", "kernels", s0, s0 + kw, stage)
                    }
                }
              }
              t += d
            }
          }
      }
    }
  }

  /** The `microbatch` and `state` layers over a query's non-empty batches. */
  def batchMetrics(batches: Seq[Batch]): Unit = {
    val bs = batches.filter(_.inputRows > 0)
    def med(f: Batch => Double) = Util.median(bs.map(f))
    report.put("microbatch.batches", bs.size.toDouble, "count")
    report.put("microbatch.frames_per_batch", med(_.inputRows.toDouble), "count")
    report.put("microbatch.planning_ms", med(_.durations.getOrElse("queryPlanning", 0L).toDouble), "ms")
    report.put("microbatch.wal_ms", med(_.durations.getOrElse("walCommit", 0L).toDouble), "ms")
    report.put("microbatch.add_batch_ms", med(_.durations.getOrElse("addBatch", 0L).toDouble), "ms")
    report.put("microbatch.latest_offset_ms", med(_.durations.getOrElse("latestOffset", 0L).toDouble), "ms")
    report.put("state.commit_ms_per_batch", med(_.stateCommitMs.toDouble), "ms")
    report.put("state.update_ms_per_batch", med(_.stateUpdateMs.toDouble), "ms")
    report.put("state.memory_bytes", bs.map(_.stateMemoryBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
    report.put("state.rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
  }

  /** The `sink` layer's output, as found on disk. */
  def outputStats(table: String, batches: Int): Unit = {
    val files = Util.listRec(new File(table)).filter(_.getName.endsWith(".parquet"))
    report.put("sink.files_per_batch", files.size.toDouble / math.max(1, batches), "count")
    report.put("sink.bytes", files.map(_.length).sum.toDouble, "bytes")
  }
}

/** Runs one workload in this JVM and writes its metrics as JSON.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --data <dir> --result <file> --spans <file>
  */
object Main {
  val Layers = Seq("session", "producer", "decode", "kernels", "state",
    "microbatch", "sink", "spark", "queries", "maintenance")

  /** A fresh `GraftSession` at `local[cores]` with `cores` shuffle partitions. */
  private def session(cores: Int, trace: Boolean): SparkSession = {
    val builder = GraftSession.builder(s"local[$cores]", cores, appName = "perfbench")
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanningTally].getName)
    builder.getOrCreate()
    val spark = GraftSession.create(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val report = new Report
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}", trace)
    val ctx = new Ctx(opt("work"), opt("data"), seed, trace, tracer, report)

    val canaryPre = Host.canarySec()
    val cpu0 = Host.cpuTicks()
    try {
      val w: Workload = workload match {
        case "frames-backlog" => new Frames(ctx)
        case "catalog" => new Catalog(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // each set-up builds a session from scratch and prepares the inputs;
      // stopping the previous session is not part of a set-up
      val each = (0 until w.setups).map { i =>
        if (ctx.spark != null) ctx.spark.stop()
        val cpu0 = Host.processCpuSec()
        val (_, build) = ctx.timed("session.build", "session") { ctx.spark = session(ctx.cores, trace) }
        // the workload records its own preparation spans
        val t0 = Clock.nowMs
        w.prepare(i)
        (build, (Clock.nowMs - t0) / 1000.0, Host.processCpuSec() - cpu0)
      }
      report.note("setup_s.each", each.map { case (b, p, c) => f"cpu $c%.2f wall ${b + p}%.3f" }.mkString(", "))
      // CPU time, like cpu_ms_per_item: the wall time of a set-up, mostly
      // writes and a thread pool's staging, doubled on a busy host
      report.put("setup_s", Util.median(each.map(_._3)), "s")
      report.put("session.setup_wall_s", Util.median(each.map { case (b, p, _) => b + p }), "s")
      report.put("session.build_s", Util.median(each.map(_._1)), "s")
      report.put("session.stage_s", Util.median(each.map(_._2)), "s")
      w.run(seconds)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"run aborted: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    if (trace) {
      ctx.buildSpans()
      tracer.selfMsByLayer.foreach { case (l, ms) =>
        if (Layers.contains(l)) report.put(s"trace.self_s.$l", ms / 1000.0, "s")
      }
      tracer.write(java.nio.file.Paths.get(opt("spans")))
    }
    report.put("rss_peak_mb", Host.rssPeakMb(), "MiB")
    report.put("host.nproc", ctx.cores.toDouble, "count")
    report.put("host.canary_pre_s", canaryPre, "s")
    report.put("host.canary_post_s", Host.canarySec(), "s")
    val cpu = Host.cpuTicks().zip(cpu0).map { case (a, b) => a - b }
    report.put("host.steal_share", cpu.lift(7).getOrElse(0L).toDouble / math.max(1L, cpu.sum), "ratio")
    report.write(java.nio.file.Paths.get(opt("result")))
    if (ctx.spark != null) ctx.spark.stop()
  }
}
