package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.QueryDef

/** The catalog workload: read entries materialised through the `noop` sink,
  * one after another in one session, pass after pass.
  */
final class Catalog(ctx: Ctx) extends Workload {
  private def spark = ctx.spark
  val setups = 3

  /** Read entries, timed in every run; each has DuckDB oracle SQL over the
    * unstaged tables.
    */
  val Reads: Seq[String] = Seq(
    "q02_filter_project", "q05_star_join", "q06_multi_join", "q13_count_distinct",
    "q44_waiting_suppliers")

  /** Maintenance arcs, run in the traced pass only: eager entries whose
    * result is a step table.
    */
  val Arcs: Seq[String] = Seq("ext138_backlog_compaction")

  private val defs: Map[String, QueryDef] = SparkEntry.all.map(q => q.name -> q).toMap
  private val WarmupPasses = 5
  private def stagedDir(i: Int) = s"${ctx.work}/staged-$i"
  private var prepared = 0

  /** Splits per staged table: proportional to file size, at most `splits`;
    * the same layout as the repository bench's staging.
    */
  private def stage(sfDir: String, out: String, splits: Int): Unit = {
    val tables = Option(new File(sfDir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    // tables are independent: stage them concurrently, like a loader would
    val pool = java.util.concurrent.Executors.newFixedThreadPool(splits)
    try tables.map { f =>
      pool.submit((() => {
        val n = math.max(1, math.min(splits.toLong, f.length() / (16L << 10))).toInt
        spark.read.parquet(f.getPath).repartition(n)
          .write.mode("overwrite").parquet(s"$out/${f.getName}")
      }): Runnable)
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** One set-up's inputs: the sf0.01 tables staged into a fresh directory.
    * The last two set-ups' copies are kept: the warm-up reads the one
    * before last, the timed passes the last.
    */
  def prepare(i: Int): Unit = {
    ctx.tracer.span("stage", "session") { _ => stage(s"${ctx.data}/sf0.01", stagedDir(i), ctx.cores) }
    if (i > 1) Util.delete(new File(stagedDir(i - 2)))
    prepared = i + 1
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over `order` in a fresh session: wall seconds per entry, and
    * the arcs' collected step tables. An entry that throws counts as failed.
    */
  private def pass(dir: String, order: Seq[String], tag: String,
      onEntry: (String, Double, Double) => Unit = (_, _, _) => ())
      : (Seq[(String, Double)], Map[String, Array[Row]]) = {
    val s = spark.newSession()
    val arcsOut = scala.collection.mutable.Map.empty[String, Array[Row]]
    val walls = order.map { name =>
      val t0 = Clock.nowMs
      val df = try { val d = defs(name).build(s, dir); noop(d); Some(d) }
      catch { case e: Throwable =>
        ctx.report.fail(s"$tag $name: ${String.valueOf(e.getMessage).take(200)}")
        None
      }
      val t1 = Clock.nowMs
      onEntry(name, t0, t1)
      if (Arcs.contains(name)) df.foreach(d => arcsOut(name) = d.collect())
      name -> (t1 - t0) / 1000.0
    }
    (walls, arcsOut.toMap)
  }

  def run(seconds: Int): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val order = rnd.shuffle(Reads)
    val arcs = if (ctx.trace) rnd.shuffle(Arcs) else Nil
    val timedDir = stagedDir(prepared - 1)
    // A traced run counts each entry's jobs in every pass; an entry whose
    // count differs from the first pass's kept work from an earlier pass
    // (or lost some) and fails the cache check.
    val jobs = new JobCounter
    if (ctx.trace) spark.sparkContext.addSparkListener(jobs)
    def markJobs(name: String): Unit =
      if (ctx.trace) { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); jobs.mark(name) }
    def countedPass(dir: String, entries: Seq[String], tag: String) = {
      if (ctx.trace) { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); jobs.begin() }
      pass(dir, entries, tag, (name, _, _) => markJobs(name))._1
    }

    // JIT and codegen warm-up: `WarmupPasses` passes over the previous
    // set-up's staged copy, other files than the timed passes read. The
    // first gives the reference job counts. A count rather than a time, so
    // that a run on a busy host is as warm as one on an idle host.
    val (firstJobs, warmS) = ctx.timed("warmup", "session") {
      val warmDir = stagedDir(prepared - 2)
      countedPass(warmDir, order, "warmup0")
      val first = jobs.take()
      (1 until WarmupPasses).foreach(k => pass(warmDir, order, s"warmup$k"))
      first
    }
    ctx.report.put("session.warmup_s", warmS, "s")
    Util.delete(new File(stagedDir(prepared - 2)))

    // timed passes, each in a fresh session, until `seconds` have passed
    // (at least three), each timed by wall clock and by this process's CPU
    // time
    val start = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (passes.size < 3 || System.nanoTime() - start < seconds * 1000000000L) {
      val cpu0 = Host.processCpuSec()
      val walls = countedPass(timedDir, order, s"timed${passes.size}")
      cpus += Host.processCpuSec() - cpu0
      checkJobs(s"timed pass ${passes.size}", firstJobs, jobs.take())
      passes += walls
      ctx.report.attempted += walls.size
    }
    ctx.report.note("entry_s", order.map(n =>
      f"$n=${Util.median(passes.toSeq.map(_.toMap.apply(n)))}%.3f").mkString(" "))
    ctx.report.note("pass_s", passes.map(p => f"${p.map(_._2).sum}%.3f").mkString(" "))
    ctx.report.note("pass_cpu_s", cpus.map(c => f"$c%.2f").mkString(" "))
    val passS = passes.map(_.map(_._2).sum).toSeq
    val catalogS = Util.median(passS)
    ctx.report.put("cpu_ms_per_item", cpus.sum * 1000 / (Reads.size * cpus.size), "ms")
    ctx.report.put("catalog_s", catalogS, "s")
    if (ctx.trace) spark.sparkContext.removeSparkListener(jobs)

    // outputs for the runner's checks, written outside the timed passes
    val out = s"${ctx.work}/out"
    val s = spark.newSession()
    Reads.foreach { name =>
      try defs(name).build(s, timedDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => ctx.report.fail(s"output $name: ${String.valueOf(e.getMessage).take(200)}") }
    }
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Reads.map(n => s"${Json.str(n)}:${Json.str(oracle.getOrElse(n, ""))}").mkString("{", ",", "}"))

    if (ctx.trace) {
      ctx.report.attempted += arcs.size
      traced(order ++ arcs, timedDir, passS, firstJobs).foreach { case (name, rows) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"$name.arc.json"),
          rows.map(r => r.toSeq.map(v => Json.str(String.valueOf(v))).mkString("[", ",", "]"))
            .mkString("[", ",\n", "]\n"))
      }
    }
  }

  /** An entry that ran fewer (or more) jobs than in the first warm-up pass
    * fails the cache check.
    */
  private def checkJobs(what: String, first: Map[String, Long], got: Map[String, Long]): Unit =
    first.foreach { case (name, n) =>
      got.get(name).filter(_ != n).foreach { m =>
        ctx.report.fail(s"cache check $name: $what ran $m jobs, the first pass $n")
      }
    }

  /** One more pass, traced, with the maintenance arcs after the reads.
    * Returns the arcs' step tables.
    */
  private def traced(order: Seq[String], dir: String, untracedS: Seq[Double],
      firstJobs: Map[String, Long]): Map[String, Array[Row]] = {
    val sc = spark.sparkContext
    val tally = SparkLayer.attach(spark)
    val t0 = tally.snapshot()
    val p0 = PlanningTally.planningMs.get
    val per = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Tally)]
    var last = t0
    val (_, arcRows) = ctx.tracer.span("catalog-pass", "queries") { root =>
      pass(dir, order, "traced", (name, s, e) => {
        org.apache.spark.perfbench.Bus.drain(sc)
        val now = tally.snapshot()
        per(name) = ((e - s) / 1000.0, now - last)
        last = now
        val layer = if (Arcs.contains(name)) "maintenance" else "queries"
        val id = ctx.tracer.record(name, layer, s, e, root)
        tally.jobWindows.forEach { case (j, js, je) =>
          if (js >= s - 1 && je <= e + 1) ctx.tracer.record(s"job-$j", "spark", js.toDouble, je.toDouble, id)
        }
        tally.jobWindows.clear()
      })
    }
    val t = tally.snapshot() - t0
    val wallS = per.values.map(_._1).sum
    ctx.report.putAll(SparkLayer.metrics(t, wallS, ctx.cores))
    ctx.report.put("queries.planning_ms", (PlanningTally.planningMs.get - p0).toDouble, "ms")
    per.foreach { case (name, (s, d)) =>
      if (Arcs.contains(name)) {
        ctx.report.put(s"maintenance.$name.s", s, "s")
        ctx.report.put(s"maintenance.$name.tasks", d.tasks.toDouble, "count")
        ctx.report.put(s"maintenance.$name.core_util", d.runMs / 1000.0 / (s * ctx.cores), "ratio")
      } else {
        ctx.report.put(s"catalog.$name.s", s, "s")
        ctx.report.put(s"catalog.$name.jobs", d.jobs.toDouble, "count")
        ctx.report.put(s"catalog.$name.stages", d.stages.toDouble, "count")
      }
    }
    checkJobs("the traced pass", firstJobs, per.map { case (n, (_, d)) => n -> d.jobs }.toMap)
    val readsS = per.filter(e => Reads.contains(e._1)).values.map(_._1).sum
    val arcsS = per.filter(e => Arcs.contains(e._1)).values.map(_._1).sum
    ctx.report.put("maintenance_s", arcsS, "s")
    ctx.report.put("trace.overhead_ratio", readsS / Util.median(untracedS), "ratio")
    spark.sparkContext.removeSparkListener(tally)
    arcRows
  }
}

/** Jobs started per catalog entry: `begin` opens a pass, `mark` closes the
  * current entry, `take` returns the entries closed since the last `take`.
  */
final class JobCounter extends org.apache.spark.scheduler.SparkListener {
  private val n = new java.util.concurrent.atomic.AtomicLong
  private var last = 0L
  private var perEntry = Map.empty[String, Long]
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
  def begin(): Unit = last = n.get
  def mark(name: String): Unit = { val now = n.get; perEntry += name -> (now - last); last = now }
  def take(): Map[String, Long] = { val out = perEntry; perEntry = Map.empty; out }
}
