package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.Base64

import org.apache.spark.sql.functions._

import graft.cv.{Kernels, Png}
import graft.model.VideoFrameData
import graft.streaming.{FrameProducer, MotionPipeline}

/** The seeded frame scene: background level, where each camera's square
  * sits and the timestamp base. The program only ever sees the wire files
  * rendered from it. Camera names follow the producer's `cam<i>` and are not
  * seeded: the keyed shuffle places a camera by the hash of its name, so
  * seeded names would make the state stage's parallelism vary with the seed.
  */
final case class Scene(bg: Int, dx: Int, dy: Int, t0Ms: Long, cams: IndexedSeq[String])

object Scene {
  val Rows = 480
  val Cols = 640
  val Channels = 3
  val MatType = 16 // CV_8UC3

  def fromSeed(seed: Long, nCams: Int = 4): Scene = {
    val r = new scala.util.Random(seed)
    val cams = (0 until nCams).map(i => s"cam$i")
    Scene(bg = 4 + r.nextInt(40), dx = r.nextInt(Cols - 64), dy = r.nextInt(Rows - 48),
      t0Ms = 1700000000000L + r.nextInt(1 << 30) * 1000L, cams = cams)
  }

  /** `FrameProducer.synthPixels`' square pattern moved to the camera's spot
    * on the scene's background. With `moving`, consecutive frames of a
    * camera differ by a displaced square, so each one after the first has
    * motion; without it all frames of a camera are identical.
    */
  def pixels(s: Scene, cam: Int, seq: Long, moving: Boolean): Array[Byte] = {
    val base = FrameProducer.synthPixels(seq, Rows, Cols, moving)
    val out = Array.fill(Rows * Cols * Channels)(s.bg.toByte)
    val ox = (s.dx + 97 * cam) % (Cols - 64)
    val oy = (s.dy + 53 * cam) % (Rows - 48)
    var r = 0
    while (r < 48) {
      var c = 0
      while (c < 64) {
        val src = (r * Cols + c) * Channels
        if (base(src) != 10) {
          val dst = ((r + oy) * Cols + (c + ox)) * Channels
          out(dst) = base(src); out(dst + 1) = base(src + 1); out(dst + 2) = base(src + 2)
        }
        c += 1
      }
      r += 1
    }
    out
  }

  val IsoFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .withZone(java.time.ZoneOffset.UTC)
}

/** The frame backlog workload: a static-scene backlog drained by one
  * `AvailableNow` run, again and again.
  */
final class Frames(ctx: Ctx) extends Workload {
  import Scene._
  val setups = 3

  private val scene = Scene.fromSeed(ctx.seed)
  private val nCams = scene.cams.size
  private val frameBytes = Rows * Cols * Channels
  private val perCam = 80
  private val WarmupDrains = 5
  private val n = nCams * perCam
  private val base = s"${ctx.work}/backlog"
  private def wire(i: Int) = s"$base/wire-$i"
  private var inputs = ""

  // ------------------------------------------------------------ rendering

  private val Placeholder = "1970-01-01T00:00:00.000Z"

  /** Wire lines from `FrameProducer.toWire`, one per camera, each with a
    * placeholder timestamp that is replaced by the frame's own when a wire
    * file is written.
    */
  private def templates(): IndexedSeq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val sc = scene
    val ds = (0 until nCams).toDS().map { c =>
      VideoFrameData(sc.cams(c), new Timestamp(0L), Rows, Cols, MatType,
        Base64.getEncoder.encodeToString(Scene.pixels(sc, c, 0L, moving = false)))
    }
    val out = FrameProducer.toWire(ds, nCams).select(col("value")).as[String].collect()
    require(out.forall(_.contains(Placeholder)), "wire timestamp format changed")
    ctx.report.put("producer.wire_bytes_per_frame", out.map(_.length.toDouble).sum / out.length, "bytes")
    out.toIndexedSeq
  }

  /** The backlog: `perCam` frames per camera, 33 ms apart, round-robin over
    * the cameras and split into one file per core.
    */
  private def render(dir: String, lines: IndexedSeq[String]): Unit = {
    val t0 = System.nanoTime()
    val files = ctx.cores
    new File(dir).mkdirs()
    (0 until files).foreach { f =>
      val w = Files.newBufferedWriter(Paths.get(dir, f"part-$f%05d.txt"))
      try (f * n / files until (f + 1) * n / files).foreach { i =>
        val seq = (i / nCams).toLong
        val ts = IsoFormat.format(java.time.Instant.ofEpochMilli(scene.t0Ms + seq * 33L))
        w.write(lines(i % nCams).replace(Placeholder, ts)); w.write('\n')
      } finally w.close()
    }
    ctx.report.put("producer.encode_ms_per_frame", (System.nanoTime() - t0) / 1e6 / n, "ms")
  }

  /** One set-up's inputs: the wire templates and the rendered backlog. */
  def prepare(i: Int): Unit = {
    val (lines, _) = ctx.timed("producer.render", "producer") { templates() }
    ctx.timed("producer.backlog", "producer") { render(wire(i), lines) }
    if (i > 0) Util.delete(new File(wire(i - 1)))
    inputs = wire(i)
  }

  private val expected: Set[(String, Long)] =
    (for (c <- scene.cams; s <- 0 until perCam) yield (c, scene.t0Ms + s * 33L)).toSet

  /** The frame gate: one result row per sent frame, no duplicates or
    * strays, equal per-camera counts, and no PNG.
    */
  private def check(tag: String, table: String, imgDir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = spark.read.parquet(table)
      .select(col("camera_id"), col("frame_timestamp"))
      .as[(String, Timestamp)].collect().map(r => (r._1, r._2.getTime))
    val counts = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val bad = expected.count(f => counts.getOrElse(f, 0) != 1) +
      counts.keys.count(f => !expected.contains(f))
    if (bad > 0) ctx.report.fail(s"$tag: $bad frames without exactly one result row", bad)
    val perCam = rows.groupMapReduce(_._1)(_ => 1)(_ + _)
    if (perCam.values.toSet.size > 1)
      ctx.report.fail(s"$tag: unequal per-camera counts $perCam")
    val pngs = Option(new File(imgDir).listFiles()).map(_.count(_.getName.endsWith(".png"))).getOrElse(0)
    if (pngs != 0) ctx.report.fail(s"$tag: $pngs PNGs from a static scene", pngs)
  }

  private def drain(tag: String): Double = {
    val t0 = System.nanoTime()
    val stream = ctx.spark.readStream.schema("value STRING").text(inputs)
    val results = MotionPipeline.detectBin(MotionPipeline.decodeWire(stream), s"$base/img-$tag")
    MotionPipeline.writeResults(results, s"$base/table-$tag", s"$base/ckpt-$tag")
      .awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  /** `WarmupDrains` warm-up drains, then drains on a fresh table and
    * checkpoint each until `seconds` have passed (at least three). A traced
    * run traces the drains of the second half. Each untraced drain is timed
    * by wall clock and by the CPU time of this process.
    */
  def run(seconds: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // the keyed shuffle places each camera by the hash of its name
    ctx.report.note("camera_partitions", scene.cams.toDS()
      .select(concat_ws("=", col("value"), pmod(hash(col("value")), lit(ctx.cores))))
      .as[String].collect().mkString(" "))
    // a count rather than a time, so that a run on a busy host is as warm as
    // one on an idle host
    val (_, warmS) = ctx.timed("warmup", "session") {
      (0 until WarmupDrains).foreach { k =>
        drain(s"warm$k")
        Seq("table", "ckpt", "img").foreach(d => Util.delete(new File(base, s"$d-warm$k")))
      }
    }
    ctx.report.put("session.warmup_s", warmS, "s")

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val progress = new ProgressLog
    var tally: SparkTally = null
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (walls.size < 3 || elapsed < seconds || (ctx.trace && tracedWalls.size < 2)) {
      val traced = ctx.trace && walls.size >= 3 && elapsed >= seconds / 2.0
      if (traced && tally == null) {
        tally = SparkLayer.attach(spark)
        spark.streams.addListener(progress)
      }
      val tag = s"r$i"
      val startMs = Clock.nowMs
      val cpu0 = Host.processCpuSec()
      val wall = drain(tag)
      val cpu = Host.processCpuSec() - cpu0
      if (traced) {
        tracedWalls += wall
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        ctx.traceQuery(s"drain-$tag", startMs, Clock.nowMs,
          progress.all.filter(_.startMs >= startMs - 1), tally)
      } else { walls += wall; cpus += cpu }
      ctx.report.attempted += n
      check(tag, s"$base/table-$tag", s"$base/img-$tag")
      if (traced) ctx.outputStats(s"$base/table-$tag", 1)
      Seq("table", "ckpt", "img").foreach(d => Util.delete(new File(base, s"$d-$tag")))
      i += 1
    }
    val fps = walls.map(n / _).toSeq
    // CPU time varies by a tenth from drain to drain, with the JIT compiling
    // each new query's classes: all timed drains count, not the median one
    ctx.report.put("cpu_ms_per_item", cpus.sum * 1000 / (n * cpus.size), "ms")
    ctx.report.put("frames_per_s", Util.median(fps), "1/s")
    ctx.report.put("drain_p50_ms", Util.median(walls.toSeq) * 1000, "ms")
    ctx.report.note("backlog", f"${walls.size} drains of $n frames, fps " +
      fps.map(f => f"$f%.1f").mkString(" ") + ", cpu_s " + cpus.map(c => f"$c%.2f").mkString(" "))
    if (ctx.trace) {
      ctx.report.put("trace.overhead_ratio", Util.median(tracedWalls.toSeq) / Util.median(walls.toSeq), "ratio")
      ctx.batchMetrics(progress.all)
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(tally)
      ctx.report.putAll(SparkLayer.metrics(tally.snapshot(), tracedWalls.sum, ctx.cores))
      layerProbes()
    }
  }

  // ------------------------------------------------------------ layer probes

  /** Traced runs only: time the `decode`, `kernels` and `png` layers from
    * outside, by calling their public functions directly.
    */
  private def layerProbes(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.tracer.span("probe.decode", "probe") { _ =>
      val raw = spark.read.text(inputs).toDF("value")
      val in = raw.count()
      val t0 = System.nanoTime()
      val out = MotionPipeline.decodeWire(raw).map(_.px.length.toLong).reduce(_ + _) / frameBytes
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.report.put("decode.ms_per_frame", ms / in, "ms")
      ctx.report.put("decode.frames_in", in.toDouble, "count")
      ctx.report.put("decode.frames_out", out.toDouble, "count")
      ctx.report.put("decode.dropped", (in - out).toDouble, "count")
    }
    ctx.tracer.span("probe.kernels", "probe") { _ =>
      val a = Scene.pixels(scene, 0, 0, moving = true)
      val b = Scene.pixels(scene, 0, 1, moving = true)
      val gray = new Array[Byte](Rows * Cols)
      val tmp = new Array[Int](Rows * Cols)
      val blurA, blurB, bin = new Array[Byte](Rows * Cols)
      val labels = new Array[Boolean](Rows * Cols)
      val stack = new java.util.ArrayDeque[Int]()
      Kernels.grayscaleInto(a, Rows, Cols, Channels, gray)
      Kernels.gaussianBlur3x3Into(gray, Rows, Cols, tmp, blurA)
      val iters = 200
      val t = Array.fill(4)(0L)
      (0 until 2 * iters).foreach { i =>
        val t0 = System.nanoTime()
        Kernels.grayscaleInto(if (i % 2 == 0) b else a, Rows, Cols, Channels, gray)
        val t1 = System.nanoTime()
        Kernels.gaussianBlur3x3Into(gray, Rows, Cols, tmp, blurB)
        val t2 = System.nanoTime()
        Kernels.absDiffThresholdInto(blurA, blurB, 20, bin)
        val t3 = System.nanoTime()
        Kernels.boundingBoxesReuse(bin, Rows, Cols, 300, labels, stack)
        val t4 = System.nanoTime()
        if (i >= iters) { t(0) += t1 - t0; t(1) += t2 - t1; t(2) += t3 - t2; t(3) += t4 - t3 }
      }
      Seq("grayscale", "blur", "absdiff_threshold", "components").zip(t).foreach { case (k, ns) =>
        ctx.report.put(s"kernels.${k}_us", ns / 1000.0 / iters, "us")
      }
    }
    ctx.tracer.span("probe.png", "probe") { _ =>
      val dir = s"${ctx.work}/png-probe"
      val px = Scene.pixels(scene, 0, 1, moving = true)
      val iters = 20
      (0 until 5).foreach(i => Png.saveFrame(px, Rows, Cols, Channels, "probe", i, dir))
      val t0 = System.nanoTime()
      (0 until iters).foreach(i => Png.saveFrame(px, Rows, Cols, Channels, "probe", 100 + i, dir))
      ctx.report.put("png.save_ms_per_frame", (System.nanoTime() - t0) / 1e6 / iters, "ms")
      Util.delete(new File(dir))
    }
  }
}
