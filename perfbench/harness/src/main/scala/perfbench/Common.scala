package perfbench

import java.io.File
import java.nio.file.{Files, Path}

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Host state recorded beside every run. */
object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A fixed single-threaded CPU loop of chained SHA-256 (the repository's
    * bench canary loop). Timed before and after a run, it marks runs that
    * shared the machine's cores with other load; no metric is scaled by it.
    */
  def canarySec(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var buf = new Array[Byte](64)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 6000000) { buf = md.digest(buf); i += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    if (java.util.Arrays.hashCode(buf) == 42) System.err.print("")
    secs
  }

  /** The machine's CPU time counters (the `cpu` line of `/proc/stat`, in
    * clock ticks); the eighth is time stolen by the hypervisor.
    */
  def cpuTicks(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong)
    finally src.close()
  }

  /** CPU time of this process, all threads, in seconds. */
  def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Collects one run's metrics and writes them for the runner. */
final class Report {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ListBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def putAll(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (n, v, u) => put(n, v, u) }
  def get(name: String): Option[Double] = metrics.get(name).map(_._1)
  def note(k: String, v: String): Unit = notes(k) = v
  def fail(what: String, n: Long = 1): Unit = { failed += n; failures += what }

  def write(path: Path): Unit = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val ns = notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val fs = failures.take(50).map(Json.str).mkString("[", ",", "]")
    Files.writeString(path,
      s"""{"attempted":$attempted,"failed":$failed,"failures":$fs,"notes":$ns,"metrics":$ms}""")
  }
}

object Util {
  def listRec(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).map(_.toSeq.flatMap(listRec)).getOrElse(Nil)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
