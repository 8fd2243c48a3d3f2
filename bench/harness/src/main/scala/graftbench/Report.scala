package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One run's outcome: the metrics the launcher prints, the operation
  * counts, and notes and detail files for a human reader. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val details = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = { failed += 1; if (failures.size < 50) failures += what }
  def detail(file: String, body: String): Unit = details(file) = body

  def write(dir: Path): Unit = {
    details.foreach { case (f, b) => Files.writeString(dir.resolve(f), b) }
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, v) => s"${Report.jsonStr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val ns = notes.map { case (k, v) =>
      val js = v match {
        case d: Double => num(d)
        case n: Number => n.toString
        case b: Boolean => b.toString
        case s => Report.jsonStr(String.valueOf(s))
      }
      s"${Report.jsonStr(k)}:$js"
    }.mkString("{", ",", "}")
    val fs = failures.map(Report.jsonStr).mkString("[", ",", "]")
    Files.writeString(dir.resolve("result.json"),
      s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"notes":$ns,"failures":$fs}""" + "\n")
  }
}

object Report {
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def loadavg(): String =
    try Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  /** The host's CPU time counters (`/proc/stat`: user through steal). */
  def cpuTimes(): Seq[Long] =
    try Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong).toSeq
    catch { case _: Throwable => Nil }

  /** Share of the CPU time between two `cpuTimes` readings that the
    * hypervisor gave to other guests (steal): how loaded the host was. */
  def stealFrac(from: Seq[Long], to: Seq[Long]): Double =
    if (from.size < 8 || to.size < 8) Double.NaN
    else (to(7) - from(7)).toDouble / math.max(1L, to.sum - from.sum)

  /** Peak resident set size of this process, MB (`VmHWM`). */
  def rssPeakMb(): Double =
    try {
      val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  /** `{"name": "digest", ...}` as written by `bench/goldens.py`. */
  def goldens(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Milliseconds since the JVM started. */
  def sinceJvmStartMs(): Double =
    Clock.nowMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
