package graftbench

import java.nio.ByteBuffer
import java.security.MessageDigest

/** The benchmark's own arithmetic: pure functions over recorded samples,
  * kept apart from Spark so StatsSpec can pin them on synthetic inputs. */
object Stats {

  /** Smallest sample that leaves ten samples beyond quantile `q`: p50
    * needs 20, p90 100, p95 200, p99 1000. With fewer, the quantile
    * rests on a handful of extreme samples, so it is reported as missing. */
  def minSamples(q: Double): Int = math.ceil(10.0 / (1.0 - q) - 1e-9).toInt

  /** Quantile `q` by linear interpolation between order statistics at
    * position (n - 1) q (numpy's default), or None below [[minSamples]]. */
  def quantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size < minSamples(q)) None
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (h - lo) * (s(hi) - s(lo)))
    }

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** CPU nanoseconds used between two per-thread readings (thread id to
    * cumulative CPU). A thread absent from `before` started in between
    * and counts in full; a thread absent from `after` ended in between and
    * its share is lost, so a thread that ended never makes the sum smaller. */
  def cpuDelta(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, t) => math.max(0L, t - before.getOrElse(id, 0L)) }.sum

  // ---- intervals and span self time ----------------------------------

  /** Total length covered by the union of `[start, end)` intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part its children cover,
    * children clipped to the parent and overlaps counted once. */
  def selfTime(parent: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }

  // ---- open-loop arrivals --------------------------------------------

  /** How late each send was against its due time (never negative). */
  def lateness(due: Seq[Double], sent: Seq[Double]): Seq[Double] = {
    require(due.size == sent.size, "one send per due time")
    due.zip(sent).map { case (d, s) => math.max(0.0, s - d) }
  }

  // ---- freshness -----------------------------------------------------

  /** A finished micro-batch: its end offsets (exclusive, per partition)
    * and the wall time it ended at. */
  case class BatchEnd(endOffsets: Map[Int, Long], endMs: Double)

  /** End time of the first batch whose end offset on partition `p` covers
    * `offset`, or None when no recorded batch reached it. `batches` are
    * in batch order, so end offsets never decrease. */
  def coveringBatchEnd(batches: IndexedSeq[BatchEnd], p: Int, offset: Long): Option[Double] = {
    var lo = 0
    var hi = batches.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (batches(mid).endOffsets.getOrElse(p, 0L) > offset) hi = mid else lo = mid + 1
    }
    if (lo < batches.size) Some(batches(lo).endMs) else None
  }

  /** Freshness of one append: partition offset ranges `[start, end)` all
    * due at `dueMs`. Each record gets the end of the batch that covers it
    * minus the due time; records no batch covered are returned apart. */
  def freshness(batches: IndexedSeq[BatchEnd], ranges: Seq[(Int, Long, Long)],
      dueMs: Double): (Seq[Double], Long) = {
    val out = Seq.newBuilder[Double]
    var uncovered = 0L
    ranges.foreach { case (p, s, e) =>
      var o = s
      while (o < e) {
        coveringBatchEnd(batches, p, o) match {
          case Some(end) => out += end - dueMs
          case None => uncovered += 1
        }
        o += 1
      }
    }
    (out.result(), uncovered)
  }

  // ---- output digest -------------------------------------------------

  /** Canonical text of one cell. Floating point keeps 9 significant
    * digits (the oracle's tolerance is 1e-9 relative), so reduction order
    * inside Spark cannot change the digest. */
  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros().toPlainString
    case t: java.sql.Timestamp =>
      "ts" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros().toString

  /** 64-bit hash of one row, its cells already in canonical column order. */
  def rowHash(cells: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val bytes = md.digest(cells.map(render).mkString("\u0001").getBytes("UTF-8"))
    ByteBuffer.wrap(bytes, 0, 8).getLong
  }

  /** Order-independent digest of a multiset of row hashes: row count and
    * the wrapping sum of the hashes. */
  def digest(count: Long, hashSum: Long): String = f"$count%d-$hashSum%016x"

  def digestRows(rows: Seq[Seq[Any]]): String =
    digest(rows.size.toLong, rows.map(rowHash).sum)
}
