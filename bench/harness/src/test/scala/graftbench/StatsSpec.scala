package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's arithmetic on synthetic inputs. */
class StatsSpec extends AnyFunSuite {

  test("a quantile needs ten samples beyond it, else it is missing") {
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.95) == 200)
    assert(Stats.minSamples(0.99) == 1000)
    assert(Stats.quantile(Seq(1.0), 0.5).isEmpty)
    assert(Stats.quantile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.quantile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.quantile((1 to 999).map(_.toDouble), 0.99).isEmpty)
  }

  test("quantiles interpolate between order statistics at (n - 1) q") {
    def near(a: Option[Double], b: Double) = a.exists(x => math.abs(x - b) < 1e-9)
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    assert(near(Stats.quantile(xs, 0.5), 50.5))
    assert(near(Stats.quantile(xs, 0.9), 90.1))
    assert(near(Stats.quantile((1 to 1000).map(_.toDouble), 0.99), 990.01))
    assert(near(Stats.quantile((1 to 20).map(_.toDouble), 0.5), 10.5))
    assert(near(Stats.quantile(Seq.fill(20)(7.0), 0.5), 7.0))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("span self time subtracts the union of clipped children") {
    assert(Stats.selfTime((0, 100), Nil) == 100)
    assert(Stats.selfTime((0, 100), Seq((10, 20), (30, 50))) == 70)
    // overlapping children count once
    assert(Stats.selfTime((0, 100), Seq((10, 40), (30, 50))) == 60)
    // children are clipped to the parent
    assert(Stats.selfTime((0, 100), Seq((-10, 10), (90, 120))) == 80)
    assert(Stats.selfTime((0, 100), Seq((0, 100), (20, 30))) == 0)
    assert(Stats.unionLength(Seq((5, 5), (1, 2))) == 1)
  }

  test("open-loop lateness is the send time past the due time, never negative") {
    assert(Stats.lateness(Seq(0, 10, 20), Seq(0, 15, 19)) == Seq(0, 5, 0))
    assertThrows[IllegalArgumentException](Stats.lateness(Seq(0), Nil))
  }

  test("freshness maps each offset to the first batch whose end offset covers it") {
    val batches = IndexedSeq(
      Stats.BatchEnd(Map(0 -> 10L, 1 -> 5L), 1000),
      Stats.BatchEnd(Map(0 -> 10L, 1 -> 5L), 1500), // no new data
      Stats.BatchEnd(Map(0 -> 12L, 1 -> 9L), 2000))
    // end offsets are exclusive: offset 9 is in the first batch, 10 in the third
    assert(Stats.coveringBatchEnd(batches, 0, 9).contains(1000.0))
    assert(Stats.coveringBatchEnd(batches, 0, 10).contains(2000.0))
    assert(Stats.coveringBatchEnd(batches, 1, 8).contains(2000.0))
    assert(Stats.coveringBatchEnd(batches, 0, 12).isEmpty)
    // a partition no batch has read yet
    assert(Stats.coveringBatchEnd(batches, 2, 0).isEmpty)
    val (fresh, uncovered) = Stats.freshness(batches, Seq((0, 9L, 13L), (1, 4L, 6L)), 900)
    assert(fresh.sorted == Seq(100.0, 100.0, 1100.0, 1100.0, 1100.0))
    assert(uncovered == 1)
  }

  test("the digest ignores row and column order and reduction-order noise") {
    val a = Seq(Seq[Any](1L, "x", 0.1 + 0.2), Seq[Any](2L, null, 1.5))
    val d = Stats.digestRows(a)
    assert(d.startsWith("2-"))
    assert(Stats.digestRows(a.reverse) == d)
    assert(Stats.digestRows(Seq(Seq[Any](1L, "x", 0.3), Seq[Any](2L, null, 1.5))) == d)
    assert(Stats.digestRows(Seq(Seq[Any](1L, "x", 0.31), Seq[Any](2L, null, 1.5))) != d)
    assert(Stats.digestRows(Seq(Seq[Any](1L, "y", 0.3), Seq[Any](2L, null, 1.5))) != d)
    // a duplicated row changes the multiset
    assert(Stats.digestRows(a :+ a.head) != d)
    // null is not the string "null"
    assert(Stats.rowHash(Seq(null)) != Stats.rowHash(Seq("null")))
    // cell boundaries matter
    assert(Stats.rowHash(Seq("ab", "c")) != Stats.rowHash(Seq("a", "bc")))
    assert(Stats.render(-0.0) == Stats.render(0.0))
    assert(Stats.render(Seq(1, 2)) == "[1,2]")
    assert(Stats.render(Map("b" -> 1, "a" -> 2)) == Stats.render(Map("a" -> 2, "b" -> 1)))
  }

  test("CPU between two thread readings counts new threads in full and ended ones not at all") {
    val before = Map(1L -> 100L, 2L -> 50L, 3L -> 500L)
    // thread 3 ended, thread 4 started
    val after = Map(1L -> 160L, 2L -> 50L, 4L -> 30L)
    assert(Stats.cpuDelta(before, after) == 60 + 0 + 30)
    assert(Stats.cpuDelta(Map.empty, after) == 240)
    // an id reused by a new thread with less CPU never counts negative
    assert(Stats.cpuDelta(Map(5L -> 90L), Map(5L -> 10L)) == 0)
  }

  test("the executor-side digest matches digestRows with columns in name order") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = Seq((1L, "x", 0.5), (2L, "y", 1.5), (3L, null, 2.5)).toDF("c", "a", "b").repartition(2)
      val expected = Stats.digestRows(Seq(Seq[Any]("x", 0.5, 1L), Seq[Any]("y", 1.5, 2L),
        Seq[Any](null, 2.5, 3L)))
      assert(Catalog.outputDigest(df) == expected)
      assert(Catalog.outputDigest(df.select("b", "c", "a")) == expected)
    } finally spark.stop()
  }
}
