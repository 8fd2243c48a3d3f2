package graft

import graft.ops.{Dedup, Memo, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The session memo's contract: nested builds, one build per key, and
  * checkpoint blocks released on invalidation and on a dir switch. */
class MemoSpec extends SparkSpec {

  private def checkpointIds(dfs: DataFrame*): Set[Int] =
    dfs.flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }).toSet

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a memo build may read another memo; each (dir, tag) builds exactly once") {
    val inner = new Memo.Tag[Int]
    val outer = new Memo.Tag[Int]
    val builds = scala.collection.mutable.Map.empty[(String, String), Int]
    def count(dir: String, tag: String): Unit = builds.synchronized {
      builds((dir, tag)) = builds.getOrElse((dir, tag), 0) + 1
    }
    def innerOf(dir: String): Int = Memo(spark, dir, inner) { count(dir, "inner"); dir.length }
    def outerOf(dir: String): Int =
      Memo(spark, dir, outer) { count(dir, "outer"); innerOf(dir) + 1 }
    // plain names, names holding ':' and suffix-related pairs (b, a:b)
    val dirs = (0 until 100).flatMap(i => Seq(s"d$i", s"t14:d$i", s"d$i:x"))
    assert(dirs.size >= 200)
    dirs.foreach { d =>
      assert(outerOf(d) === d.length + 1)
      assert(innerOf(d) === d.length)
      assert(outerOf(d) === d.length + 1)
      assert(builds((d, "inner")) === 1 && builds((d, "outer")) === 1, d)
    }
    // concurrent first gets on one key still build it once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val gets = (1 to 8).map(_ => pool.submit(() => outerOf("concurrent")))
      assert(gets.map(_.get()).toSet === Set("concurrent".length + 1))
    } finally pool.shutdown()
    assert(builds(("concurrent", "inner")) === 1 && builds(("concurrent", "outer")) === 1)
  }

  test("invalidateLabels releases the label frame's checkpoint blocks") {
    Dedup.invalidateLabels()
    val ids = checkpointIds(Dedup.clusterLabels(spark, sf001))
    assert(ids.nonEmpty && ids.subsetOf(persisted))
    Dedup.invalidateLabels()
    assert((ids & persisted).isEmpty, s"label checkpoints still pinned: ${ids & persisted}")
  }

  test("a dir switch releases pqIndex's checkpoint blocks") {
    val idx = Similarity.pqIndex(spark, sf001)
    val ids = checkpointIds(idx.sub, idx.codebook, idx.codes)
    assert(ids.nonEmpty && ids.subsetOf(persisted))
    Memo(spark, sf001 + "-elsewhere", new Memo.Tag[Int])(0)
    assert((ids & persisted).isEmpty, s"PQ checkpoints still pinned: ${ids & persisted}")
  }

  test("invalidate keeps the blocks a remaining entry's plan reads") {
    val base = new Memo.Tag[DataFrame]
    val evens = new Memo.Tag[DataFrame]
    val dir = "memo-spec-sibling"
    def baseOf = Memo(spark, dir, base)(spark.range(100).toDF("id").localCheckpoint())
    val b = baseOf
    val e = Memo(spark, dir, evens)(baseOf.filter(col("id") % 2 === 0))
    val ids = checkpointIds(b)
    Memo.invalidate(base)
    assert(ids.subsetOf(persisted), "a live entry still reads these blocks")
    assert(e.count() === 50)
    Memo.invalidate(evens)
    assert((ids & persisted).isEmpty, s"orphaned checkpoints still pinned: ${ids & persisted}")
  }

  test("IVF builds release their own checkpoints: clusteredness and ivfPqIndexOf " +
      "pin nothing once their memos are invalidated") {
    val artifacts = spark.conf.get("spark.graft.artifacts.enabled", "false")
    spark.conf.set("spark.graft.artifacts.enabled", "false") // build, never read
    try {
      Memo(spark, sf001, new Memo.Tag[Int])(0) // sf001 is the current frame
      Similarity.invalidateIvfPqIndex()
      Similarity.invalidatePqIndex()
      val before = persisted
      Similarity.clusteredness(spark, sf001)
      Similarity.ivfPqIndexOf(spark, sf001)
      Similarity.invalidateIvfPqIndex()
      Similarity.invalidatePqIndex()
      val pinned = persisted -- before
      assert(pinned.isEmpty, s"IVF build checkpoints still pinned: $pinned")
    } finally spark.conf.set("spark.graft.artifacts.enabled", artifacts)
  }
}
