package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{NioRawLocalFileSystem, SparkSpec}

/** The live path's per-batch costs: the checkpoint commit starts no
  * process, and [[Sources.serveUpserted]] keeps its served view as a
  * driver-held snapshot (no job beyond the batch's own, no pinned
  * blocks) with the same upsert contract. */
class LivePathSpec extends SparkSpec {
  import StreamOps._

  test("a stateful query's checkpoint commit starts no readlink or chmod process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRawFileSystem
      .isInstanceOf[NioRawLocalFileSystem])
    val ck = Files.createTempDirectory("graft-commit-ck").toString
    val in = MemoryStream[Event]
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val dump = Files.createTempFile("graft-commit", ".jfr")
    try {
      val q = latestPerKey(in.toDS()).toDF().writeStream.format("noop")
        .outputMode("update").option("checkpointLocation", ck).start()
      try (0 until 3).foreach { b =>
        in.addData((0 until 20).map(i =>
          Event(b * 20L + i, new Timestamp(1000L * (b * 20 + i)), i % 7L, "play", i.toDouble)))
        q.processAllAvailable()
      } finally quiesceAndStop(q)
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      rec.stop()
      rec.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forbidden = commands.filter(c => c.startsWith("readlink") || c.startsWith("chmod"))
      assert(forbidden.isEmpty, s"${forbidden.size} processes, e.g. ${forbidden.take(3)}")
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("setPermission sets the same POSIX bits in-process as Hadoop's chmod") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("graft-perm")
    def bits(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for (mode <- Seq("644", "700", "755"); isDir <- Seq(false, true)) {
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = dir.resolve(s"$side-$mode-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("r--------"))
        p
      }
      val perm = new FsPermission(mode)
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(bits(b) === bits(a), s"mode $mode, directory $isDir")
      assert(bits(b) === perm.toString)
    }
  }

  test("serveUpserted: a NULL key is one key, an unserved key's tombstone and a " +
      "batch that emits nothing leave the view as it is") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Option[String], Int, Boolean)]
    val df = in.toDF().toDF("k", "v", "dead").where(col("v") >= 0)
    val q = Sources.serveUpserted(df, "upsert_degenerate", Seq("k"),
      isTombstone = Some(col("dead"))).start()
    def view: Seq[(Option[String], Int)] = spark.table("global_temp.upsert_degenerate")
      .collect().map(r => (Option(r.getString(0)), r.getInt(1))).toSeq.sorted
    def batch(rows: (Option[String], Int, Boolean)*): Unit = {
      in.addData(rows); q.processAllAvailable()
    }
    try {
      batch((None, 1, false), (None, 2, false), (Some("a"), 1, false))
      assert(view === Seq((None, 1), (None, 2), (Some("a"), 1)))
      // the NULL key's latest emission replaces both of its old rows
      batch((None, 3, false))
      assert(view === Seq((None, 3), (Some("a"), 1)))
      batch((Some("ghost"), 0, true))
      assert(view === Seq((None, 3), (Some("a"), 1)))
      // rows arrive, but the filter leaves the batch with no emission
      batch((Some("a"), -1, false), (None, -1, false))
      assert(q.lastProgress.numInputRows === 2)
      assert(view === Seq((None, 3), (Some("a"), 1)))
      // a NULL key's tombstone ends its presence like any key's
      batch((None, 0, true))
      assert(view === Seq((Some("a"), 1)))
    } finally quiesceAndStop(q)
  }

  test("serveUpserted: a binary key compares by content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Array[Byte], Int)]
    val q = Sources.serveUpserted(in.toDF().toDF("k", "v"), "upsert_binary", Seq("k")).start()
    try {
      in.addData(("ab".getBytes, 1)); q.processAllAvailable()
      in.addData(("ab".getBytes, 2)); q.processAllAvailable()
      assert(spark.table("global_temp.upsert_binary").select("v").as[Int].collect().toSeq === Seq(2))
    } finally quiesceAndStop(q)
  }

  test("serveUpserted pins no blocks and runs one job per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long)]
    val q = Sources.serveUpserted(in.toDF().toDF("k", "v"), "upsert_pins", Seq("k")).start()
    try {
      in.addData((0L, 0L)); q.processAllAvailable()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val jobs = jobsRunBy {
        (1 to 5).foreach { b =>
          in.addData((0L until 50L).map(k => (k, b.toLong))); q.processAllAvailable()
        }
      }
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.isEmpty, s"pinned RDDs ${pinned.toSeq.sorted}")
      assert(jobs === 5)
      assert(spark.table("global_temp.upsert_pins").where(col("v") === 5).count() === 50)
    } finally quiesceAndStop(q)
  }

  test("serveUpserted: a query restarted in the same process continues from the served view") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val first = MemoryStream[(String, Int)]
    val q1 = Sources.serveUpserted(first.toDF().toDF("k", "v"), "upsert_restart", Seq("k")).start()
    try { first.addData(("a", 1), ("b", 1)); q1.processAllAvailable() }
    finally quiesceAndStop(q1)
    val second = MemoryStream[(String, Int)]
    val q2 = Sources.serveUpserted(second.toDF().toDF("k", "v"), "upsert_restart", Seq("k")).start()
    try {
      second.addData(("b", 2)); q2.processAllAvailable()
      assert(spark.table("global_temp.upsert_restart").as[(String, Int)].collect().sorted.toSeq
        === Seq(("a", 1), ("b", 2)))
    } finally quiesceAndStop(q2)
  }
}
