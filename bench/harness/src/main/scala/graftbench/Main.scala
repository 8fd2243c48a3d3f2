package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark entry point. The launcher (`bench/run.py`) starts one JVM per
  * run with
  * {{{
  *   --workload <catalog-floor|iq-live> --seed <n>
  *   --seconds <s> --trace <0|1> --out <dir> --testdata <dir> --work <dir>
  *   --goldens <dir>
  * }}}
  * and reads `<out>/result.json`. Two preparation modes serve the
  * launcher and the golden recording:
  * {{{
  *   prepare <workDir> <testdata>  write iq-live's hot store
  *   dump <corpusDir> <outDir>     write outputs, digests and oracle SQL
  * }}}
  */
object Main {

  /** `catalog-floor`: a fixed spread of the catalog, one query from each
    * family (stateless, latest-per-key, aggregation, join, dedup, vector,
    * text, composite), all small enough that the passes fit one run. */
  val FloorQueries: Seq[String] = Seq("o1_map_values", "s2_latest_per_key",
    "a6_custom_agg", "j6_windowed_outer", "d3_minhash_sig", "s4_native_cosine",
    "t26_pii_scrub", "c6_prep_chunked")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: Path, testdata: String, work: String, goldens: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    /** Prepared once per checkout by `prepare`. */
    def hotStore: String = s"$work/hotstore"
    def hotKeys: String = s"$work/hotstore.keys"
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("out")), need("testdata"), need("work"), Paths.get(need("goldens")))
  }

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("prepare") => prepare(argv(1), argv(2))
    case Some("dump") => dump(argv(1), argv(2), FloorQueries)
    case _ =>
      val a = parse(argv)
      Files.createDirectories(a.out)
      val loadStart = Report.loadavg()
      val cpuStart = Report.cpuTimes()
      val r = a.workload match {
        case "catalog-floor" =>
          CatalogRun(a, FloorQueries, s"${a.testdata}/sf0.001",
            Report.goldens(a.goldens.resolve("sf0.001.json")))
        case "iq-live" => IqLive(a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.notes("loadavg_start") = loadStart
      r.notes("loadavg_end") = Report.loadavg()
      r.notes("steal_frac") = Report.stealFrac(cpuStart, Report.cpuTimes())
      r.write(a.out)
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
      // a lingering non-daemon thread must not hold the run open
      System.exit(0)
  }

  /** Writes iq-live's hot store (`hotstore/`) and its sorted keys
    * (`hotstore.keys`) under `workDir`. */
  def prepare(workDir: String, testdata: String): Unit = {
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    IqLive.hotStore(spark, s"$testdata/sf0.01", s"$workDir/hotstore")
    Files.write(Paths.get(s"$workDir/hotstore.keys"), spark.read.parquet(s"$workDir/hotstore")
      .select("l_orderkey").collect().map(_.getLong(0)).sorted.map(_.toString).toSeq.asJava)
    spark.stop()
    System.exit(0)
  }

  /** Golden recording: each query's output as parquet (for the DuckDB
    * oracle), its digest, and the oracle SQL, as `graft.Verify` writes them. */
  def dump(corpus: String, outDir: String, names: Seq[String]): Unit = {
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(Paths.get(outDir))
    val digests = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      SparkEntry.queries(n)(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      Catalog.digestOf(spark, n, corpus).foreach(d => digests(n) = d)
    }
    Files.writeString(Paths.get(outDir, "digests.json"),
      digests.map { case (k, v) => s""""$k":"$v"""" }.mkString("{\n", ",\n", "\n}\n"))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => Report.jsonStr(k) + ":" + Report.jsonStr(v) }.mkString("{", ",", "}"))
    spark.stop()
    System.exit(0)
  }
}
