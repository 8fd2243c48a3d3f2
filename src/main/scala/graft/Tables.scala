package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.Artifacts

/** Loaders for the driver-generated parquet star schema (TESTDATA.md).
  *
  * Columns are selected explicitly so Catalyst can prune the parquet scan
  * to exactly what each query touches; callers should still `.select` the
  * columns they need as early as possible.
  *
  * Each table path is resolved once: the first load infers its Parquet
  * schema (one Spark job over the footers) and every later load reads
  * with that schema given, so building a query runs no job. The resolved
  * schema is kept with the table's file inventory (name, length and
  * modification time of each file, as [[Artifacts.fingerprint]] folds
  * them); a load whose inventory differs, because the table was
  * rewritten or a part file was appended, resolves it again. The store
  * holds one schema per path and no data, so it is kept apart from the
  * per-dir [[ops.Memo]] frame and survives a dir switch. Every call
  * returns a fresh `Dataset` with its own attribute ids, so a table
  * joined with itself resolves as two relations. Schemas are inferred
  * under the [[GraftSession.create]] contract, whose
  * `spark.sql.legacy.parquet.nanosAsLong` decides how `events.ts` reads.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    =
    fanOut(s, load(s, s"$dir/orders.parquet"), Seq("o_orderkey"))
  def lineitem(s: SparkSession, dir: String): DataFrame  =
    fanOut(s, load(s, s"$dir/lineitem.parquet"), Seq("l_orderkey", "l_linenumber"))
  /** events.ts has shipped as either TIMESTAMP(MICROS) (readable directly)
    * or INT64 TIMESTAMP(NANOS), which the session reads as a long; in the
    * nanos generation, truncate it to micros (exactly what DuckDB does
    * natively, so the oracle sees identical values). Integer `div` keeps
    * full precision — a double division would corrupt 2024-epoch nanos
    * (≈1.7e18 > 2^53). The branch is taken on the resolved schema. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, s"$dir/events.parquet")
    val fixed = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // already TIMESTAMP(MICROS)
    }
    fanOut(s, fixed, Seq("event_id"))
  }
  def documents(s: SparkSession, dir: String): DataFrame =
    fanOut(s, load(s, s"$dir/documents.parquet"), Seq("doc_id"))
  def embeddings(s: SparkSession, dir: String): DataFrame =
    fanOut(s, load(s, s"$dir/embeddings.parquet"), Seq("vec_id"))

  /** Table path -> (file inventory, schema resolved from it). */
  private val resolved = new ConcurrentHashMap[String, (String, StructType)]

  private def load(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemaOf(s, path)).parquet(path)

  /** The table's schema, inferred again only when its inventory moved.
    * Two racing first loads may both infer; they store the same schema. */
  private def schemaOf(s: SparkSession, path: String): StructType = {
    val inventory = Artifacts.fingerprint(s, path)
    Option(resolved.get(path)).collect { case (`inventory`, schema) => schema }
      .getOrElse {
        val schema = s.read.parquet(path).schema
        resolved.put(path, (inventory, schema))
        schema
      }
  }

  /** A table read as fewer files than the cluster's parallelism is
    * hash-partitioned on its primary key into `defaultParallelism`
    * partitions; a table with at least that many files is returned as
    * read.
    *
    * The testdata files are single-row-group, so Spark scans each as one
    * split, which would serialize every CPU-heavy per-row pipeline
    * (tokenize, shingle, hash, cosine) on one core. Production inputs
    * (thousands of files) skip the shuffle. The decision reads the file
    * listing only, no footer and no plan.
    *
    * The partitioning hashes a unique key rather than round-robin: a
    * keyless `repartition(n)` sorts its whole input first so that retried
    * tasks place rows alike (SPARK-23207), and on a single-split scan that
    * sort runs on one core. A hash of a deterministic key places each row
    * by its value alone, and later operations on the same key reuse the
    * exchange. */
  private def fanOut(s: SparkSession, df: DataFrame,
      keys: Seq[String]): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target, keys.map(col): _*)
    else df
  }

  /** Exact table row count from parquet FOOTER metadata — no data scan,
    * no Spark job: footers already store per-row-group counts, which is
    * how a 100 TB index build should learn n (a `count()` action there
    * is a full extra pass over the corpus). Handles both the driver's
    * single-file tables and Spark-written part-file directories. */
  def parquetRowCount(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
      else Array(root)
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def embeddingsRowCount(s: SparkSession, dir: String): Long =
    parquetRowCount(s, s"$dir/embeddings.parquet")
}
