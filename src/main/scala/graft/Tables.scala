package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.{Artifacts, Prepared}

/** Loaders for the driver-generated parquet star schema (TESTDATA.md).
  *
  * Columns are selected explicitly so Catalyst can prune the parquet scan
  * to exactly what each query touches; callers should still `.select` the
  * columns they need as early as possible.
  *
  * Each table path is resolved once. The first load lists the table's
  * files, infers its Parquet schema (one Spark job over the footers),
  * sums the row counts in its footers and builds the table's
  * `HadoopFsRelation` (its file index, listed once, and that schema).
  * Every later load is `baseRelationToDataFrame` of that relation: it
  * runs no data source resolution, lists no file, reads no footer and
  * starts no job. The resolution is kept with the table's file inventory
  * (name, length and modification time of each file, as
  * [[Artifacts.fingerprint]] folds them); a load whose inventory
  * differs, because the table was rewritten or a part file was
  * appended, resolves it again, and a load in another session builds
  * the relation again (a relation belongs to its session). The store
  * holds one entry per path and no data (a relation holds its file
  * listing and its session, until the path loads in another session),
  * so it is kept apart from the per-dir [[ops.Memo]] frame and
  * survives a dir switch. Every call
  * returns a fresh `Dataset` with its own attribute ids, so a table
  * joined with itself resolves as two relations. Schemas are inferred
  * under the [[GraftSession.create]] contract, whose
  * `spark.sql.legacy.parquet.nanosAsLong` decides how `events.ts` reads.
  *
  * The fact tables (orders, lineitem, events, documents, embeddings)
  * are partitioned by their row count:
  *  - fewer than [[FanOutMinRows]] rows: one partition (`coalesce(1)`,
  *    however many files). The plan reports `SinglePartition`, which
  *    satisfies every distribution, so a groupBy, window or join over
  *    the table plans no exchange: the query runs as one job, with no
  *    shuffle stage and no AQE re-plan. (`CoalesceExec` ends its
  *    whole-stage codegen stage, a few milliseconds at these sizes.)
  *  - at least [[FanOutMinRows]] rows in fewer files than
  *    `defaultParallelism`: hash-partitioned on the primary key into
  *    `defaultParallelism` partitions. The generated testdata files are
  *    single-row-group, so Spark scans each as one split, which would
  *    run every CPU-heavy per-row pipeline (tokenize, shingle, hash,
  *    cosine) on one core.
  *  - otherwise as read.
  * Below the threshold the shuffle's extra stage, job and AQE re-plan
  * cost more than the parallel work saves. The rule reads only the
  * resolution (file count and footer row count), so a table rewritten
  * across the threshold is decided again.
  *
  * The partitioning hashes a unique key rather than round-robin: a
  * keyless `repartition(n)` sorts its whole input first so that retried
  * tasks place rows alike (SPARK-23207), and on a single-split scan that
  * sort runs on one core. A hash of a deterministic key places each row
  * by its value alone, and later operations on the same key reuse the
  * exchange.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    =
    fanOut(s, s"$dir/orders.parquet", Seq("o_orderkey"))
  def lineitem(s: SparkSession, dir: String): DataFrame  =
    fanOut(s, s"$dir/lineitem.parquet", Seq("l_orderkey", "l_linenumber"))
  /** events.ts has shipped as either TIMESTAMP(MICROS) (readable directly)
    * or INT64 TIMESTAMP(NANOS), which the session reads as a long; in the
    * nanos generation, truncate it to micros (exactly what DuckDB does
    * natively, so the oracle sees identical values). Integer `div` keeps
    * full precision — a double division would corrupt 2024-epoch nanos
    * (≈1.7e18 > 2^53). The branch is taken on the resolved schema. */
  def events(s: SparkSession, dir: String): DataFrame =
    fanOut(s, s"$dir/events.parquet", Seq("event_id"), raw =>
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw // already TIMESTAMP(MICROS)
      })
  def documents(s: SparkSession, dir: String): DataFrame =
    fanOut(s, s"$dir/documents.parquet", Seq("doc_id"))
  def embeddings(s: SparkSession, dir: String): DataFrame =
    fanOut(s, s"$dir/embeddings.parquet", Seq("vec_id"))

  /** What a load knows of a table: the file inventory it was resolved
    * from, the schema, data file count and footer row count read from
    * that inventory, and the relation those resolve to (its session, its
    * file index over that inventory, the schema). */
  private case class Resolved(inventory: String, schema: StructType, files: Int, rows: Long,
      relation: HadoopFsRelation)

  /** Table path -> its resolution. */
  private val resolved = new ConcurrentHashMap[String, Resolved]

  private def load(s: SparkSession, path: String): DataFrame =
    s.baseRelationToDataFrame(resolve(s, path).relation)

  /** The table's resolution, made again only when its inventory moved;
    * its relation is built again also for another session. Two racing
    * first loads may both resolve; they store equivalent entries. A data file
    * is one Spark reads: no name segment starts with `_` or `.` (so
    * `_SUCCESS` and `.crc` sidecars are not counted). */
  private def resolve(s: SparkSession, path: String): Resolved = {
    val files = Artifacts.inventory(s, path)
    val inventory = Artifacts.fingerprintOf(files)
    Prepared.resolved(path, inventory)
    Option(resolved.get(path)).filter(_.inventory == inventory) match {
      case Some(r) if r.relation.sparkSession eq s => r
      case known =>
        val (schema, count, rows) = known.fold {
          val data = files.getOrElse(Nil).collect {
            case (name, f) if name.split('/').forall(n => !n.startsWith("_") && !n.startsWith(".")) =>
              f.getPath
          }
          (s.read.parquet(path).schema, data.size, footerRows(s, data))
        }(r => (r.schema, r.files, r.rows))
        val r = Resolved(inventory, schema, count, rows, relationOf(s, path, schema))
        resolved.put(path, r)
        r
    }
  }

  /** The file relation a read of `path` with `schema` resolves to. */
  private def relationOf(s: SparkSession, path: String, schema: StructType): HadoopFsRelation =
    s.read.schema(schema).parquet(path).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r }
      .getOrElse(throw new IllegalStateException(s"$path does not read as a file relation"))

  /** Fewest rows at which a single-split table is hash-partitioned.
    *
    * Measured on 4 cores with `graft.Bench` (best of 5 reps, best of 3
    * runs) on samples cut from sf0.1: the first N rows of `documents`
    * and `embeddings` (embeddings past its 2,000 rows extended with
    * negated and reversed copies under new ids), every other table as
    * at sf0.1. Milliseconds with / without the fan-out:
    *
    * {{{
    * rows   d3_minhash_sig  t26_pii_scrub  c6_prep_chunked  s4_native_cosine  sum
    * 1,000  125 / 160       124 / 111      128 / 114        102 /  84         479 /   469
    * 1,500  146 / 200       131 / 132      144 / 118         81 /  74         502 /   524
    * 2,000  170 / 240       156 / 157      153 / 131         86 /  89         565 /   617
    * 4,000  207 / 378       216 / 245      174 / 162         93 /  85         690 /   870
    * 5,000  229 / 446       236 / 293      196 / 197         96 /  80         757 / 1,016
    * }}}
    *
    * The four together cross over between 1,000 and 1,500 rows; 1,500
    * is the first measured size at which the fan-out wins. d3 gains from
    * 1,000 rows, t26 from 4,000, c6 only ties at 5,000, and s4 gains
    * nothing beyond run-to-run spread. sf0.001 `events` (1,000 rows), `documents` and `embeddings`
    * (500) are read as they are; sf0.1 `documents` (5,000) and
    * `embeddings` (2,000) still fan out. */
  private[graft] val FanOutMinRows = 1500L

  /** The table at `path`: one partition below [[FanOutMinRows]] rows,
    * hash-partitioned on `keys` from that size when it is in fewer files
    * than `defaultParallelism`; `fix` is applied to the scan first. */
  private def fanOut(s: SparkSession, path: String, keys: Seq[String],
      fix: DataFrame => DataFrame = identity): DataFrame = {
    val t = resolve(s, path)
    val df = fix(s.baseRelationToDataFrame(t.relation))
    val target = s.sparkContext.defaultParallelism
    if (t.rows < FanOutMinRows) df.coalesce(1)
    else if (t.files < target) df.repartition(target, keys.map(col): _*)
    else df
  }

  /** Exact row count of `files` from their Parquet FOOTER metadata: no
    * data scan and no Spark job, since footers already store per-row-group
    * counts. That is how a 100 TB index build should learn n (a `count()`
    * there is a full extra pass over the corpus). */
  private def footerRows(s: SparkSession, files: Seq[Path]): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Row count of the embeddings table, from its resolution. */
  def embeddingsRowCount(s: SparkSession, dir: String): Long =
    resolve(s, s"$dir/embeddings.parquet").rows
}
