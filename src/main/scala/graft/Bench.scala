package graft
import org.apache.spark.sql.functions._

object Bench {
  /** 1-minute load average — recorded in the output so a reader can tell a
    * regression from box contention (runs on this host vary up to 2× with
    * load; see BASELINE.md). */
  private def load1: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    val loadStart = load1
    // JVM/session warmup: touch every table once so no measured query pays
    // first-use costs (parquet footer reads, codegen compiler init).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
          else spark.read.parquet(s"$sfDir/$t.parquet")
        df.count()
      } catch { case _: Throwable => () }
    }
    // Codegen/runtime warmup on a 5-row table: compile the join / agg /
    // window / explode shapes and touch the shuffle + localCheckpoint
    // machinery once, so the first measured query (map order put t10
    // first, which previously absorbed ~5 s of cold start) pays none of it.
    try {
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val ck = r.select(col("r_regionkey"),
          explode(split(col("r_comment"), " ")).as("w"))
        .groupBy(col("r_regionkey"), col("w")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      ck.join(broadcast(ck.groupBy(col("w")).agg(count(lit(1)).as("m"))), Seq("w"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("r_regionkey")).orderBy(col("n").desc, col("w"))))
        .filter(col("rn") === 1)
        .queryExecution.toRdd.count()
      // JIT/codegen warmup of the heavy expression families on BOUNDED
      // slices (limit 500 docs / 64 vectors): the tokenize→explode→agg
      // pipeline and the zip_with/aggregate vector math run interpreted
      // until C2 kicks in, and the first query to use them was absorbing
      // ~6 s of compiler time (measured: t10 8.1 s cold vs 1.7 s warm in
      // one JVM). Steady-state operator cost is what the bench reports;
      // BASELINE.md records the warmup conditions.
      // three passes of the REAL TF-IDF operator on a bounded slice so the
      // hot tokenize/explode/agg loops cross the C2 compile threshold, not
      // just the Janino one — driving the actual operator (not an inline
      // copy) means the warmed codegen shapes can never drift from what
      // the measured queries run
      (1 to 3).foreach { _ =>
        graft.ops.TextAnalysis.tfidfFrame(
            spark.read.parquet(s"$sfDir/documents.parquet").limit(500))
          .queryExecution.toRdd.count()
      }
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        .select(aggregate(zip_with(col("embedding"), col("embedding"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("d"))
        .agg(sum(col("d")).as("s"))
        .queryExecution.toRdd.count()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_REPS (default 2): every query runs `reps` times.
    // The HEADLINE fields ("value", "queries") record the FIRST rep —
    // the single-shot number every earlier round recorded, so the driver
    // contract and cross-round comparability are unchanged. The best-of-N
    // per-query minima ride alongside ("total_best", "queries_best") as
    // the load-robust number BASELINE.md's round-7 re-baseline keys off
    // (this box's external load contaminates single-shot totals by up to
    // 2×; the per-query min of two back-to-back reps sheds most bursts).
    // Every entry is a prepared query (SparkEntry): the first rep builds,
    // analyzes, optimizes and plans it, and a later rep of an entry whose
    // plans were kept is a prepared call that reuses them. So "value"
    // includes each query's build, and "queries_best" is a prepared call
    // for the kept entries.
    // (Default stays 2 deliberately: BASELINE.md's round-7 comparison rule
    // keys off the best-of-2 totals, and the driver capture must carry
    // them. A driver with a hard runtime ceiling sets
    // SPARK_GRAFT_BENCH_REPS=1 explicitly.)
    // Fixed-work calibration probe (see Calib): measures ambient box
    // speed at capture START (post-warmup, pre-suite) and END, recorded
    // in the JSON so cross-epoch comparisons can normalize away
    // co-tenancy the load fields don't see.
    val calibStart = Calib.runRounded(spark)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // SPARK_GRAFT_BENCH_QUERIES (optional, comma-separated names): measure
    // only the named queries — the scale-proof runs (BASELINE.md scaling
    // table) time the heavy family alone at each corpus size.
    val onlyQueries = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A query that throws is recorded in `errors`, NOT timed — a regression
    // must surface as an error entry, never as a suspiciously fast number.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries
      .filter { case (name, _) => onlyQueries.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        // A label/build phase re-measures its own build, so its memo is
        // dropped before each rep; the apply/search phases read the memo
        // (their first rep pays the build). c10's gates re-measure the
        // stats they gate on, so the stats memos drop with its survivors.
        if (name == "d8_dedup_clusters") graft.ops.Dedup.invalidateLabels()
        if (name == "s10_semantic_dedup")
          graft.ops.Similarity.invalidateSemanticLabels()
        if (name == "c10_prep_full") {
          graft.ops.Composites.invalidateSurvivors()
          graft.ops.TextAnalysis.invalidateStatsMemos()
        }
        val t0 = System.nanoTime()
        // Full materialization: toRdd.count() produces every output row
        // through the complete codegen pipeline. A bare df.count() lets
        // Catalyst prune projected expressions, so projection-ending
        // queries (o1/o2/o3/o12/o15/m2/s2…) would time the scan only.
        try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(160)
            .map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)
          None
        }
      }
      // a query that failed on ANY rep is an error, never a timing — a
      // flaky best-of-N success must not hide the failure in the headline
      if (times.nonEmpty && !errors.contains(name))
        Some(name -> (times.head, times.min))
      else None
    }
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val totalBest = if (results.nonEmpty) results.values.map(_._2).sum else 0.0
    // Per-query seconds rounded to 3 decimals (VERDICT r19 wrong #1): the
    // driver keeps only a ~2 kB tail of captured output, and full-precision
    // doubles made the 147-query metric line ~10 kB — every r18/r19 capture
    // truncated it and PERF went blind. 1 ms granularity loses nothing (the
    // per-query noise band is ~100× that).
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v._1) }
      .mkString("{", ",", "}")
    val qsBest = results.map { case (k, v) => s"\"" + k + "\":" + r3(v._2) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"$k\":\"$v\"" }
      .mkString("{", ",", "}")
    // total + load lead the line (and a copy goes to stderr) so a truncated
    // capture of stdout can never lose the headline number again.
    // Self-documenting contamination flag: external load on this box can
    // inflate single-shot totals up to 2× (BASELINE.md). A capture that
    // STARTED on a busy box (load1 > 4 of 32 cpus) carries the warning in
    // the artifact itself instead of relying on the reader to check load
    // fields.
    // BOTH windows (VERDICT r18 wrong #1): r18's committed "cleanest"
    // member read load1_end 15.55 with load_warning:false because the
    // flag only looked at the start probe — contention that arrives
    // mid-run must flag the artifact too, exactly like calib_sec_end.
    // END threshold is SELF-LOAD-aware (measured, round 19): the bench's
    // own 32-thread tail legitimately drives the closing 1-min loadavg
    // to ~7–11 on a PRISTINE box (r17's committed quiet member read
    // 6.63; the r19 quiet triple read 9.4–10.7 at calib 0.82–0.92 —
    // faster than any prior epoch), while r18's burst member read
    // 15.55 at calib ~1.0. A >4 end gate would flag every clean run;
    // 12 splits the measured self-load band from the measured burst.
    // The calib pair stays the primary fixed-work contamination gate.
    val calibEnd = Calib.runRounded(spark)
    val loadEnd = load1
    val loadWarn = loadStart > 4.0 || loadEnd > 12.0
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""total_best":${r3(totalBest)},"reps":$reps,""" +
      s""""calib_sec":$calibStart,"calib_sec_end":$calibEnd,""" +
      s""""calib_warning":${Calib.warning(calibStart, calibEnd)},""" +
      s""""load1_start":$loadStart,"load1_end":$loadEnd,""" +
      s""""load_warning":$loadWarn,"n_queries":${results.size},""" +
      s""""n_errors":${errors.size},"errors":$errs,"queries":$qs,""" +
      s""""queries_best":$qsBest,"sf":"$sfDir"}"""
    // The complete metric line goes to BENCH_last.json and both streams;
    // a SHORT headline follows it as the last line on both streams,
    // because a capture that keeps only the tail of the output must still
    // hold the totals.
    val headline = s"""{"total":${r3(total)},"total_best":${r3(totalBest)},""" +
      s""""n_queries":${results.size},""" +
      s""""n_errors":${errors.size},"load1_end":$loadEnd,"load_warning":$loadWarn}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_last.json"), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    System.err.println(json)
    println(headline)
    System.err.println(headline)
    spark.stop()
    // Totals are only comparable across runs at n_errors=0 (an erroring
    // query is dropped from `total`, shrinking it) — so a run with errors
    // exits nonzero and can never be read as a fast baseline.
    if (errors.nonEmpty) sys.exit(1)
    Calib.enforce(calibStart, calibEnd)
  }
}
