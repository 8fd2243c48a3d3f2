package graftbench

import scala.collection.mutable

import graft.SparkEntry

/** A catalog workload run: set-up from process start, one cold pass, a
  * fixed number of warm passes of which the second half is counted, then
  * the digest check. Each pass is measured in wall time and in the CPU
  * time of the JVM's Java threads ([[AppCpu]]); the end-to-end metrics are
  * the CPU times.
  *
  * With tracing on, each counted pass is followed by a traced pass (spans
  * and the scheduler listener), so the run can state its own tracing
  * overhead; per-layer metrics are per traced pass. */
object CatalogRun {

  def apply(a: Main.Args, names: Seq[String], dir: String,
      goldens: Map[String, String]): Report = {
    val r = new Report
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(",")}")

    // set-up: process start to a ready session
    val spark = Catalog.setUp(a.cores)
    val setupMs = Report.sinceJvmStartMs()
    val setupCpuMs = AppCpu.totalMs()

    val fns = names.map(n => n -> SparkEntry.queries(n))
    val tracer = new Tracer(a.trace)
    val listener = new SchedListener
    val samples = mutable.ArrayBuffer.empty[Catalog.Sample]
    case class Pass(i: Int, ms: Double, cpuMs: Double, layers: mutable.Map[String, Double])

    def pass(i: Int, traced: Boolean): Pass = {
      val layers = mutable.LinkedHashMap.empty[String, Double]
      if (traced) spark.sparkContext.addSparkListener(listener)
      val t = new Tracer(traced)
      val start = Clock.nowMs
      val cpu0 = AppCpu.snapshot()
      val ss = fns.map { case (n, fn) =>
        Catalog.runOne(spark, n, fn, dir, i, t, if (traced) Some(layers) else None)
      }
      val end = Clock.nowMs
      val cpu = AppCpu.sinceMs(cpu0)
      if (traced) {
        awaitJobsEnded(listener, start, end)
        spark.sparkContext.removeSparkListener(listener)
        t.all.foreach(tracer.add)
        layerTotals(t.all, listener, start, end, a.cores, layers)
      }
      samples ++= ss
      Pass(i, ss.map(_.ms).sum, cpu, layers)
    }

    // A fixed number of warm passes, so that every run counts passes at
    // the same point of JIT convergence: pass times keep falling for
    // several passes, and only the second half is counted. warm_cpu_s is
    // the median counted pass. A warm pass of catalog-floor takes about
    // 2.5 s on four cores, so the warm phase lasts about `seconds`.
    val warmPasses = math.max(8, a.seconds * 2 / 3)
    val cold = pass(0, traced = false)
    (1 to warmPasses / 2).foreach(i => pass(i, traced = false))
    // With tracing on, a traced pass follows each counted pass, so both
    // sides of the overhead sit at the same point of JIT convergence.
    val pairs = (warmPasses / 2 + 1 to warmPasses).map { i =>
      (pass(i, traced = false), Option.when(a.trace)(pass(warmPasses + i, traced = true)))
    }
    val kept = pairs.map(_._1)
    val traced = pairs.flatMap(_._2)

    // correctness, outside every timed span: one digest per query
    val digests = names.map(n => n -> Catalog.digestOf(spark, n, dir))
    r.attempted = samples.size.toLong + names.size
    samples.filter(_.error.nonEmpty).foreach(s => r.fail(s"${s.name} pass ${s.pass}: ${s.error.get}"))
    digests.foreach {
      case (n, Left(e)) => r.fail(s"$n digest: $e")
      case (n, Right(d)) if !goldens.get(n).contains(d) =>
        r.fail(s"$n digest $d, golden ${goldens.getOrElse(n, "missing")}")
      case _ => ()
    }

    val keptIds = kept.map(_.i).toSet
    val warmMs = samples.filter(s => keptIds(s.pass)).map(_.ms).toSeq
    r.metrics("setup_s") = setupCpuMs / 1000
    r.notes("setup_wall_s") = setupMs / 1000
    r.metrics("cold_cpu_s") = cold.cpuMs / 1000
    r.metrics("warm_cpu_s") = Stats.median(kept.map(_.cpuMs).toSeq) / 1000
    r.notes("cold_suite_s") = cold.ms / 1000
    r.notes("suite_s") = Stats.median(kept.map(_.ms).toSeq) / 1000
    r.notes("counted_passes_cpu_wall_ms") =
      kept.map(p => f"${p.cpuMs}%.0f/${p.ms}%.0f").mkString(" ")
    r.notes("rss_peak_mb") = Report.rssPeakMb()

    if (a.trace) {
      Layers.all.foreach { k =>
        r.metrics(k) = traced.map(_.layers.getOrElse(k, 0.0)).sum / traced.size
      }
      // Coverage per query: the share of the query span (the client's
      // whole turn) that its three child spans cover, median over the
      // traced passes.
      val spans = tracer.all
      val kids = spans.filter(s => Children(s.name)).groupBy(s => (s.attrs("query"), s.attrs("pass")))
      val coverage = names.map { n =>
        val fracs = spans.filter(s => s.name == "query" && s.attrs("query") == n).map { q =>
          1 - Stats.selfTime(q.iv, kids.getOrElse((n, q.attrs("pass")), Nil).map(_.iv)) / q.ms
        }
        n -> (if (fracs.isEmpty) 0.0 else Stats.median(fracs))
      }
      r.metrics("trace.coverage_min_frac") = coverage.map(_._2).min
      r.notes("coverage_by_query") = coverage.map { case (n, c) => f"$n=$c%.3f" }.mkString(" ")
      r.metrics("trace.overhead_frac") =
        Stats.median(traced.map(_.ms)) / Stats.median(kept.map(_.ms)) - 1
      r.detail("spans.json", Layers.spansJson(spans ++ Layers.schedSpans(listener)))
    }

    r.notes("queries") = names.size
    r.notes("warm_passes") = warmPasses
    r.notes("counted_passes") = kept.size
    r.notes("query_p50_ms") = Stats.quantile(warmMs, 0.5).getOrElse(Double.NaN)
    r.notes("query_samples") = warmMs.size
    r.detail("queries.csv", ("name,pass,ms,error" +: samples.map(s =>
      s"${s.name},${s.pass},${s.ms},${s.error.getOrElse("").replace(',', ';').replace('\n', ' ')}"))
      .mkString("\n") + "\n")
    r.detail("digests.json", digests.map { case (n, d) =>
      Report.jsonStr(n) + ":" + Report.jsonStr(d.fold("error: " + _, identity)) }
      .mkString("{\n", ",\n", "\n}\n"))
    r
  }

  /** Listener events arrive asynchronously; wait until every job that
    * started in the window has reported its end. */
  def awaitJobsEnded(l: SchedListener, from: Double, to: Double): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        l.snapshot._1.exists(j => j.start >= from - 1 && j.start <= to + 1 && j.end.isNaN))
      Thread.sleep(5)
    Thread.sleep(20) // stage and task events of the last job
  }

  /** Per-layer totals of one traced pass, from its spans and the scheduler
    * listener. Span self time: `query` minus its three child spans, and
    * `exec.run` minus the jobs it ran. */
  def layerTotals(spans: Seq[Span], l: SchedListener, from: Double, to: Double,
      cores: Int, m: mutable.Map[String, Double]): Unit = {
    def of(name: String) = spans.filter(_.name == name)
    val jobs = SchedTotals.jobIntervals(l, from - 1, to + 1)
    m("ops.build_ms") = of("ops.build").map(_.ms).sum
    m("ops.build_jobs") = of("ops.build").map(s => jobs.count(j => j._1 >= s.start - 1 && j._1 <= s.end + 1)).sum.toDouble
    m("exec.run_ms") = of("exec.run").map(_.ms).sum
    m("exec.driver_gap_ms") = of("exec.run").map(s => Stats.selfTime(s.iv, jobs)).sum
    SchedTotals(l, from - 1, to + 1, cores).foreach { case (k, v) => m(k) = v }
    val children = spans.filter(s => Children(s.name))
    m("trace.query_self_ms") = of("query").map { q =>
      Stats.selfTime(q.iv, children.filter(c => c.attrs.get("query") == q.attrs.get("query")).map(_.iv))
    }.sum
  }

  /** The spans a query's time is split into. */
  val Children: Set[String] = Set("ops.build", "plan", "exec.run")
}
