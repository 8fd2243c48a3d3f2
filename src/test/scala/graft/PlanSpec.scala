package graft

/** Runs every PlanAudit physical-plan check as a test assertion at
  * sf0.01, so a plan regression (a broadcast falling back to SortMergeJoin
  * after a threshold change, a filter no longer reaching the parquet scan,
  * a checkpoint silently dropped) fails `sbt test` instead of waiting for
  * someone to regenerate PLANS.md and read the VIOLATION line.
  *
  * One test per check keeps failures addressable; the queries materialize
  * at sf0.01 so AQE's final plan — the one a cluster would execute — is
  * what gets asserted.
  */
class PlanSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private val sf001dir = "/root/testdata/sf0.01"

  test("d3's executed plan tokenizes once: one tokenizer expression in the tree") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpExtractAll, StringSplit}
    val d3 = SparkEntry.queries("d3_minhash_sig")(spark, sf001dir)
    d3.queryExecution.toRdd.count()
    // the shared tokenizer, or the split form it replaced
    val tokenizers = flatMap(d3.queryExecution.executedPlan)(_.expressions.flatMap(_.collect {
      case e @ RegExpExtractAll(_, Literal(p, _), _)
          if String.valueOf(p) == graft.ops.TextAnalysis.TokenPattern => e
      case e @ StringSplit(_, Literal(p, _), _) if String.valueOf(p) == "[^a-z0-9]+" => e
    }))
    assert(tokenizers.size === 1, s"${tokenizers.size} tokenizer expressions:\n" +
      tokenizers.mkString("\n"))
  }

  test("t26 matches the four PII patterns once per doc, in one alternation, before counting") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpExtractAll, RLike}
    import graft.ops.TextAnalysis.{PiiCardRe, PiiEmailRe, PiiIpRe, PiiPhoneRe}
    val t26 = SparkEntry.queries("t26_pii_scrub")(spark, sf001dir)
    t26.queryExecution.toRdd.count()
    val pii = Set(PiiEmailRe, PiiCardRe, PiiIpRe, PiiPhoneRe)
    // the expressions the stages evaluate (a scan lists its filters too)
    val exprs = flatMap(t26.queryExecution.executedPlan) {
      case _: org.apache.spark.sql.execution.DataSourceScanExec => Nil
      case p => p.expressions
    }
    // regexp_count plans as size(regexp_extract_all(…))
    val counts = exprs.flatMap(_.collect {
      case e @ RegExpExtractAll(_, Literal(p, _), _) if pii(String.valueOf(p)) => e
    })
    val matches = exprs.flatMap(_.collect { case e: RLike => e })
    assert(counts.size === 4, s"${counts.size} regexp counts:\n${counts.mkString("\n")}")
    assert(matches.size === 1, s"${matches.size} rlike filters:\n${matches.mkString("\n")}")
  }

  test("t26 builds each document's text once: one piiSynth concat in the tree") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Concat}
    val t26 = SparkEntry.queries("t26_pii_scrub")(spark, sf001dir)
    t26.queryExecution.toRdd.count()
    // the concat that appends the planted PII to a document's text
    val synth = flatMap(t26.queryExecution.executedPlan) {
      case _: org.apache.spark.sql.execution.DataSourceScanExec => Nil
      case p => p.expressions
    }.flatMap(_.collect {
      case e @ Concat((a: AttributeReference) +: _) if a.name == "text" => e
    })
    assert(synth.size === 1, s"${synth.size} piiSynth concats:\n${synth.mkString("\n")}")
  }

  /** The shuffles of a materialized frame's final plan. */
  private def shuffles(df: org.apache.spark.sql.DataFrame) = {
    df.queryExecution.toRdd.count()
    collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
  }

  test("a shuffle over one partition is dropped under an aggregate, and kept under a join") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // a full outer sort-merge join of two one-partition inputs reports
    // UnknownPartitioning(1), which satisfies no clustered distribution
    def one(name: String) = spark.range(0, 40, 1, 1).select((col("id") % 10).as("k"),
      col("id").as(name)).coalesce(1)
    val outer = one("a").hint("merge").join(one("b"), Seq("k"), "full_outer")
    val grouped = outer.groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(shuffles(grouped).isEmpty, "the aggregate's one-partition shuffle stayed")
    assert(grouped.collect().map(_.getLong(1)).sum === 160)
    // negative control: a sort-merge join with one one-partition side
    // keeps both exchanges (its other side is shuffled to the same count)
    val wide = spark.range(0, 40, 1, 4).select((col("id") % 10).as("k"), col("id").as("c"))
    val joined = outer.hint("merge").join(wide, Seq("k"))
    val kept = shuffles(joined)
    assert(kept.size === 2, s"${kept.size} shuffles:\n${kept.mkString("\n")}")
    assert(joined.count() === 640)
  }

  PlanAudit.checks.foreach { case (name, claim, must, mustNot) =>
    test(s"plan check: $name") {
      val (plan, missing, present) = PlanAudit.evaluate(spark, sf001dir, name, must, mustNot)
      assert(missing.isEmpty && present.isEmpty,
        s"$name plan violation (claim: $claim): missing=$missing present=$present\n" +
          plan.linesIterator.map(_.take(200)).take(40).mkString("\n"))
    }
  }

  PlanAudit.hintChecks.foreach { case (name, claim) =>
    test(s"hint audit: $name") {
      val bad = PlanAudit.unboundedHints(spark, sf001dir, name)
      assert(bad.isEmpty,
        s"$name forces broadcast of an unbounded id-list (claim: $claim): $bad")
    }
  }

  PlanAudit.globalWindowChecks.foreach { name =>
    test(s"global-window audit: $name") {
      val bad = PlanAudit.unboundedGlobalWindows(spark, sf001dir, name)
      assert(bad.isEmpty,
        s"$name has an un-partitioned Window outside bucket grain: $bad")
    }
  }

  test("global-window audit negative control: a corpus-grain global window IS detected") {
    // Guards the audit against vacuous green: a deliberately global
    // running sum over doc_id must surface; the two-level packedBins
    // form over the same input must not.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, size, split, sum}
    val d = Tables.documents(spark, sf001dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val global = d.withColumn("cum",
      sum(col("n")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    global.queryExecution.toRdd.count()
    val globalWins = PlanAudit.collectWindows(global.queryExecution.executedPlan)
      .filter(_.partitionSpec.isEmpty)
    assert(globalWins.nonEmpty, "WindowExec collection is broken")
    assert(globalWins.exists(_.orderSpec.map(_.child).exists {
      case a: Attribute => a.name == "doc_id"; case _ => false
    }), "the corpus-grain ordering column was not surfaced")
    // and the audited two-level form over the SAME input: every
    // un-partitioned window runs at bucket grain
    val twoLevel = graft.ops.TextAnalysis.packedBins(d)
    twoLevel.queryExecution.toRdd.count()
    val twoLevelGlobals = PlanAudit.collectWindows(twoLevel.queryExecution.executedPlan)
      .filter(_.partitionSpec.isEmpty)
      .map(_.orderSpec.map(_.child).collect { case a: Attribute => a.name })
    assert(twoLevelGlobals.nonEmpty && twoLevelGlobals.forall(_.forall(_ == "b")),
      s"packedBins global windows not at bucket grain: $twoLevelGlobals")
  }

  test("hint audit negative control: a forced unbounded broadcast IS detected") {
    // Guards the audit itself against vacuous green: a deliberately
    // hinted corpus-sized side must surface as a violation, and the same
    // side behind the bench bound must not.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.functions.{broadcast, col}
    val docs = Tables.documents(spark, sf001dir)
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }
    val unbounded = docs.join(broadcast(docs.select(col("doc_id"))), Seq("doc_id"))
    assert(hints(unbounded).nonEmpty, "ResolvedHint collection is broken")
    val bounded = docs.join(
      broadcast(docs.filter(col("doc_id") < 10).select(col("doc_id"))), Seq("doc_id"))
    assert(hints(bounded).exists(h =>
      PlanAudit.benchBounded(h.child.toString)), "bench-bound matcher is broken")
    assert(!hints(unbounded).forall(h =>
      PlanAudit.benchBounded(h.child.toString)), "unbounded hint slipped the matcher")
  }
}
