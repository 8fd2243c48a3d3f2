package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Similarity

/** Recall-vs-knob sweep (VERDICT r15 #3): a production user's first
  * question about the honest-but-grim isotropic decade recall table is
  * "which knob buys it back, at what cost?" — this main measures the
  * answer instead of asserting it.
  *
  * For each corpus dir (default: the two decade regimes — isotropic
  * `testdata-sf1` and clustered `testdata-sf1c`) it sweeps NProbe over
  * {1, 2, 4, 8, 16} and, per point, measures
  *  - recall@5 vs the exact brute-force truth for the raw IVF-PQ ADC
  *    ranking (the s18 plan at that probe width), and
  *  - recall@5 + latency for the exact-rerank refinement over the same
  *    probe width (the s24 plan — Jégou et al.'s IVFADC-R step: exact
  *    cosine re-order of the top-RerankDepth ADC candidates).
  *
  * Latency is best-of-2 of the SEARCH (the index build is memoized and
  * paid once per dir before timing, like Bench's first-rep convention),
  * so the curve is the per-query serving trade-off, not the build.
  * Output: one JSON line per dir. The companion spec pin lives in
  * SimilaritySpec ("s24 exact rerank"): rerank ≥ ADC at every probe
  * width and rerank monotone in NProbe — provable superset properties,
  * asserted hard; this main records the measured CURVE for BASELINE.md.
  */
object RecallSweep {

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def timed(f: => Set[(Long, Long)]): (Set[(Long, Long)], Double) = {
    val a = { val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9) }
    val b = { val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9) }
    (a._1, math.min(a._2, b._2))
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/repo/testdata-sf1", "/root/repo/testdata-sf1c")
    val spark: SparkSession = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val calib = Calib.runRounded(spark)
    dirs.foreach { dir =>
      // the decade corpora are git-ignored; regenerate a missing one the
      // same way SimilaritySpec does (byte-stable seeded generators, so
      // the measured curves stay comparable across checkouts) — ADVICE
      // r16: a fresh checkout must sweep, not fail
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) dir match {
        case "/root/repo/testdata-sf1" =>
          ScaleData.write(dir, "/root/testdata/sf0.1", 10, 10, spark)
        case "/root/repo/testdata-sf1c" =>
          ScaleData.writeClusteredEmbeddings(dir, 10, spark)
        case "/root/repo/testdata-sf10" =>
          ScaleData.write(dir, "/root/testdata/sf0.1", 100, 1, spark)
        case other => sys.error(
          s"$other/embeddings.parquet missing and no known generator for it")
      }
      val truth = pairs(Similarity.bruteForceTopK(spark, dir))
      Similarity.ivfPqIndexOf(spark, dir) // build + memoize once, untimed
      val points = Seq(1, 2, 4, 8, 16).map { np =>
        val (adc, tAdc) = timed(pairs(Similarity.ivfPqRanked(spark, dir, np, 5)))
        val (rr, tRr) = timed(pairs(Similarity.ivfPqRerankWith(spark, dir, np)))
        val rAdc = (adc & truth).size.toDouble / truth.size
        val rRr = (rr & truth).size.toDouble / truth.size
        f""""np$np":{"nprobe":$np,"adc_recall":$rAdc%.3f,"rerank_recall":$rRr%.3f,"adc_sec":$tAdc%.2f,"rerank_sec":$tRr%.2f}"""
      }
      // the SECOND knob: short-list depth R at the default probe width —
      // the lever for the clustered regime, where probing is already
      // near-perfect and fixed-R shortlist churn caps the nprobe curve
      val depths = Seq(20, 50, 100, 200).map { d =>
        val (rr, tRr) = timed(pairs(
          Similarity.ivfPqRerankWith(spark, dir, Similarity.NProbe, d)))
        val rRr = (rr & truth).size.toDouble / truth.size
        f""""d$d":{"depth":$d,"rerank_recall":$rRr%.3f,"rerank_sec":$tRr%.2f}"""
      }
      println(s"""{"metric":"recall_sweep","dir":"$dir","k":5,"rerank_depth":${Similarity.RerankDepth},"truth_pairs":${truth.size},"points":{${points.mkString(",")}},"depth_points":{${depths.mkString(",")}},"calib_sec":$calib,"calib_warning":${Calib.warning(calib)}}""")
    }
    spark.stop()
  }
}
