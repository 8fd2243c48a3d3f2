package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.TextAnalysis

/** ScalaCheck-GENERATED corpora driven through the frame-level text
  * operators — algebraic properties the row-compare oracle cannot state:
  * idempotence, bounds, order/invariance laws. Seeds are fixed, so every
  * run sees the same corpora and a failure reproduces exactly (the
  * rand()-free discipline the operators themselves follow). */
class PropertySpec extends SparkSpec {

  private val word: Gen[String] =
    Gen.oneOf("a", "bb", "data", "spark", "join", "x1", "q", "scan")

  /** Documents with deliberate stutter (even-length words double) so the
    * collapse path always has work to do. */
  private val doc: Gen[String] = for {
    n <- Gen.choose(0, 40)
    ws <- Gen.listOfN(n, word)
  } yield ws.flatMap(w => if (w.length % 2 == 0) Seq(w, w) else Seq(w))
    .mkString(" ")

  private def corpus(seed: Long, nDocs: Int): Seq[(Long, String)] =
    Gen.listOfN(nDocs, doc).pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex.map { case (t, i) => (i.toLong * 13, t) } // sparse ids

  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  test("property: collapseRepeats is idempotent on generated corpora") {
    import spark.implicits._
    (1 to 4).foreach { k =>
      val df = corpus(100 + k, 16).toDF("doc_id", "text")
      val once = TextAnalysis.collapseFrame(df).localCheckpoint()
      val again = TextAnalysis.collapseFrame(
        once.select(col("doc_id"), col("clean_text").as("text")))
      val a = once.select("doc_id", "n_kept", "clean_hash")
        .as[(Long, Int, String)].collect().toSet
      val b = again.select("doc_id", "n_kept", "clean_hash")
        .as[(Long, Int, String)].collect().toSet
      assert(a === b, s"seed ${100 + k}: collapse(collapse(x)) != collapse(x)")
      // and the collapsed token count equals the re-tokenized length
      val c = again.select("doc_id", "n_tokens", "n_kept")
        .as[(Long, Int, Int)].collect()
      assert(c.forall(r => r._2 === r._3))
    }
  }

  test("property: lmSupport stays in (0, 1], counts match direct computation") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(200 + k, 16)
      val got = TextAnalysis.lmSupportFrame(rows.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expected = rows.map { case (id, t) =>
        id -> math.max(0, tokens(t).size - 1)
      }.filter(_._2 > 0).toMap
      assert(got.keySet === expected.keySet, s"seed ${200 + k}")
      got.foreach { case (id, (nBigrams, rarest, support)) =>
        assert(nBigrams === expected(id).toLong)
        assert(rarest >= 1L)
        // c(bigram) <= c(history) pointwise, so the support ratio is
        // bounded by 1; it is positive because every bigram supports itself
        assert(support > 0.0 && support <= 1.0,
          s"doc $id support $support out of (0,1]")
      }
    }
  }

  test("property: packedBins bins are non-decreasing, start at 0, and match the exact prefix") {
    import spark.implicits._
    (1 to 4).foreach { k =>
      val ns = Gen.listOfN(30, Gen.choose(0L, 800L))
        .pureApply(Gen.Parameters.default, Seed(300 + k))
      val rows = ns.zipWithIndex.map { case (n, i) => (i.toLong * 991, n) }
      val got = TextAnalysis.packedBins(rows.toDF("doc_id", "n"))
        .select("doc_id", "bin").as[(Long, Long)].collect().toMap
      var prefix = 0L
      var lastBin = 0L
      rows.foreach { case (id, n) =>
        val expected = prefix / TextAnalysis.PackCapacity
        assert(got(id) === expected, s"seed ${300 + k} doc $id")
        assert(expected >= lastBin) // monotone in doc order
        lastBin = expected
        prefix += n
      }
      assert(rows.isEmpty || got(rows.head._1) === 0L)
    }
  }

  test("property: domainBalance keeps the smallest source whole; rates in (0, 1]") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(400 + k, 24)
        .map { case (id, t) => (id, s"src${id % 3}", t) }
      val df = rows.toDF("doc_id", "source", "text")
      val totals = rows.groupBy(_._2).view
        .mapValues(_.map(r => tokens(r._3).size.toLong).sum).toMap
      val nonEmpty = totals.filter(_._2 > 0)
      if (nonEmpty.nonEmpty) {
        val tMin = nonEmpty.values.min
        val got = TextAnalysis.domainBalanceFrame(df)
          .as[(String, Long, Long, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        got.foreach { case (src, (nKept, keptTokens, rate)) =>
          assert(rate > 0.0 && rate <= 1.0, s"$src rate $rate")
          assert(keptTokens <= totals(src))
        }
        // a smallest source has rate exactly 1 and keeps EVERY document:
        // the integer predicate bucket*t_s < t_min*65536 is bucket < 65536,
        // true for any 4-hex-digit bucket
        val smallest = nonEmpty.minBy(v => (v._2, v._1))._1
        val docsInSmallest = rows.count(_._2 == smallest)
        assert(got.contains(smallest), s"seed ${400 + k}")
        assert(got(smallest)._1 === docsInSmallest.toLong)
        assert(got(smallest)._3 === 1.0)
      }
    }
  }

  test("property: alphaMixture endpoints — α=0 reproduces domainBalance's " +
      "equalize-to-min rates, α=1 keeps everything; kept counts are " +
      "monotone in α per source") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(700 + k, 24)
        .map { case (id, t) => (id, s"src${id % 3}", t) }
      val df = rows.toDF("doc_id", "source", "text")
      val totals = rows.groupBy(_._2).view
        .mapValues(_.map(r => tokens(r._3).size.toLong).sum).toMap
      if (totals.values.forall(_ > 0)) {
        def kept(alpha: Double): Map[String, (Long, Long)] =
          TextAnalysis.alphaMixtureFrame(df, alpha)
            .as[(String, Long, Long, Long, Long)].collect()
            .map(r => r._1 -> ((r._2, r._4))).toMap // (n_kept, rate_ppm)
        // α=0: rate = T_min/T_s — domainBalance's rule to ppm rounding,
        // so the kept documents are the same set when the two rounded
        // thresholds agree at bucket grain (they do on these corpora:
        // assert kept counts equal)
        val a0 = kept(0.0)
        val t18 = TextAnalysis.domainBalanceFrame(df)
          .as[(String, Long, Long, Double)].collect()
          .map(r => r._1 -> r._2).toMap
        assert(a0.map { case (s, v) => s -> v._1 } === t18,
          s"seed ${700 + k}: α=0 must equal the equalize-to-min sampler")
        // α=1: the natural mixture — rate 1, every document kept
        val a1 = kept(1.0)
        rows.groupBy(_._2).foreach { case (src, rs) =>
          assert(a1(src)._1 === rs.size.toLong, s"α=1 must keep all of $src")
          assert(a1(src)._2 === 1000000L)
        }
        // monotone: a larger α keeps at least as much of every source
        // (rate_s = (T_min/T_s)^(1−α) is non-decreasing in α), and the
        // smallest source is whole at EVERY α
        val curve = Seq(0.0, 0.3, 0.7, 1.0).map(a => a -> kept(a))
        curve.sliding(2).foreach { case Seq((aLo, lo), (aHi, hi)) =>
          lo.keySet.foreach { src =>
            assert(lo(src)._1 <= hi.getOrElse(src, (0L, 0L))._1,
              s"seed ${700 + k}: $src kept count must be monotone in α ($aLo→$aHi)")
          }
        }
        val smallest = totals.minBy(v => (v._2, v._1))._1
        curve.foreach { case (a, m) =>
          assert(m(smallest)._2 === 1000000L,
            s"smallest source must sample at rate 1 at α=$a") }
      }
    }
    // degenerate source: documents that tokenize to ZERO tokens (all
    // punctuation) make t_s = 0 — the rate is DEFINED (0, the source
    // drops; and t_min = 0 drops every source, t18's semantics under
    // the same corpus) instead of a NaN→long ANSI cast crash
    val degen = (Seq((1L, "srcA", "real words here"),
      (2L, "srcA", "more real words"),
      (3L, "srcX", "!!! ??? ..."))).toDF("doc_id", "source", "text")
    val gotDegen = TextAnalysis.alphaMixtureFrame(degen, 0.3).collect()
    val t18Degen = TextAnalysis.domainBalanceFrame(degen).collect()
    assert(gotDegen.isEmpty === t18Degen.isEmpty,
      "α-sampler must match t18's behavior on a zero-token source")
    assert(gotDegen.isEmpty,
      "t_min = 0 drops every source in both samplers — defined, not a crash")
  }

  test("property: substringDup equals an in-memory anchor/diagonal/island reference " +
      "on template-built corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    val n = Dedup.AnchorTokens
    // span templates long enough to anchor; docs concatenate 1-3 of them
    // plus unique filler, so real shared spans (and ties/overlaps) arise
    // tokens must survive the [^a-z0-9]+ tokenizer unsplit (no underscores)
    def template(t: Int): Seq[String] = (0 until 6 + t % 7).map(i => s"t${t}x$i")
    val docGen: Gen[Seq[String]] = for {
      k <- Gen.choose(1, 3)
      ts <- Gen.listOfN(k, Gen.choose(0, 5))
      fill <- Gen.choose(0, 3)
    } yield ts.flatMap(template) ++ (0 until fill).map(i => s"u$i")
    (1 to 3).foreach { k =>
      val docs = Gen.listOfN(12, docGen)
        .pureApply(Gen.Parameters.default, Seed(600 + k))
        .zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
      val df = docs.map { case (id, ws) => (id, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.substringDupFrame(df)
        .select("doc_a", "doc_b", "n_spans", "max_span_tokens", "dup_tokens")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      // in-memory reference: gram table -> df cap -> pair matches ->
      // diagonal islands -> span rollup
      val occ = docs.flatMap { case (id, ws) =>
        ws.sliding(n).zipWithIndex.filter(_._1.size == n)
          .map { case (g, p) => (g.mkString(" "), id, p) }
      }
      val eligible = occ.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.size)
        .filter { case (_, d) => d >= 2 && d <= Dedup.MaxAnchorDocs }
        .keySet.toSet
      val matches = for {
        (g, a, pa) <- occ if eligible(g)
        (g2, b, pb) <- occ if g2 == g && a < b
      } yield (a, b, pa, pb)
      val expected = matches.groupBy { case (a, b, pa, pb) => (a, b, pa - pb) }
        .toSeq.flatMap { case (_, ms) =>
          // island split: consecutive pa runs within the diagonal
          val ps = ms.map(_._3).distinct.sorted
          ps.foldLeft(List.empty[List[Int]]) {
            case (acc @ (run :: rest), p) if run.head == p - 1 => (p :: run) :: rest
            case (acc, p) => List(p) :: acc
          }.map(r => (ms.head._1, ms.head._2, r.size.toLong + n - 1))
        }
        .groupBy { case (a, b, _) => (a, b) }
        .view.mapValues { spans =>
          (spans.size.toLong, spans.map(_._3).max,
            spans.map(s => s._3).sum)
        }.toMap
      assert(got === expected, s"seed ${600 + k}")
      assert(got.nonEmpty, s"seed ${600 + k}: degenerate corpus (no shared spans)")
    }
  }

  test("property: two-level quantileThreshold equals the direct cumulative definition " +
      "on bounded ratios, unbounded integers, negatives and heavy ties") {
    import spark.implicits._
    // the round-12 rebuild must be BIT-IDENTICAL to the definition:
    // threshold = smallest v with cumulative count >= ceil(frac * total).
    // Exercise exactly the shapes the grid map could get wrong: heavy
    // ties (few distinct values), wide unbounded integer ranges (the
    // c12 support shape the weak mark was about), negatives straddling
    // zero, a single distinct value, and frac edges.
    val gens: Seq[(String, Gen[Double])] = Seq(
      "rounded ratio [0,1]" -> Gen.choose(0, 1000000).map(_ / 1000000.0),
      "unbounded int" -> Gen.choose(-5000000L, 5000000000L).map(_.toDouble),
      "heavy ties" -> Gen.oneOf(1.0, 2.0, 2.0, 3.0, 100.0),
      "constant" -> Gen.const(42.0))
    for (((label, g), gi) <- gens.zipWithIndex; k <- 1 to 2;
         frac <- Seq(0.1, 0.5, 0.7, 1.0)) {
      val seed = 500 + gi * 10 + k
      val vals = Gen.listOfN(200, g)
        .pureApply(Gen.Parameters.default, Seed(seed))
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("doc_id", "v")
      val got = TextAnalysis.quantileThreshold(df, "v", frac, "thr")
        .select("thr").as[Double].head()
      // direct reference: sort distinct values, walk the cumulative count
      val total = vals.size
      val hist = vals.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      val need = math.ceil(total * frac).toLong
      var cum = 0L
      val expected = hist.collectFirst {
        case (v, c) if { cum += c; cum >= need } => v
      }.get
      assert(got === expected,
        s"$label seed $seed frac $frac: got $got expected $expected")
    }
  }

  test("property: invertedIndex equals an in-memory postings reference on generated corpora") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(700 + k, 20)
      val got = TextAnalysis.invertedIndexFrame(rows.toDF("doc_id", "text"))
        .as[(String, Long, Long, Int, Long, Long, Long)].collect()
        .map(r => (r._1, r._4) -> ((r._2, r._3, r._5, r._6, r._7))).toMap
      // reference: full postings, then stats + head per term
      val postings = rows.flatMap { case (id, t) =>
        tokens(t).zipWithIndex.groupBy(_._1).map { case (term, occ) =>
          (term, id, occ.size.toLong, occ.map(_._2).min.toLong + 1)
        }
      }
      val expected = postings.groupBy(_._1).flatMap { case (term, ps) =>
        val df = ps.size.toLong
        val ctf = ps.map(_._3).sum
        ps.sortBy(p => (-p._3, p._2)).take(TextAnalysis.IndexTopDocs)
          .zipWithIndex.map { case ((_, doc, tf, fp), i) =>
            (term, i + 1) -> ((df, ctf, doc, tf, fp)) }
      }
      assert(got === expected, s"seed ${700 + k}")
    }
  }

  test("property: pmiPairs equals an in-memory reference (counts exact, pmi to 1e-9)") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(800 + k, 24)
      val got = TextAnalysis.pmiPairsFrame(rows.toDF("doc_id", "text"))
        .as[(String, Long, Long, Long, Double)].collect()
      val toks = rows.map { case (_, t) => tokens(t) }
      val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val big = toks.flatMap(t => t.zip(t.drop(1)).map { case (a, b) => s"$a $b" })
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nUni = uni.values.sum.toDouble
      val nBig = big.values.sum.toDouble
      val expected = big.filter(_._2 >= TextAnalysis.PmiMinCount).toSeq.map {
        case (bg, cxy) =>
          val Array(x, y) = bg.split(" ")
          val pmi = math.log(cxy * nUni * nUni / (nBig * uni(x) * uni(y)))
          (bg, cxy, uni(x), uni(y), pmi)
      }.sortBy { case (bg, _, _, _, p) => (-p, bg) }.take(TextAnalysis.PmiTopK)
      assert(got.length === expected.length, s"seed ${800 + k}")
      got.sortBy(r => (-r._5, r._1)).zip(expected).foreach { case (g, e) =>
        assert(g._1 === e._1 && g._2 === e._2 && g._3 === e._3 && g._4 === e._4,
          s"seed ${800 + k}: $g vs $e")
        assert(math.abs(g._5 - BigDecimal(e._5)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
          s"seed ${800 + k}: pmi $g vs $e")
      }
    }
  }

  test("property: winnowing equals an in-memory reference; density and guarantee hold") {
    import spark.implicits._
    val w = TextAnalysis.WinnowW
    // reference winnowing over the same base-31 5-gram hashes
    def fingerprints(text: String): Option[(Int, Set[(Long, Int)])] = {
      val norm = text.trim.toLowerCase.replaceAll("[ \t\n\f\r]+", " ")
      if (norm.length < 4 + w) return None
      val hs = (0 to norm.length - 5).map { i =>
        norm.substring(i, i + 5).foldLeft(0L)((acc, ch) => acc * 31 + ch.toLong)
      }
      val sel = (0 to hs.length - w).map { i =>
        // rightmost minimum of hs[i..i+w-1], 1-based positions
        (i until i + w).map(j => (hs(j), j + 1))
          .reduceLeft((a, b) => if (b._1 <= a._1) b else a)
      }
      Some((hs.length, sel.toSet))
    }
    (1 to 3).foreach { k =>
      val rows = corpus(950 + k, 20)
      val got = TextAnalysis.winnowingFrame(rows.toDF("doc_id", "text"))
        .as[(Long, Int, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val expected = rows.flatMap { case (id, t) =>
        fingerprints(t).map { case (n, fps) =>
          id -> ((n, fps.size.toLong, fps.toSeq.map(_._1).sum, fps.map(_._1).min))
        }
      }.toMap
      assert(got === expected, s"seed ${950 + k}")
      // density sanity: fingerprints per gram ≈ 2/(w+1), never > 1
      got.values.foreach { case (n, nfp, _, _) =>
        assert(nfp <= n && nfp >= (n - (w - 1) + w - 1) / w)
      }
    }
    // the winnowing GUARANTEE: two docs sharing a substring of
    // ≥ w+k−1 = 8 chars share at least one fingerprint VALUE
    val shared = "qqqwwweeerrr"
    val a = s"aaa111 $shared 222bbb"
    val b = s"zzz999 $shared 888yyy"
    val fa = fingerprints(a).get._2
    val fb = fingerprints(b).get._2
    assert(fa.map(_._1).intersect(fb.map(_._1)).nonEmpty)
  }

  test("property: bpeMerges equals an in-memory greedy BPE reference on generated corpora") {
    import spark.implicits._
    (1 to 3).foreach { k =>
      val rows = corpus(900 + k, 16)
      val got = TextAnalysis.bpeMergesFrame(rows.toDF("doc_id", "text"))
        .as[(Int, String, String, Long, Long, Long)].collect().sortBy(_._1)
      // reference: greedy left-to-right merge on token lists
      def mergeDoc(t: List[String], x: String, y: String): List[String] = t match {
        case a :: b :: rest if a == x && b == y => s"${x}_$y" :: mergeDoc(rest, x, y)
        case a :: rest => a :: mergeDoc(rest, x, y)
        case Nil => Nil
      }
      var docs = rows.map { case (_, t) => tokens(t).toList }.filter(_.nonEmpty)
      val expected = (1 to TextAnalysis.MergeRounds).map { r =>
        val pairs = docs.flatMap(t => t.zip(t.drop(1)).map { case (a, b) => s"$a $b" })
          .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        val (pair, cnt) = pairs.minBy { case (p, c) => (-c, p) }
        val Array(x, y) = pair.split(" ")
        docs = docs.map(d => mergeDoc(d, x, y))
        (r, pair, s"${x}_$y", cnt, docs.flatten.distinct.size.toLong,
          docs.map(_.size.toLong).sum)
      }
      assert(got.toSeq === expected, s"seed ${900 + k}")
    }
  }

  test("property: lmQualityFrame equals an in-memory add-k bigram LM on generated corpora") {
    import spark.implicits._
    (0 until 3).foreach { k =>
      val docs = corpus(1200 + k, 25)
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      }.filter(_._2.size >= 2)
      val bgs = toks.map { case (id, ts) => id -> ts.zip(ts.tail) }
      val cnt = bgs.flatMap(_._2).groupBy(identity).map { case (b, v) => b -> v.size.toLong }
      val ctx = cnt.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
      val v = cnt.keys.map(_._2).toSet.size.toDouble
      val a = TextAnalysis.LmAlpha
      val expect = bgs.map { case (id, bs) =>
        val s = bs.map(b =>
          math.round(math.log((cnt(b) + a) / (ctx(b._1) + v * a)) * 1e6)).sum
        val ppl = BigDecimal(math.exp(-s.toDouble / 1e6 / bs.size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> ((bs.size.toLong, ppl))
      }.toMap
      val got = TextAnalysis.lmQualityFrame(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got.keySet === expect.keySet, s"seed ${1200 + k}: doc set")
      expect.foreach { case (id, e) =>
        assert(got(id) === e, s"seed ${1200 + k}: doc $id")
      }
    }
  }

  test("property: dsirWeightsFrame identity law — target == corpus makes every " +
      "log-ratio exactly zero") {
    import spark.implicits._
    val docs = corpus(1300, 30)
    val got = TextAnalysis.dsirWeightsFrame(docs.toDF("doc_id", "text"), lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    got.foreach { case (id, lr, sel) =>
      assert(lr === 0L, s"doc $id: identical LMs must cancel exactly")
      assert(sel === 1, s"doc $id: zero ratio clears the >= 0 threshold")
    }
  }

  test("property: sq8 codes are bytes and every reconstruction error is within " +
      "the half-step bound") {
    // the affine grid's worst case per dim is half a quantization step;
    // the bound is sum_i (span_i / 255 / 2)^2, an algebraic law the
    // row-compare oracle cannot state
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val dim = vecs.head._2.length
    val bound = (0 until dim).map { i =>
      val xs = vecs.map(_._2(i))
      val h = (xs.max - xs.min) / 255.0 / 2.0
      h * h
    }.sum
    val got = graft.ops.Similarity.sq8Quantize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.length === vecs.length)
    got.foreach { case (id, hash, err) =>
      assert(hash.length === 32, s"vector $id: md5 hash shape")
      assert(err >= 0.0 && err <= bound * (1 + 1e-9),
        s"vector $id: err $err above the half-step bound $bound")
    }
  }

  test("t31: gopherRules signals match an independent recompute; crafted docs " +
      "keep/drop for the intended reasons") {
    import spark.implicits._
    val good = Seq.fill(4)("the data pipeline reads and filters documents " +
      "with care that should have been good to keep").mkString(" ")
    val boundary3 = (Seq.fill(24)("abc") ++ Seq("the", "and") ++ Seq.fill(24)("xyz"))
      .mkString(" ") // 50 words, every length exactly 3: mean-len lower edge
    val docs = Seq(
      1L -> good,                                        // keeps
      2L -> "the cat sat",                               // too short
      3L -> Seq.fill(20)("- the item one").mkString("\n"), // bullet lines
      4L -> Seq.fill(30)("# header the").mkString(" "),  // symbol-heavy
      5L -> ("the of " + Seq.tabulate(60)(i => (10000 + i).toString).mkString(" ")),
      6L -> Seq.fill(10)("the story continues...").mkString("\n"),
      7L -> "",                                          // empty
      8L -> boundary3)                                   // boundary keep
    val got = graft.ops.TextAnalysis.gopherRulesFrame(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // independent recompute with plain JVM string ops
    val bulletRe = java.util.regex.Pattern.compile("^[ \\t]*[-*\u2022]")
    val symRe = java.util.regex.Pattern.compile("#|\\.\\.\\.")
    docs.foreach { case (id, text) =>
      val words = text.trim.split("[ \\t\\n\\f\\r]+", -1).filter(_.nonEmpty)
      val lines = text.split("\n", -1)
      val nW = words.length.toLong
      val lenSum = words.map(_.length.toLong).sum
      val nAlpha = words.count(_.exists(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toLong
      val sm = symRe.matcher(text)
      var nSym = 0L; while (sm.find()) nSym += 1
      val nLines = lines.length.toLong
      val nBullet = lines.count(l => bulletRe.matcher(l).find()).toLong
      val nEll = lines.count(_.endsWith("...")).toLong
      val stopHits = graft.ops.TextAnalysis.GopherStopwords.count(w =>
        java.util.regex.Pattern.compile("\\b" + w + "\\b")
          .matcher(text.toLowerCase).find())
      val keep = if (nW >= 50 && nW <= 100000 &&
        lenSum >= 3 * nW && lenSum <= 10 * nW &&
        10 * nSym <= nW && 10 * nBullet <= 9 * nLines &&
        10 * nEll <= 3 * nLines && 5 * nAlpha >= 4 * nW && stopHits >= 2) 1 else 0
      val r = got(id)
      assert(r.getLong(1) === nW, s"doc $id n_words")
      assert(math.abs(r.getDouble(2) - lenSum.toDouble / math.max(nW, 1)) < 1e-6,
        s"doc $id mean_word_len")
      assert(math.abs(r.getDouble(3) - nSym.toDouble / math.max(nW, 1)) < 1e-6,
        s"doc $id symbol_ratio")
      assert(math.abs(r.getDouble(4) - nBullet.toDouble / math.max(nLines, 1)) < 1e-6,
        s"doc $id bullet_frac")
      assert(math.abs(r.getDouble(5) - nEll.toDouble / math.max(nLines, 1)) < 1e-6,
        s"doc $id ellipsis_frac")
      assert(math.abs(r.getDouble(6) - nAlpha.toDouble / math.max(nW, 1)) < 1e-6,
        s"doc $id alpha_frac")
      assert(r.getInt(7) === stopHits, s"doc $id stop_hits")
      assert(r.getInt(8) === keep, s"doc $id keep")
    }
    // and the crafted intents held: which rule fired is part of the contract
    assert(got(1L).getInt(8) === 1 && got(8L).getInt(8) === 1)
    Seq(2L, 3L, 4L, 5L, 6L, 7L).foreach(id =>
      assert(got(id).getInt(8) === 0, s"doc $id should drop"))
  }

  test("t32: repetitionRules signals match an independent recompute; each rule " +
      "fires on its crafted doc") {
    import spark.implicits._
    val clean = (0 until 100).map(i => s"w$i").mkString(" ")
    val dupLines = Seq.fill(10)("the same line again").mkString("\n")
    val dupParas = Seq.fill(3)(Seq("alpha paragraph", "beta paragraph"))
      .flatten.mkString("\n\n")
    val domBigram = Seq.fill(40)("ping pong").mkString(" ")
    // repeated 7-token block between unique fillers: 5-gram dups without
    // tripping the modal-bigram rule — isolates the 5-gram rule
    val dupFive = (0 until 8).map(i =>
      s"a b c d e f g u${4 * i} u${4 * i + 1} u${4 * i + 2} u${4 * i + 3}")
      .mkString(" ")
    val docs = Seq(1L -> clean, 2L -> dupLines, 3L -> dupParas,
      4L -> domBigram, 5L -> dupFive, 6L -> "")
    val got = graft.ops.TextAnalysis.repetitionRulesFrame(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text) =>
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      def grams(k: Int) = if (toks.size >= k) toks.sliding(k).map(_.mkString(" ")).toSeq
        else Seq.empty[String]
      val lines = text.split("\n", -1)
      val paras = text.split("\n\n", -1)
      val (nL, dL) = (lines.length.toLong, lines.distinct.length.toLong)
      val (nP, dP) = (paras.length.toLong, paras.distinct.length.toLong)
      val g2 = grams(2); val g5 = grams(5)
      val modal2 = if (g2.isEmpty) 0L else g2.groupBy(identity).values.map(_.size).max.toLong
      val (t2, t5, d5) = (g2.size.toLong, g5.size.toLong, g5.distinct.size.toLong)
      val keep = if (10 * (nL - dL) <= 3 * nL && 10 * (nP - dP) <= 3 * nP &&
        5 * modal2 <= t2 && 20 * (t5 - d5) <= 3 * t5) 1 else 0
      val r = got(id)
      assert(r.getLong(1) === nL, s"doc $id n_lines")
      assert(math.abs(r.getDouble(2) - (nL - dL).toDouble / math.max(nL, 1)) < 1e-6, s"doc $id line")
      assert(math.abs(r.getDouble(3) - (nP - dP).toDouble / math.max(nP, 1)) < 1e-6, s"doc $id para")
      assert(math.abs(r.getDouble(4) - modal2.toDouble / math.max(t2, 1)) < 1e-6, s"doc $id bigram")
      assert(math.abs(r.getDouble(5) - (t5 - d5).toDouble / math.max(t5, 1)) < 1e-6, s"doc $id 5gram")
      assert(r.getInt(6) === keep, s"doc $id keep")
    }
    // intent: the clean doc survives, each repetition style drops its doc
    assert(got(1L).getInt(6) === 1)
    Seq(2L, 3L, 4L, 5L).foreach(id => assert(got(id).getInt(6) === 0, s"doc $id"))
    // and the 5-gram doc drops for the 5-GRAM rule, not the bigram rule
    assert(got(5L).getDouble(4) < 0.2 && got(5L).getDouble(5) > 0.15)
  }

  test("c24: the filtered planner sees only Gopher-kept token mass; an all-junk " +
      "source vanishes") {
    import spark.implicits._
    // 36 words, contains both corpus-lexicon function words → passes the
    // corpus profile c24 filters with
    val goodText = Seq.fill(2)("the data pipeline reads a stream and filters " +
      "documents with care that should have been good to keep").mkString(" ")
    val docs = Seq.fill(3)(("good", goodText)) ++
      Seq.fill(2)(("junk", "the cat sat")) ++
      Seq(("mixed", goodText), ("mixed", "no stopword set here"))
    val df = docs.zipWithIndex.map { case ((s2, t), i) => (i.toLong, s2, t) }
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Composites.epochPlanFrame(
        df.filter(graft.ops.TextAnalysis.gopherKeepWith(
          graft.ops.TextAnalysis.GopherCorpusMinWords,
          graft.ops.TextAnalysis.GopherCorpusLexicon)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("good", "mixed"), "junk source must vanish")
    val toks = Map("good" -> 108L, "mixed" -> 36L) // 3× and 1× the 36-word doc
    val w = toks.map { case (s2, t) => s2 -> math.sqrt(t.toDouble).toLong }
    val wTot = w.values.sum
    val budget = graft.ops.Composites.EpochBudgetX * toks.values.sum
    toks.foreach { case (src, t) =>
      val r = got(src)
      assert(r.getLong(2) === t, s"$src kept tokens")
      assert(r.getLong(4) === budget * w(src) / wTot, s"$src target")
    }
  }

  test("c23: epochPlan is integer-exact against a BigInt recompute; caps and " +
      "budget conservation hold") {
    import spark.implicits._
    // controlled token counts: split(trim, ws+) counts words, so a doc of
    // n space-separated tokens contributes exactly n
    def doc(n: Int): String = Seq.fill(n)("tok").mkString(" ")
    val docs =
      Seq.fill(2)("a" -> doc(10)) ++ Seq.fill(10)("b" -> doc(100)) ++ Seq("c" -> doc(4))
    val df = docs.zipWithIndex
      .map { case ((src, t), i) => (i.toLong, src, t) }
      .toDF("doc_id", "source", "text")
    val got = graft.ops.Composites.epochPlanFrame(df)
      .collect().map(r => r.getString(0) -> r).toMap
    val toks = Map("a" -> 20L, "b" -> 1000L, "c" -> 4L)
    val w = toks.map { case (s2, t) => s2 -> math.sqrt(t.toDouble).toLong }
    val wTot = w.values.sum
    val budget = graft.ops.Composites.EpochBudgetX * toks.values.sum
    val cap = graft.ops.Composites.MaxEpochsPpm
    toks.foreach { case (src, t) =>
      val r = got(src)
      val target = budget * w(src) / wTot
      val raw = target * 1000000L / t
      assert(r.getLong(2) === t, s"$src tokens")
      assert(r.getLong(3) === w(src) * 1000000L / wTot, s"$src weight_ppm")
      assert(r.getLong(4) === target, s"$src target_tokens")
      assert(r.getLong(5) === math.min(cap, raw), s"$src epochs_ppm")
      assert(r.getLong(6) === math.min(t * (cap / 1000000L), target), s"$src alloc")
      assert(r.getInt(7) === (if (raw >= cap) 1 else 0), s"$src capped")
      // no source ever exceeds the epoch ceiling, and allocation never
      // exceeds the uncapped ask
      assert(r.getLong(5) <= cap && r.getLong(6) <= r.getLong(4))
    }
    // the tiny sources hit the repeat ceiling, the big one does not
    assert(got("a").getInt(7) === 1 && got("c").getInt(7) === 1)
    assert(got("b").getInt(7) === 0)
    // floor-rounded weights still sum to ~1e6
    val wSum = got.values.map(_.getLong(3)).sum
    assert(wSum <= 1000000L && wSum >= 1000000L - 3)
  }

  /** Text pieces for the tokenizer: words, digits, separator runs and
    * non-ASCII letters, including ones whose lowercase is longer (U+0130
    * becomes `i` and a combining dot; U+1E9E becomes `ß`), the Kelvin
    * sign (lowercases to ASCII `k`) and a surrogate pair. */
  private val piece: Gen[String] = Gen.oneOf(
    "Data", "spark", "X1", "42", "007", "a", " ", "  ", "\t", "\n", "-", "__",
    "...", ",", "é", "Éclair", "straße", "\u1E9E", "\u0130", "İstanbul",
    "\u212A", "ΣΟΦΙΑ", "Жук", "的", "\uD83D\uDE00", "\uFB01")

  test("property: the shared tokenizer equals filter(split(lower(text))) on generated text") {
    import spark.implicits._
    val legacy = filter(split(lower(col("text")), "[^a-z0-9]+"), w => length(w) > 0)
    (1 to 4).foreach { k =>
      val texts = Gen.listOfN(200, Gen.listOf(piece).map(_.mkString))
        .pureApply(Gen.Parameters.default, Seed(700 + k))
      val rows = (None +: Some("") +: Some(" -- ") +: Some("--a--b--") +:
        texts.map(Some(_))).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // an RDD-backed frame, so the projection runs in a task and is not
      // folded into a local relation on the driver
      val got = spark.sparkContext.parallelize(rows, 2).toDF("id", "text")
        .select(col("id"), legacy.as("old"), TextAnalysis.tokens.as("new"))
        .as[(Long, Option[Seq[String]], Option[Seq[String]])].collect()
      assert(got.length === rows.length)
      got.foreach { case (id, old, now) =>
        assert(old === now, s"seed ${700 + k}, text ${rows(id.toInt)._2}")
      }
      assert(got.exists(_._3.isEmpty), "NULL text must give NULL")
      assert(got.exists(_._3.exists(_.isEmpty)), "no-token text must give []")
    }
  }

  test("upper and lower map case as the JVM does, code-generated and interpreted") {
    import spark.implicits._
    // U+2C2F and U+1C89 are letters newer than the JDK's Unicode version
    // that ICU maps; the rest map alike under both.
    val samples = Seq("hello WORLD 42", "straße", "\u0130stanbul", "ΟΔΟΣ",
      "\u01C5emal", "\u212A", "\u2C2F", "\u1C89", "ＡＢＣ")
    assert(samples.exists(t => com.ibm.icu.lang.UCharacter.toLowerCase(t) != t.toLowerCase ||
      com.ibm.icu.lang.UCharacter.toUpperCase(t) != t.toUpperCase),
      "no sample tells ICU's case mapping from the JVM's")
    val df = spark.sparkContext.parallelize(samples, 2).toDF("s")
    val expected = samples.map(t => (t, t.toLowerCase, t.toUpperCase)).toSet
    val coded = df.select(col("s"), lower(col("s")), upper(col("s")))
    // a higher-order function is evaluated interpreted, and so is every
    // expression inside its lambda
    val interpreted = df.select(col("s"),
      transform(array(col("s")), x => lower(x)).getItem(0),
      transform(array(col("s")), x => upper(x)).getItem(0))
    assert(coded.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).nonEmpty)
    assert(coded.as[(String, String, String)].collect().toSet === expected)
    assert(interpreted.as[(String, String, String)].collect().toSet === expected)
  }

  /** The MinHash signature as it was computed before the kernel: 3-word
    * shingles by a staggered-slice zip (the whole token list joined for
    * fewer than 3 tokens), each hashed as the first 15 hex digits of its
    * `md5` through `conv`, mod p. */
  private object MinHashReference {
    import graft.functions.MinHashExpr.{NumPerms, Prime => MinhashPrime, perms => minhashPerms}
    import org.apache.spark.sql.{Column, DataFrame}

    def shingles(t: Column): Column = {
      val m = size(t) - 2
      val zipped = (1 to 3).map(k => slice(t, lit(k), m))
        .reduce((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
      when(size(t) >= 3, array_distinct(zipped)).otherwise(array(array_join(t, " ")))
    }
    def hash(sh: Column): Column =
      conv(substring(md5(sh), 1, 15), 16, 10).cast("long") % MinhashPrime

    /** The batch form: explode the shingles, min-aggregate per doc_id. */
    def exploded(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), TextAnalysis.tokens.as("t"))
        .select(col("doc_id"), explode(shingles(col("t"))).as("sh"))
        .select(col("doc_id"), hash(col("sh")).as("h"))
        .groupBy(col("doc_id"))
        .agg(min((col("h") * minhashPerms(0)._1 + minhashPerms(0)._2) % MinhashPrime).as("mh0"),
          (1 until NumPerms).map { i =>
            val (a, b) = minhashPerms(i)
            min((col("h") * a + b) % MinhashPrime).as(s"mh$i")
          }: _*)

    /** The per-row form: higher-order functions over the shingle array. */
    def perRow(t: Column): Column = {
      val hs = transform(shingles(t), hash(_))
      array(minhashPerms.map { case (a, b) =>
        array_min(transform(hs, h => (h * a + b) % MinhashPrime))
      }: _*)
    }

    /** Plain Scala, for words already split: the same shingles and hash. */
    def of(words: Seq[String]): Seq[Long] = {
      val sh = if (words.size >= 3) words.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(words.mkString(" "))
      val hs = sh.map { x =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16) % MinhashPrime
      }
      minhashPerms.toSeq.map { case (a, b) => hs.map(h => (h * a + b) % MinhashPrime).min }
    }
  }

  /** doc_id -> its 16 minimums (None for NULL), from columns mh0…mh15. */
  private def signatures(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Option[Long]]] =
    df.collect().map { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      id -> (0 until graft.ops.Dedup.NumPerms).map { i =>
        val j = r.fieldIndex(s"mh$i")
        if (r.isNullAt(j)) None else Some(r.getLong(j))
      }
    }.toMap

  private def longs(r: org.apache.spark.sql.Row, i: Int): Seq[Option[Long]] =
    r.getSeq[java.lang.Long](i).map(v => Option(v).map(_.longValue))

  test("property: graft_minhash equals the exploded md5 signature and the per-row HOF form") {
    import spark.implicits._
    import graft.ops.Dedup
    val crafted: Seq[(Long, Option[String])] = Seq(
      (1L, None), (2L, Some("")), (3L, Some(" -- ")), (4L, Some("one")),
      (5L, Some("one two")), (6L, Some("One, two; THREE")),
      (7L, Some("a b a b a b a b")), (8L, Some("\u00C9clair stra\u00DFe \u212Aelvin x1 x1 x1")),
      // one doc_id on two rows: the minimum over the union of their shingles
      (9L, Some("alpha beta gamma")), (9L, Some("delta epsilon zeta eta")),
      (10L, None), (10L, Some("only row with text")))
    val oracle = Map(
      1L -> Seq.fill(Dedup.NumPerms)(None),
      2L -> MinHashReference.of(Nil).map(Some(_)),
      3L -> MinHashReference.of(Nil).map(Some(_)),
      4L -> MinHashReference.of(Seq("one")).map(Some(_)),
      5L -> MinHashReference.of(Seq("one", "two")).map(Some(_)),
      6L -> MinHashReference.of(Seq("one", "two", "three")).map(Some(_)),
      7L -> MinHashReference.of(Seq("a", "b", "a")).zip(MinHashReference.of(Seq("b", "a", "b")))
        .map { case (x, y) => Some(x min y) },
      9L -> MinHashReference.of(Seq("alpha", "beta", "gamma"))
        .zip(MinHashReference.of(Seq("delta", "epsilon", "zeta", "eta")))
        .map { case (x, y) => Some(x min y) },
      10L -> MinHashReference.of(Seq("only", "row", "with", "text")).map(Some(_)))
    (1 to 3).foreach { k =>
      val rows = crafted ++ corpus(900 + k, 150).map { case (id, t) => (id + 1000, Some(t)) }
      // RDD-backed, so the signature runs in tasks, not folded on the driver
      val docs = spark.sparkContext.parallelize(rows, 3).toDF("doc_id", "text")
      val got = signatures(Dedup.minhashSigFrameOf(docs))
      assert(got === signatures(MinHashReference.exploded(docs)), s"seed ${900 + k}")
      assert(got.size === rows.map(_._1).distinct.size, "a doc lost its row")
      oracle.foreach { case (id, sig) => assert(got(id) === sig, s"doc $id") }
      docs.select(col("doc_id"), TextAnalysis.tokens.as("t"))
        .select(col("doc_id"), Dedup.minhashSigArray(col("t")), MinHashReference.perRow(col("t")))
        .collect().foreach { r =>
          assert(longs(r, 1) === longs(r, 2), s"seed ${900 + k}, doc ${r.getLong(0)}")
        }
    }
  }

  test("graft_minhash and the tokenizer are code-generated: a plain RDD action maps case as the JVM does") {
    import spark.implicits._
    import graft.ops.Dedup
    // tasks of `queryExecution.toRdd` get no SQL conf: an expression
    // evaluated interpreted there maps case with ICU, which knows
    // U+2C2F and U+1C89 and builds its title-case table on first use
    val samples = Seq("Word \u2C2F one two", "\u1C89 Ab cd EF", "plain ascii text here",
      "\u2C2F\u1C89 x")
    assert(samples.exists(t => com.ibm.icu.lang.UCharacter.toLowerCase(t) != t.toLowerCase),
      "no sample tells ICU's case mapping from the JVM's")
    val df = spark.sparkContext.parallelize(samples, 2).toDF("text")
      .select(col("text"), lower(col("text")), TextAnalysis.tokens.as("t"),
        // case-mapped words, non-ASCII kept, so the signature sees the mapping
        Dedup.minhashSigArray(split(lower(col("text")), " ")),
        Dedup.minhashSigArray(TextAnalysis.tokens))
    assert(df.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).nonEmpty)
    // a stage whose generated code does not compile would run interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got = try df.queryExecution.toRdd.map { r =>
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getArray(2).toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString),
        r.getArray(3).toLongArray.toSeq, r.getArray(4).toLongArray.toSeq)
    }.collect() finally spark.conf.unset("spark.sql.codegen.fallback")
    assert(got.length === samples.length)
    got.foreach { case (text, lowered, t, mapped, sig) =>
      val words = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      assert(lowered === text.toLowerCase, text)
      assert(t === words, text)
      assert(mapped === MinHashReference.of(text.toLowerCase.split(" ").toSeq), text)
      assert(sig === MinHashReference.of(words), text)
    }
  }
}
