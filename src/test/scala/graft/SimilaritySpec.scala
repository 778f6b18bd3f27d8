package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Similarity-search semantics: exact cosine algebra, brute-force top-k
  * ranking, LSH bucketing invariants (ANN ⊆ exact candidates). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine algebra") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(3.0, 4.0), Seq(3.0, 4.0))).toDF("a", "b")
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.norm(col("a")).as("n"),
      Similarity.cosine(col("a"), col("b")).as("c")).collect()
    got(0).getDouble(0) shouldBe 0.0
    got(0).getDouble(2) shouldBe 0.0
    got(1).getDouble(2) shouldBe 1.0 +- 1e-12
    got(2).getDouble(1) shouldBe 5.0
  }

  test("knnBruteForce ranks by cosine desc with deterministic tie-break") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),   // query
      (2L, Seq(2.0, 0.0)),   // cos 1.0
      (3L, Seq(1.0, 1.0)),   // cos ~0.707
      (4L, Seq(0.0, 1.0)),   // cos 0
      (5L, Seq(-1.0, 0.0))   // cos -1
    ).toDF("vec_id", "v")
    val q = corpus.filter(col("vec_id") === 1L)
    val out = Similarity.knnBruteForce(q, corpus, "vec_id", "v", 3)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")) shouldBe Array(2L, 3L, 4L)
    out.map(_.getAs[Int]("rank")) shouldBe Array(1, 2, 3)
  }

  test("knnBruteForce top-k aggregate == row_number window form (r17)") {
    // the bounded TopKScoreIdAgg replaced the window rank-and-cut: the
    // kept set, the rank each survivor gets, and the cos9 values must
    // all be bit-identical to the window form on the real fixture —
    // including score ties (round to 9 decimals manufactures them)
    val e = graft.ingest.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000)).as("qv"))
    val q = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("__qv"),
        Similarity.norm(col("qv")).as("__qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("qv").as("__cv"),
      Similarity.norm(col("qv")).as("__cn"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos9", round(
        Similarity.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")), 9))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos9").desc, col("neighbor_id").asc)
    val windowForm = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos9"))
      .as[(Long, Long, Int, Double)].collect().toSet
    val aggForm = Similarity.knnBruteForce(
        e.filter(pmod(col("vec_id"), lit(10)) === 0), e, "vec_id", "qv", 5)
      .as[(Long, Long, Int, Double)].collect().toSet
    aggForm should not be empty
    aggForm shouldBe windowForm
  }

  test("identical vectors always share every LSH bucket") {
    val df = Seq((1L, (0 until 64).map(_.toDouble)),
      (2L, (0 until 64).map(_.toDouble))).toDF("vec_id", "v")
    val b = Similarity.withHyperplaneBuckets(df, "v", tables = 2, planes = 8, dims = 64)
    val rows = b.orderBy("vec_id").collect()
    (0 until 2).foreach { t =>
      rows(0).getAs[Long](s"bucket_t$t") shouldBe rows(1).getAs[Long](s"bucket_t$t")
    }
  }

  test("knnLsh results are a subset of brute-force candidates with same scores") {
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map(i =>
      (i, Seq.fill(64)((rnd.nextInt(2001) - 1000).toDouble))).toDF("vec_id", "v")
    val brute = Similarity.knnBruteForce(
      corpus.filter(pmod(col("vec_id"), lit(4)) === 0), corpus, "vec_id", "v", 5)
      .select("query_id", "neighbor_id", "cos9").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = Similarity.knnLsh(corpus, "vec_id", "v", 5,
      tables = 2, planes = 4, dims = 64,
      queryFilter = pmod(col("__id"), lit(4)) === 0)
      .select("query_id", "neighbor_id", "cos9").as[(Long, Long, Double)].collect()
    lsh should not be empty
    // every ANN pair's score matches the exact score for that pair
    lsh.foreach { case (q, n, c) => brute.get((q, n)).foreach(_ shouldBe c) }
  }

  test("knnIvf scores agree with exact scores; probes bound the candidates") {
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 60L).map(i =>
      (i, Seq.fill(16)((rnd.nextInt(2001) - 1000).toDouble))).toDF("vec_id", "v")
    val brute = Similarity.knnBruteForce(
      corpus.filter(pmod(col("vec_id"), lit(6)) === 0), corpus, "vec_id", "v", 5)
      .select("query_id", "neighbor_id", "cos9").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = Similarity.knnIvfCentroids(corpus, "vec_id", "v", 5,
      cents = corpus.filter(pmod(col("vec_id"), lit(12)) === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cent_v")),
      nprobe = 2, queryFilter = pmod(col("__id"), lit(6)) === 0)
      .select("query_id", "neighbor_id", "cos9").as[(Long, Long, Double)].collect()
    ivf should not be empty
    ivf.foreach { case (q, n, c) => brute.get((q, n)).foreach(_ shouldBe c) }
  }

  test("hyperplanes are deterministic across invocations") {
    Similarity.hyperplane(0, 0, 8) shouldBe Similarity.hyperplane(0, 0, 8)
    Similarity.hyperplane(0, 0, 8) should not be Similarity.hyperplane(1, 0, 8)
  }

  test("LSH recall is monotone in the number of tables (the tuning knob)") {
    // more tables = union of more candidate buckets = candidate SUPERSET;
    // exact re-rank over a superset can only move the top-k closer to
    // the true top-k, so recall must not drop — the direction a user
    // turning the knob at 100 TB relies on
    val e = graft.ingest.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000)).as("qv"))
    val exact = Similarity.knnBruteForce(
        e.filter(pmod(col("vec_id"), lit(10)) === 0), e, "vec_id", "qv", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(tables: Int): Double = {
      val got = Similarity.knnLsh(e, "vec_id", "qv", 10,
          tables = tables, planes = 8, dims = 64,
          queryFilter = pmod(col("__id"), lit(10)) === 0)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    withClue(s"recall(1 table)=$r1 recall(2 tables)=$r2: ") {
      r2 should be >= r1
    }
    r2 should be > 0.0
  }

  test("ANN recall gate: one row per query, recall in (0,1], LSH finds signal") {
    val rows = graft.SparkEntry.queries("sim_ann_recall")(
      spark, "/root/testdata/sf0.001").collect()
    rows should not be empty
    rows.foreach { r =>
      r.getAs[Long]("n_exact") should be > 0L
      r.getAs[Long]("n_hit") should be <= r.getAs[Long]("n_exact")
      val recall = r.getAs[Double]("recall_at_k")
      recall should (be >= 0.0 and be <= 1.0)
    }
    // the index must beat "found nothing": mean recall strictly positive
    rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length should be > 0.0
  }

  test("k-means training improves the inertia objective") {
    // Exact Lloyd is non-increasing, but the means are RE-QUANTIZED
    // (round to integer coords) each iteration — near convergence that
    // perturbation can exceed a step's improvement, so the per-step
    // check carries a worst-case quantization-nudge slack
    // (|x−c'|² − |x−c|| ≤ dims·(|Δ|·2·max|x−c| …) bounded loosely as
    // n_vecs·dims on the summed objective) instead of asserting strict
    // monotonicity the algorithm doesn't guarantee on all data. The
    // end-to-end improvement stays strict: training must genuinely move
    // the objective off the init.
    val raw = graft.SparkEntry.queries("sim_kmeans_inertia")(
        spark, "/root/testdata/sf0.001").collect()
    val rows = raw
      .map(r => r.getAs[Long]("iter") -> r.getAs[Long]("total_d2"))
      .sortBy(_._1)
    rows.map(_._1) shouldBe Array(0L, 1L, 2L)
    val slack = raw.map(_.getAs[Long]("n_vecs")).max * 64L
    withClue(s"inertia per iteration ${rows.mkString(", ")}: ") {
      rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
        b should be <= (a + slack)
      }
      // and training genuinely moved off the init — strict, no slack
      rows.last._2 should be < rows.head._2
    }
  }

  test("exact re-rank (IVFADC+R) never loses recall vs its ADC shortlist") {
    // The re-rank re-scores the residual-ADC shortlist with EXACT d2, so
    // per query its top-K can only be a better-or-equal subset of what
    // the probed cells contain: mean recall@K must be >= the plain
    // residual-ADC row's. (Strict improvement is data-dependent — at
    // sf0.01 the measured lift is 0.34 -> 0.70 — so the pin is >=.)
    def meanRecall(name: String): Double = {
      val rows = graft.SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001").collect()
      rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    }
    val adc = meanRecall("sim_ivfpq_res_recall")
    val rr = meanRecall("sim_ivfpq_rerank_recall")
    withClue(s"residual-ADC recall=$adc, rerank recall=$rr: ") {
      rr should be >= adc
    }
  }

  test("SQ8 outranks every sub-byte code on the recall ladder") {
    // 8 bits per DIMENSION (64 B/vec) vs 16 bits per VECTOR (2 B/vec):
    // 32× the rate buys near-exact recall — the measured memory/recall
    // frontier the docs cite (sf0.01: SQ8 0.99 vs residual IVF-PQ 0.34).
    def meanRecall(name: String): Double = {
      val rows = graft.SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001").collect()
      rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    }
    val sq8 = meanRecall("sim_sq8_recall")
    val res = meanRecall("sim_ivfpq_res_recall")
    withClue(s"sq8 recall=$sq8, residual IVF-PQ recall=$res: ") {
      sq8 should be > res
      sq8 should be > 0.8 // near-exact in absolute terms, not just relative
    }
  }

  test("JL sketch recall is positive and competitive with the PQ full scan") {
    // sim_rp_search keeps the full projection dots on the hyperplanes
    // the LSH path truncates to sign bits (measured at sf0.01: 0.24 vs
    // LSH's 0.03 — the gates themselves use different query samples, so
    // the spec pins against the same-sample PQ full-scan gate instead:
    // the 16-long sketch must stay at least half as good as the 2-byte
    // code full scan, and strictly better than nothing).
    def meanRecall(name: String): Double = {
      val rows = graft.SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001").collect()
      rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    }
    val rp = meanRecall("sim_rp_recall")
    val pq = meanRecall("sim_pq_recall") // full-scan PQ, same %50 sample
    withClue(s"rp recall=$rp (pq full-scan=$pq): ") {
      rp should be > 0.0
      rp should be >= pq * 0.5
    }
  }

  test("SVD power iteration climbs the Rayleigh quotient") {
    // λ̂ = rq_num/rq_den estimates λ_max and is non-decreasing for exact
    // power iteration; re-quantization (round(w·100/max|w|)) perturbs
    // each step, so per-step gets 1% relative slack (the inertia-audit
    // doctrine) while the end-to-end climb is pinned strict. Ratios
    // compared by BigInt cross-multiplication — no float division.
    val rows = graft.SparkEntry.queries("sim_svd_converge")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("iter"),
        BigInt(r.getAs[Long]("rq_num")), BigInt(r.getAs[Long]("rq_den"))))
      .sortBy(_._1)
    rows.map(_._1) shouldBe Array(1L, 2L, 3L)
    rows.foreach { case (_, num, den) =>
      num should be > BigInt(0); den should be > BigInt(0)
    }
    rows.sliding(2).foreach { case Array((_, n1, d1), (_, n2, d2)) =>
      // n2/d2 >= 0.99 * n1/d1  ⟺  100·n2·d1 >= 99·n1·d2
      withClue(s"per-step Rayleigh drop beyond slack: $n1/$d1 -> $n2/$d2: ") {
        (n2 * d1 * 100) should be >= (n1 * d2 * 99)
      }
    }
    val (_, nF, dF) = rows.last
    val (_, n0, d0) = rows.head
    withClue(s"no end-to-end climb: $n0/$d0 -> $nF/$dF: ") {
      (nF * d0) should be > (n0 * dF)
    }
  }

  test("nprobe sweep: measured frontier is coherent with its two limits") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_nprobe_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    val mean = rows.groupBy(_._1).map { case (np, rs) =>
      np -> rs.map(_._5).sum / rs.length
    }
    mean.keySet shouldBe Set(1L, 3L, 5L)
    // every width finds signal
    mean.values.foreach(_ should be > 0.0)
    // the nprobe=3 rows ARE sim_ivfpq_recall's computation — the sweep
    // must agree with the standalone gate row-for-row
    val gate = SparkEntry.queries("sim_ivfpq_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    rows.filter(_._1 == 3L)
      .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe gate
    // the fixture's measured direction: unclustered embeddings make the
    // exact probe geometry a better ranker than the 4-bit codes, so
    // recall FALLS toward the full-scan ADC limit as probes widen
    withClue(s"mean recall by nprobe: $mean: ") {
      mean(1L) should be > mean(5L)
    }
  }

  test("IVF+SQ8: pruning composes with the near-exact code family") {
    val d = "/root/testdata/sf0.001"
    def meanRecall(name: String): Double = {
      val rows = graft.SparkEntry.queries(name)(spark, d).collect()
      rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    }
    val pruned = meanRecall("sim_ivfsq_recall")
    val prunedPq = meanRecall("sim_ivfpq_res_recall")
    // same probed cells, 64 B/vec codes instead of 2 B/vec: the better
    // code family must not rank worse over the identical candidate set
    withClue(s"IVF+SQ8=$pruned vs IVF+residual-PQ=$prunedPq: ") {
      pruned should be >= prunedPq
    }
    // and the row actually finds signal under pruning
    pruned should be > 0.0
  }

  test("production-path nprobe sweep agrees with the standalone gate and beats raw ADC") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_nprobe_rerank_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    val mean = rows.groupBy(_._1).map { case (np, rs) =>
      np -> rs.map(_._5).sum / rs.length
    }
    mean.keySet shouldBe Set(1L, 3L, 5L)
    // the nprobe=3 branch IS sim_ivfpq_rerank_recall's computation —
    // the sweep must agree with the standalone gate row-for-row
    val gate = SparkEntry.queries("sim_ivfpq_rerank_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    rows.filter(_._1 == 3L)
      .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe gate
    // at every width the refined path must beat the raw-ADC sweep's
    // same-width branch — refinement is the whole point of serving
    // IVFADC+R instead of the raw ranking
    val raw = SparkEntry.queries("sim_nprobe_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (np, rs) => np -> rs.map(_._5).sum / rs.length }
    Seq(1L, 3L, 5L).foreach { np =>
      withClue(s"nprobe=$np rerank=${mean(np)} raw=${raw(np)}: ") {
        mean(np) should be >= raw(np)
      }
    }
  }

  test("re-rank width sweep: 3K branch equals the gate; recall non-decreasing in R") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_rwidth_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    val mean = rows.groupBy(_._1).map { case (r, rs) =>
      r -> rs.map(_._5).sum / rs.length
    }
    mean.keySet shouldBe Set(10L, 30L, 100L)
    // the R=3K branch IS sim_ivfpq_rerank_recall's computation
    val gate = SparkEntry.queries("sim_ivfpq_rerank_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    rows.filter(_._1 == 30L)
      .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe gate
    // a wider shortlist only feeds the exact picker more candidates
    withClue(s"mean recall by R: $mean: ") {
      mean(10L) should be <= mean(30L)
      mean(30L) should be <= mean(100L)
    }
  }

  test("SemDeDup manifest covers the corpus and actually deduplicates") {
    val d = "/root/testdata/sf0.001"
    val n = graft.ingest.Tables.embeddings(spark, d).count()
    val man = SparkEntry.queries("curate_semdedup")(spark, d)
      .as[(Long, Long, Long)].collect()
    // one verdict per vector, nothing silently lost
    man.length.toLong shouldBe n
    man.map(_._1).distinct.length.toLong shouldBe n
    man.map(_._3).toSet should be(Set(0L, 1L))
    val dropped = man.count(_._3 == 1L).toLong
    withClue("cluster-scoped near-dup must both fire and not collapse: ") {
      dropped should be > 0L
      dropped should be < n
    }
    // within every cell the lowest-id member survives (a keeper can
    // never be dropped by construction — only higher ids are)
    man.groupBy(_._2).foreach { case (_, ms) =>
      ms.minBy(_._1)._3 shouldBe 0L
    }
  }

  test("semantic decontamination: audit counts nest and the scan finds signal") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("curate_sem_decontaminate")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    rows should not be empty
    rows.foreach { case (cell, cross, contam, drops) =>
      withClue(s"cell $cell: ") {
        contam should be <= cross
        drops should be <= contam
      }
    }
    // the fixture's near-dup pairs straddle the split boundary often
    // enough that an empty report means the cross-split predicate broke
    rows.map(_._3).sum should be > 0L
    rows.map(_._4).sum should be > 0L
  }

  test("cluster-balanced sampling caps oversized cells, keeps small ones whole") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("curate_cluster_balance")(spark, d)
      .as[(Long, Long, Long)].collect()
    rows should not be empty
    rows.foreach { case (cell, total, kept) =>
      withClue(s"cell $cell: ") {
        kept should be <= total
        kept should be > 0L
        // an at-or-under-quota cell is never down-sampled
        if (total <= 32L) kept shouldBe total
      }
    }
    // the sampler must actually down-sample somewhere at this sf (every
    // trained cell holds 37-64 members against the quota of 32)
    rows.map(_._3).sum should be < rows.map(_._2).sum
  }

  test("filtered IVF pre-filter keeps shortlist slots a post-filter would waste") {
    // one cell, one query along (1,0); the two vectors closest to the
    // query are DISALLOWED, so an unfiltered top-2 post-filtered by the
    // predicate returns nothing while the pre-filtered operator returns
    // the two allowed vectors — the exact recall failure mode
    // sim_filtered_search's scaladoc claims pre-filtering avoids.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.99, 0.1)),
      (3L, Seq(0.98, 0.15)),
      (4L, Seq(0.9, 0.3)),
      (5L, Seq(0.5, 0.8))).toDF("vec_id", "v")
    val cents = Seq((0L, Seq(0.0, 0.0))).toDF("cent_id", "cent_v")
    val allowed = Seq(4L, 5L).toDF("vec_id")
    val pre = Similarity.knnIvfCentroids(corpus, "vec_id", "v", 2,
        cents = cents, nprobe = 1, queryFilter = col("__id") === 1L,
        allowed = Some(allowed))
      .collect()
    pre.map(_.getAs[Long]("neighbor_id")).toSet shouldBe Set(4L, 5L)
    val post = Similarity.knnIvfCentroids(corpus, "vec_id", "v", 2,
        cents = cents, nprobe = 1, queryFilter = col("__id") === 1L)
      .join(allowed.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_semi")
      .collect()
    post shouldBe empty
  }

  test("filtered search returns only predicate-passing neighbors on the fixture") {
    val d = "/root/testdata/sf0.001"
    val en = graft.ingest.Tables.documents(spark, d)
      .filter(col("lang") === "en")
      .select("doc_id").as[Long].collect().toSet
    val out = SparkEntry.queries("sim_filtered_search")(spark, d)
      .select("neighbor_id").as[Long].collect()
    out should not be empty
    out.foreach(id => en should contain(id))
  }

  test("pre-filtered recall dominates post-filtered recall on the fixture") {
    val d = "/root/testdata/sf0.001"
    def hits(name: String): (Long, Long) = {
      val rows = SparkEntry.queries(name)(spark, d)
        .select("n_exact", "n_hit").as[(Long, Long)].collect()
      (rows.map(_._1).sum, rows.map(_._2).sum)
    }
    val (preExact, preHit) = hits("sim_filtered_recall")
    val (postExact, postHit) = hits("sim_postfilter_recall")
    postExact shouldBe preExact // same filtered ground truth
    preHit should be >= postHit
    preHit should be > 0L
  }

  test("index drift audit covers the corpus and shows the fit-to-training gap") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_index_drift")(spark, d)
      .select("n_trained", "n_arrival", "d2_trained", "d2_arrival")
      .as[(Long, Long, Long, Long)].collect()
    rows should not be empty
    val total = graft.ingest.Tables.embeddings(spark, d).count()
    rows.map(r => r._1 + r._2).sum shouldBe total
    // centroids were trained on the even cohort only, so the arrival
    // cohort's corpus-wide mean assignment distance cannot beat the
    // trained cohort's (the gap IS the staleness signal)
    val meanTrained = rows.map(_._3).sum.toDouble / rows.map(_._1).sum
    val meanArrival = rows.map(_._4).sum.toDouble / rows.map(_._2).sum
    meanArrival should be >= meanTrained
  }

  test("hybrid RRF fusion equals a driver-side recomputation from its two branches") {
    val d = "/root/testdata/sf0.001"
    val lex = SparkEntry.queries("corpus_bm25")(spark, d)
      .select("query_doc", "doc_id", "rk")
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, r) => (q, c) -> r }.toMap
    val e = graft.ingest.Tables.embeddings(spark, d).select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000)).as("qv"))
    val den = Similarity.knnBruteForce(
        e.filter(pmod(col("vec_id"), lit(100)) === 0), e, "vec_id", "qv", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, r) => (q, c) -> r }.toMap
    val lcm = 495593280L
    val expected = (lex.keySet ++ den.keySet).groupBy(_._1).flatMap {
      case (q, pairs) =>
        pairs.toSeq.map { p =>
          val lr = lex.getOrElse(p, 0L)
          val dr = den.getOrElse(p, 0L)
          val rrf = (if (lr > 0) lcm / (60 + lr) else 0L) +
            (if (dr > 0) lcm / (60 + dr) else 0L)
          (p._2, lr, dr, rrf)
        }.sortBy { case (id, _, _, rrf) => (-rrf, id) }
          .take(5).zipWithIndex
          .map { case ((id, lr, dr, rrf), i) =>
            (q, (i + 1).toLong, id, lr, dr, rrf) }
    }.toSet
    expected should not be empty
    val got = SparkEntry.queries("corpus_hybrid_rrf")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    got shouldBe expected
  }

  test("MMR trades relevance for diversity on the hand fixture") {
    // query at the origin; a is closest, b is a near-duplicate of a,
    // c/d are farther but diverse (and symmetric: a margin tie)
    val corpus = Seq(
      (2L, Seq(10.0, 0.0)),   // a: d2(q,a) = 100
      (3L, Seq(11.0, 0.0)),   // b: d2(q,b) = 121, d2(a,b) = 1
      (4L, Seq(0.0, 12.0)),   // c: d2(q,c) = 144, d2(a,c) = 244
      (5L, Seq(0.0, -12.0))   // d: symmetric to c
    ).toDF("vec_id", "qv")
    val pool = Seq((1L, 2L, 100L), (1L, 3L, 121L),
      (1L, 4L, 144L), (1L, 5L, 144L)).toDF("query_id", "vec_id", "d2")
    val picks = Similarity.mmrDiversify(pool, corpus, 3)
      .orderBy("mmr_rank").collect()
      .map(r => r.getAs[Long]("mmr_rank") -> r.getAs[Long]("vec_id"))
    // pick 1 = pure relevance (a); pick 2: margin(b) = 1 − 121 = −120,
    // margin(c) = margin(d) = 244 − 144 = 100 → tie → min id (c);
    // pick 3: margin(b) = −120, margin(d) = 244 − 144 = 100 → d.
    // b — the SECOND most relevant candidate — never makes the list.
    picks shouldBe Array(1L -> 2L, 2L -> 4L, 3L -> 5L)
  }

  test("MMR list is measurably more spread than the relevance top-k") {
    val rows = SparkEntry.queries("sim_mmr_diversity")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("sum_d2"))).toMap
    val (nTop, sTop) = rows("topk")
    val (nMmr, sMmr) = rows("mmr")
    nMmr shouldBe nTop // same list length per query → same pair count
    nMmr should be > 0L
    withClue(s"intra-list spread topk=$sTop mmr=$sMmr: ") {
      sMmr should be > sTop
    }
    // and the served list is exactly MmrK rows per pooled query
    val sel = SparkEntry.queries("sim_mmr_rerank")(
      spark, "/root/testdata/sf0.001")
    val perQuery = sel.groupBy("query_id").count()
      .select(countDistinct(col("count"))).head().getLong(0)
    perQuery shouldBe 1L // every query serves the same list length
  }

  test("nearest-centroid classifier exposes the train-fit vs held-out gap") {
    val d = "/root/testdata/sf0.001"
    // training half: one centroid cell per (label, dim)
    val cents = SparkEntry.queries("sim_centroid_train")(spark, d).collect()
    val nLabels = cents.map(_.getAs[Long]("label")).distinct.length
    cents.length shouldBe nLabels * 64
    // eval half: every vector classified exactly once, split-tagged
    val cm = SparkEntry.queries("sim_centroid_confusion")(spark, d).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("label"),
        r.getAs[Long]("pred"), r.getAs[Long]("n")))
    val total = graft.ingest.Tables.embeddings(spark, d).count()
    cm.map(_._4).sum shouldBe total
    def acc(split: String): Double = {
      val s = cm.filter(_._1 == split)
      s.filter(x => x._2 == x._3).map(_._4).sum.toDouble / s.map(_._4).sum
    }
    // the audit's reason to exist: on this fixture the labels are NOT
    // geometrically clustered, so train-fit accuracy (memorization of
    // 10 centroids over a small pool) towers over held-out accuracy
    // (~chance) — the overfit / label-noise gap a labeling pipeline
    // must catch before trusting propagated labels
    withClue(s"train=${acc("train")} heldout=${acc("heldout")}: ") {
      acc("train") should be >= 0.25 // well above the 0.10 chance floor
      acc("train") should be > acc("heldout") + 0.1
    }
  }

  test("serve-delta: offline base + stateless admit == full rebuild, delta served") {
    val d = "/root/testdata/sf0.001"
    val served = SparkEntry.queries("sim_index_serve_delta")(spark, d)
    val rows = served.as[(Long, Long, Long, Double, Long)].collect()
    rows should not be empty
    // the admitted (odd-id) cohort actually surfaces in answers — the
    // measured proof the ADD path makes arrivals searchable pre-retrain
    rows.count(_._5 == 1L) should be > 0
    // and union-serving loses NOTHING vs rebuilding the whole index on
    // base+delta under the same gen-0 centroids: assignment is
    // per-vector under fixed centroids, so the two are row-identical
    val cents = graft.queries.SimilarityQueries.cohortCentroids(spark, d)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val rebuilt = Similarity.knnIvfCentroids(e, "vec_id", "qv", 10,
        cents = cents, nprobe = 3,
        queryFilter = pmod(col("__id"), lit(10)) === 0)
      .as[(Long, Long, Int, Double)].collect()
      .map { case (q, n, r, c) => (q, n, r.toLong, c) }.toSet
    rows.map { case (q, n, r, c, _) => (q, n, r, c) }.toSet shouldBe rebuilt
  }

  test("external-id-space serving: excludeSelfId=false keeps colliding ids") {
    // a request stream has its OWN id space: request id 3 numerically
    // collides with corpus vec_id 3 but is a different vector — the
    // self-exclusion arm would silently drop corpus vector 3 from its
    // candidates, the external arm must keep it
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0))).toDF("vec_id", "v")
    val requests = Seq((3L, Seq(0.0, 2.0))).toDF("vec_id", "v")

    val ext = Similarity.knnBruteForce(requests, corpus, "vec_id", "v", 4,
      excludeSelfId = false)
    // the colliding corpus id IS served — rank 1, exact cosine 1.0
    val top = ext.orderBy("rank").collect()
    top.length shouldBe 4
    top(0).getAs[Long]("neighbor_id") shouldBe 3L
    top(0).getAs[Double]("cos9") shouldBe 1.0
    // and the self-query arm would have lost it (the bug the knob fixes)
    Similarity.knnBruteForce(requests, corpus, "vec_id", "v", 4)
      .filter(col("neighbor_id") === 3L).count() shouldBe 0L
    // the external arm's all-pairs join rides the broadcast hint — the
    // request batch broadcasts, the corpus never reshuffles
    val plan = ext.queryExecution.executedPlan.toString
    withClue(plan) { plan should include("BroadcastNestedLoopJoin") }

    // same contract on the pre-assigned IVF serving kernel
    val cents = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
      .toDF("cent_id", "cent_v")
    val (assigned, _) = Similarity.ivfAssignCentroids(
      corpus, "vec_id", "v", cents, nprobe = 1)
    val served = Similarity.knnIvfFilteredQueries(requests, "vec_id", "v",
      k = 4, assignedNbrs = assigned, cents = cents, nprobe = 2,
      excludeSelfId = false)
    served.filter(col("neighbor_id") === 3L).count() shouldBe 1L
    Similarity.knnIvfFilteredQueries(requests, "vec_id", "v",
        k = 4, assignedNbrs = assigned, cents = cents, nprobe = 2)
      .filter(col("neighbor_id") === 3L).count() shouldBe 0L
  }

  test("neighbor graph: degree-capped, contiguous ranks, exact symmetric scores") {
    val d = "/root/testdata/sf0.001"
    val edges = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    edges should not be empty
    val bySrc = edges.groupBy(_._1)
    // the out-degree cap IS the serving-cost bound — never exceeded
    bySrc.values.foreach(_.length should be <= 6)
    // per-src ranks are contiguous from 1 in (d2 asc, dst asc) order
    bySrc.values.foreach { es =>
      val sorted = es.sortBy(e => (e._4, e._2))
      sorted.map(_._3).toSeq shouldBe (1L to es.length)
    }
    // d2 is a metric of the PAIR: any reverse edge carries the same d2
    val fwd = edges.map(e => (e._1, e._2) -> e._4).toMap
    edges.foreach { e =>
      fwd.get((e._2, e._1)).foreach(_ shouldBe e._4)
    }
  }

  test("graph beam search: ≤K contiguous ranks, hops strictly refine the entry scan") {
    val d = "/root/testdata/sf0.001"
    val hop0 = graft.queries.SimilarityQueries.graphSearchAt(spark, d, 0)
      .as[(Long, Long, Long, Long)].collect()
    val hop2 = graft.queries.SimilarityQueries.graphSearchAt(spark, d, 2)
      .as[(Long, Long, Long, Long)].collect()
    hop2 should not be empty
    val byQ2 = hop2.groupBy(_._1)
    byQ2.values.foreach { rs =>
      rs.length should be <= 10
      rs.sortBy(r => (r._4, r._2)).map(_._3).toSeq shouldBe (1L to rs.length)
    }
    // hops only ADD candidates, so every query's summed top-K distance
    // is monotonically non-increasing vs the entry-cell (nprobe=1) scan
    val sum0 = hop0.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._4).sum }
    byQ2.foreach { case (q, rs) =>
      rs.map(_._4).sum should be <= sum0(q)
    }
    // and on this fixture the traversal genuinely reaches past the
    // entry cell: at least one served neighbor is a hop discovery
    val e0 = hop0.map(r => (r._1, r._2)).toSet
    hop2.count(r => !e0.contains((r._1, r._2))) should be > 0
  }

  test("hop sweep: recall monotone in depth, hop-2 branch equals the standalone gate") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_graph_hop_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    rows should not be empty
    // sum in SORTED order: the mean comparison is between depths whose
    // per-query recalls can be identical multisets, and an
    // order-dependent double sum (collect order is partitioning-
    // dependent) injects ±ulp noise that flips a mathematically-equal
    // comparison (seen when r16 fused the sweep into one traversal)
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sorted.sum / rs.length).toMap
    // hops only add candidates — mean recall can never fall with depth
    mean(0L) should be <= mean(1L)
    mean(1L) should be <= mean(2L)
    // the hops=2 branch must be the standalone recall row, row for row
    // (a drifted sweep would grade a different search than it claims)
    val gate = SparkEntry.queries("sim_graph_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    rows.filter(_._1 == 2L).map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe gate
  }

  test("graph serving answers external queries: a copied vector finds its original at rank 1") {
    val d = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (assigned, _) = Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 1)
    val edges = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
    // EXTERNAL queries under the external-serving contract
    // (excludeSelfId = false): corpus vector 17's coordinates once
    // under a fresh id outside the corpus id space, and once under an
    // id that COLLIDES with an unrelated corpus vec_id — the serving
    // path must neither depend on the query having an assignment row
    // of its own nor drop the colliding corpus vector from results
    val v17 = e.filter(col("vec_id") === 17L)
      .select(col("qv")).as[Seq[Double]].collect()(0)
    val asgCkpt = assigned.localCheckpoint()
    val ext = Seq((999999L, v17)).toDF("query_id", "qv")
    val got = Similarity.graphSearchQueries(
        ext, cents, asgCkpt, edges,
        hops = 2, beam = 10, k = 10, excludeSelfId = false)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    got should not be empty
    got.map(_._3).toSeq shouldBe (1L to got.length)
    // the original is the exact-match nearest neighbor: rank 1, d2 = 0
    got.head._2 shouldBe 17L
    got.head._4 shouldBe 0L
    // every served neighbor is a real corpus member
    val ids = e.select(col("vec_id")).as[Long].collect().toSet
    got.foreach(r => ids should contain(r._2))
    // id COLLISION: the same coordinates under query_id 17 (an existing
    // corpus id) — with excludeSelfId = false the colliding vector 17
    // is still returned at rank 1 (the r13-advice failure mode: the
    // old hard-coded exclusion silently dropped it)
    val coll = Similarity.graphSearchQueries(
        Seq((17L, v17)).toDF("query_id", "qv"), cents, asgCkpt, edges,
        hops = 2, beam = 10, k = 10, excludeSelfId = false)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    coll.head._2 shouldBe 17L
    coll.head._4 shouldBe 0L
    // and the default (corpus-member twin contract) still excludes it
    val selfEx = Similarity.graphSearchQueries(
        Seq((17L, v17)).toDF("query_id", "qv"), cents, asgCkpt, edges,
        hops = 2, beam = 10, k = 10)
      .as[(Long, Long, Long, Long)].collect()
    selfEx.map(_._2) should not contain 17L
  }

  test("beam sweep: recall monotone in width, beam-10 branch equals the standalone gate") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_graph_beam_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    rows should not be empty
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    // a wider beam keeps a strict superset of visited candidates each
    // hop, so recall can never fall with width
    mean(5L) should be <= mean(10L)
    mean(10L) should be <= mean(20L)
    // the beam-10 branch must be the standalone recall row, row for row
    val gate = SparkEntry.queries("sim_graph_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    rows.filter(_._1 == 10L).map(r => (r._2, r._3, r._4, r._5))
      .toSet shouldBe gate
  }

  test("degree sweep: one build serves every width, degree-6 branch equals the gate") {
    val d = "/root/testdata/sf0.001"
    // the widest build's erank-6 prefix IS the production edge list —
    // the sweep grades prefixes of one scored pair frame, not three
    // independent builds
    val wide6 = graft.queries.SimilarityQueries.nnGraphEdgesWide(spark, d)
      .filter(col("erank") <= 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    val prod = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    wide6 shouldBe prod
    val rows = SparkEntry.queries("sim_graph_degree_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    rows should not be empty
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    // direction is measured, not assumed (a wider beam-step can in
    // principle detour); on every fixture measured so far the curve
    // rises with degree — pin the ends so a silent regression shows
    mean(3L) should be <= mean(12L)
    // the degree-6 branch must be the standalone recall row
    val gate = SparkEntry.queries("sim_graph_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    rows.filter(_._1 == 6L).map(r => (r._2, r._3, r._4, r._5))
      .toSet shouldBe gate
  }

  test("graph serve-delta: entry seeding equals a rebuild's, delta served without edges") {
    val d = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val unionAsg = graft.queries.SimilarityQueries.graphDeltaAssigned(spark, d)
    val edgesBase = graft.queries.SimilarityQueries.nnGraphEdgesBase(spark, d)
    // a REBUILT edge list over base ∪ delta (what a full rebuild ships)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (_, probes) = Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 2)
    val edgesRebuilt = Similarity.nnGraph(
      probes.select(col("query_id").as("id"), col("cell_id")),
      e.select(col("vec_id"), col("qv").as("v")), 6).localCheckpoint()
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("query_id"), col("qv"))
    // hops = 0 is a pure entry-cell scan of the assignment — which
    // edge list rides along is irrelevant, so the ADD path's seeding
    // is ROW-IDENTICAL to a full rebuild's (per-vector assignment
    // under fixed centroids: the delta-reachability direction)
    def at0(edges: org.apache.spark.sql.DataFrame) =
      Similarity.graphSearchQueries(q, cents, unionAsg, edges,
          hops = 0, beam = 10, k = 10)
        .as[(Long, Long, Long, Long)].collect().toSet
    val served = at0(edgesBase)
    served should not be empty
    served shouldBe at0(edgesRebuilt)
    // an external query at a DELTA vector's coordinates finds it at
    // rank 1, d2 = 0, through the entry stage alone — no edge points
    // at a delta vector, yet it serves
    val vOdd = e.filter(col("vec_id") === 17L)
      .select(col("qv")).as[Seq[Double]].collect()(0)
    val hit = Similarity.graphSearchQueries(
        Seq((999999L, vOdd)).toDF("query_id", "qv"), cents, unionAsg,
        edgesBase, hops = 2, beam = 10, k = 10, excludeSelfId = false)
      .as[(Long, Long, Long, Long)].collect().minBy(_._3)
    hit._2 shouldBe 17L
    hit._4 shouldBe 0L
    // the registered row really serves delta members in its top-10s
    val row = SparkEntry.queries("sim_graph_serve_delta")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    row.map(_._5).toSet shouldBe Set(0L, 1L)
  }

  test("entry sweep: width 1 IS the production search; wider seeding pays") {
    val d = "/root/testdata/sf0.001"
    // the width-1 branch must be the production traversal, row for row
    val prod = graft.queries.SimilarityQueries.graphSearchAt(spark, d, 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val w1 = graft.queries.SimilarityQueries
      .graphSearchEntryAt(spark, d, hops = 2, beam = 10, entryCells = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    w1 shouldBe prod
    val rows = SparkEntry.queries("sim_graph_entry_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    rows should not be empty
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    mean.keySet shouldBe Set(1L, 2L, 3L)
    // direction is measured, not assumed (a wider seed supersets
    // hop-0 but the fixed beam prunes a larger set): on every fixture
    // measured the width-2 seed recovers recall the single-cell entry
    // leaves behind — pin the gain so a regression shows
    mean(1L) should be <= mean(2L)
    mean(1L) should be <= mean(3L)
    // and the width-1 branch's recall rows are the standalone gate's
    val gate = SparkEntry.queries("sim_graph_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    rows.filter(_._1 == 1L).map(r => (r._2, r._3, r._4, r._5))
      .toSet shouldBe gate
  }

  test("served entry width equals the sweep's batch kernel at width 2") {
    val d = "/root/testdata/sf0.001"
    // the SERVING path (raw query vectors probed against broadcast
    // centroids, the shape every graph writer runs) must agree with
    // the sweep's corpus-side kernel for corpus-member queries — the
    // entry-width knob serves exactly what the sweep graded
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val qdf = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("query_id"), col("qv"))
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val (asg, _) = Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 1)
    val edges = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
    val served = Similarity.graphSearchQueries(qdf, cents, asg, edges,
        hops = 2, beam = 10, k = 10, excludeSelfId = true, entryCells = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    served should not be empty
    val sweep = graft.queries.SimilarityQueries
      .graphSearchEntryAt(spark, d, hops = 2, beam = 10, entryCells = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    served shouldBe sweep
  }

  test("delta drift: recall never improves as the edge-less delta grows, floor holds") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_graph_delta_drift")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    rows should not be empty
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    mean.keySet shouldBe Set(10L, 33L, 50L)
    // the measured direction the rebuild trigger prices: a half-stale
    // index serves worse than a tenth-stale one
    mean(50L) should be <= mean(10L)
    // a priori floor: entry seeding scans the FULL assignment whatever
    // the edge list, and hops only add — so even the stalest branch
    // can never lose to the hop-0 entry-cell scan
    def meanOf(rows: Array[(Long, Long, Long, Double)]) =
      rows.map(_._4).sum / rows.length
    val floor = meanOf(
      graft.queries.SimilarityQueries.recall(
        graft.queries.SimilarityQueries.exactL2TopK(spark, d),
        graft.queries.SimilarityQueries.graphSearchAt(spark, d, 0))
        .as[(Long, Long, Long, Double)].collect())
    for (pct <- Seq(10L, 33L, 50L)) mean(pct) should be >= floor
  }

  test("delta patch IS the rebuild's delta rows; patched serving never loses to stale") {
    val d = "/root/testdata/sf0.001"
    // the patch kernel must produce EXACTLY what a full rebuild would
    // for the delta srcs — same pair space, same cap, same tie-break
    val patch = graft.queries.SimilarityQueries.graphPatchedEdges(spark, d, 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    patch should not be empty
    val rebuildDelta = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
      .filter(col("src") % 2 === 0)
      .as[(Long, Long, Long, Long)].collect().toSet
    patch shouldBe rebuildDelta
    // and serving base ∪ patch recovers recall the drift cost
    val rows = SparkEntry.queries("sim_graph_delta_patch")(spark, d)
      .as[(String, Long, Long, Long, Double)].collect()
    rows should not be empty
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    mean.keySet shouldBe Set("stale", "patched")
    mean("patched") should be >= mean("stale")
  }

  test("patch sweep: patched never loses to stale at any fraction, 50% branch matches the patch row") {
    val d = "/root/testdata/sf0.001"
    val patched = SparkEntry.queries("sim_graph_patch_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    patched should not be empty
    val pm = patched.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    pm.keySet shouldBe Set(10L, 33L, 50L)
    // the measured direction per fraction: patching the delta srcs'
    // out-edges never loses to serving the stale base list (mean, not
    // per-query — the fixed beam prunes a larger candidate set, so
    // single queries can detour)
    val stale = SparkEntry.queries("sim_graph_delta_drift")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    val sm = stale.groupBy(_._1).view
      .mapValues(rs => rs.map(_._5).sum / rs.length).toMap
    for (pct <- Seq(10L, 33L, 50L))
      withClue(s"delta $pct%: ") { pm(pct) should be >= sm(pct) }
    // the 50% branch IS sim_graph_delta_patch's patched half — the
    // sweep generalizes that row, it must not drift from it
    val patchRow = SparkEntry.queries("sim_graph_delta_patch")(spark, d)
      .as[(String, Long, Long, Long, Double)].collect()
      .filter(_._1 == "patched")
      .map(r => (r._2, r._3, r._4, r._5)).toSet
    patched.filter(_._1 == 50L)
      .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe patchRow
  }

  test("hop sweep trace: every depth slice equals the standalone-depth search") {
    val d = "/root/testdata/sf0.001"
    // the r16 fused trace must be ROW-IDENTICAL per depth to running
    // the traversal standalone at that depth — the fusion shares cost,
    // never rows
    val sweep = SparkEntry.queries("sim_graph_hop_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    sweep should not be empty
    for (h <- 0 to 2) {
      val standalone = graft.queries.SimilarityQueries.recall(
          graft.queries.SimilarityQueries.exactL2TopK(spark, d),
          graft.queries.SimilarityQueries.graphSearchAt(spark, d, h))
        .as[(Long, Long, Long, Double)].collect().toSet
      withClue(s"hops=$h: ") {
        sweep.filter(_._1 == h.toLong)
          .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe standalone
      }
    }
  }

  test("drift sweep branches equal standalone per-fraction searches") {
    val d = "/root/testdata/sf0.001"
    // the r16 branch-fused traversal must reproduce each fraction's
    // rows exactly as the unfused per-branch construction does
    val sweep = SparkEntry.queries("sim_graph_delta_drift")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    sweep should not be empty
    for (m <- Seq(10, 3, 2)) {
      val standalone = graft.queries.SimilarityQueries.recall(
          graft.queries.SimilarityQueries.exactL2TopK(spark, d),
          graft.queries.SimilarityQueries.graphSearchAt(spark, d,
            2, 10, Some(graft.queries.SimilarityQueries
              .nnGraphEdgesBaseAt(spark, d, m))))
        .as[(Long, Long, Long, Double)].collect().toSet
      withClue(s"delta ${100 / m}%: ") {
        sweep.filter(_._1 == (100 / m).toLong)
          .map(r => (r._2, r._3, r._4, r._5)).toSet shouldBe standalone
      }
    }
  }

  test("branched base/patch edge builds equal the standalone kernels") {
    val d = "/root/testdata/sf0.001"
    // the r16 by-m build fusion must reproduce, per fraction, exactly
    // what the standalone single-cohort kernels build
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val eco = e.filter(col("vec_id") % 3 =!= 0)
    val (_, probesCo) = Similarity.ivfAssignCentroids(
      eco, "vec_id", "qv", cents, nprobe = 2)
    val inlineBase = Similarity.nnGraph(
        probesCo.select(col("query_id").as("id"), col("cell_id")),
        eco.select(col("vec_id"), col("qv").as("v")), 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    inlineBase should not be empty
    graft.queries.SimilarityQueries.nnGraphEdgesBaseAt(spark, d, 3)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe inlineBase
    val (_, probesAll) = Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 2)
    val gp = probesAll.select(col("query_id").as("id"), col("cell_id"))
    val inlinePatch = Similarity.nnGraphPatch(
        gp.filter(col("id") % 3 === 0), gp,
        e.select(col("vec_id"), col("qv").as("v")), 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    inlinePatch should not be empty
    graft.queries.SimilarityQueries.graphPatchedEdges(spark, d, 3)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe inlinePatch
  }

  test("even-id base edge build equals an inline cohort rebuild") {
    val d = "/root/testdata/sf0.001"
    // r17: nnGraphEdgesBase derives from the shared scored-pair frame
    // (src∧dst-even filter + rank cap); it must still be row-identical
    // to the standalone kernel run on the even-id cohort's own probes
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .filter(col("vec_id") % 2 === 0)
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val (_, probes) = Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 2)
    val inline = Similarity.nnGraph(
        probes.select(col("query_id").as("id"), col("cell_id")),
        e.select(col("vec_id"), col("qv").as("v")), 6)
      .as[(Long, Long, Long, Long)].collect().toSet
    inline should not be empty
    graft.queries.SimilarityQueries.nnGraphEdgesBase(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet shouldBe inline
  }

  test("hierarchical assignment: exact when coarse=fine, probe-width monotone to flat") {
    // 40 vectors on a line, fine centroids at 0/100/200/300 — cluster
    // c's member j sits at 100c+j (j in 0..9), so every member's
    // nearest fine centroid is unambiguously 100c
    val vecs = (0L until 40L).map { i =>
      val c = i / 10; val j = i % 10
      (i, Seq((100 * c + j).toDouble, 0.0))
    }.toDF("vec_id", "qv")
    val cents = Seq(0L, 1L, 2L, 3L)
      .map(c => (c, Seq((100 * c).toDouble, 0.0))).toDF("cent_id", "cent_v")
    val flat = Similarity.ivfAssignCentroids(vecs, "vec_id", "qv",
        cents, nprobe = 1)._1
      .select(col("__id").as("id"), col("cell_id"))
      .as[(Long, Long)].collect().toMap
    flat.size shouldBe 40
    // coarse = the fine set itself, one probe: hier IS flat
    val coarseAsFine = cents
      .select(col("cent_id").as("co_id"), col("cent_v").as("co_v"))
    val same = Similarity.hierAssignCentroids(vecs, "vec_id", "qv",
        cents, coarseAsFine, nprobeCs = Seq(1))
      .as[(Long, Long)].collect().toMap
    same shouldBe flat
    // a 2-cell coarse level at 0 and 210: fine 0/100 hang off coarse
    // 0, fine 200/300 off coarse 210. Cluster-1 members at 106..109
    // sit nearer coarse 210 (|p-210| = 101..104 < p) while their true
    // fine centroid 100 lives under coarse 0 — width 1 probes only
    // coarse 210's cells {200,300} and misassigns exactly those 4
    // vectors; width 2 ( = k_c) sees every fine centroid and recovers
    // flat. Exactly one row per id at every width.
    val coarse2 = Seq((0L, Seq(0.0, 0.0)), (2L, Seq(210.0, 0.0)))
      .toDF("co_id", "co_v")
    def agreeAt(w: Int): (Int, Int) = {
      val rows = Similarity.hierAssignCentroids(vecs, "vec_id", "qv",
        cents, coarse2, nprobeCs = Seq(w)).as[(Long, Long)].collect()
      rows.map(_._1).distinct.length shouldBe 40
      rows.length shouldBe 40
      (rows.count(r => flat(r._1) == r._2), rows.length)
    }
    val (a1, _) = agreeAt(1)
    val (a2, _) = agreeAt(2)
    a1 shouldBe 36 // the 106..109 boundary band, and nothing else
    a2 shouldBe 40 // width = k_c sees all fine cells ⇒ ≡ flat
  }

  test("hier probe sweep query: rate monotone in width, full agreement only at the top") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_hier_probe_sweep")(spark, d)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    rows.map(_._1).toSeq shouldBe Seq(1L, 2L, 4L)
    // agreement never falls as the probe widens (more coarse cells
    // can only add candidate fine centroids)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      hi._4 should be >= lo._4
    }
    // per-vector detail row agrees with the sweep's width-2 aggregate
    val detail = SparkEntry.queries("sim_hier_assign")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    detail.length shouldBe rows.find(_._1 == 2L).get._2
    detail.map(_._4).sum shouldBe rows.find(_._1 == 2L).get._3
  }

  test("graph recall beats zero and never loses to the entry-cell floor") {
    val d = "/root/testdata/sf0.001"
    def mean(rows: Array[(Long, Long, Long, Double)]) =
      rows.map(_._4).sum / rows.length
    val floor = graft.queries.SimilarityQueries.recall(
      graft.queries.SimilarityQueries.exactL2TopK(spark, d),
      graft.queries.SimilarityQueries.graphSearchAt(spark, d, 0))
      .as[(Long, Long, Long, Double)].collect()
    val got = SparkEntry.queries("sim_graph_recall")(spark, d)
      .as[(Long, Long, Long, Double)].collect()
    got should not be empty
    mean(got) should be > 0.0
    mean(got) should be >= mean(floor)
  }

  test("rank-prefix widths and k are validated at plan construction") {
    val q = Seq((1L, Seq.fill(64)(1.0))).toDF("query_id", "qv")
    val cents = Seq((0L, Seq.fill(64)(0.0))).toDF("cent_id", "cent_v")
    val codes = Seq((2L, 0L, 0L, 0L)).toDF("vec_id", "cell_id", "sub", "code")
    val cb = Seq((0, 0L, Seq.fill(16)(0.0))).toDF("sub", "code", "cv")
    val vecs = Seq((2L, Seq.fill(64)(1.0))).toDF("vec_id", "qv")
    val coarse = cents.select(col("cent_id").as("co_id"),
      col("cent_v").as("co_v"))
    for (bad <- Seq(Seq.empty[Int], Seq(0))) withClue(s"widths $bad: ") {
      an[IllegalArgumentException] should be thrownBy
        Similarity.ivfPqSearch(q, codes, cb, cents, bad, 5, Seq("nprobe"))
      an[IllegalArgumentException] should be thrownBy
        Similarity.ivfPqResidualSearch(q, codes, cb, cents, bad, 5,
          Seq("nprobe"))
      an[IllegalArgumentException] should be thrownBy
        Similarity.hierAssignCentroids(vecs, "vec_id", "qv", cents, coarse,
          bad, Seq("probe_c"))
    }
    // the scalar-width calls that used to return no rows silently
    an[IllegalArgumentException] should be thrownBy
      Similarity.ivfPqSearch(q, codes, cb, cents, 0, 5)
    an[IllegalArgumentException] should be thrownBy
      Similarity.knnIvfFilteredQueries(q, "query_id", "qv", 5,
        vecs.select(col("vec_id").as("__id"), col("qv").as("__v"),
          lit(0L).as("cell_id")), cents, nprobe = 0)
    an[IllegalArgumentException] should be thrownBy
      Similarity.ivfPqSearch(q, codes, cb, cents, 1, 0)
    // several widths without a branch key have no column to land in
    an[IllegalArgumentException] should be thrownBy
      Similarity.ivfPqSearch(q, codes, cb, cents, Seq(1, 3), 5)
  }

  test("every branch of a 3-branch kernel call equals its one-branch call") {
    import org.apache.spark.sql.{Column, DataFrame}
    val rnd = new scala.util.Random(29)
    def vec(dims: Int) = Seq.fill(dims)((rnd.nextInt(201) - 100).toDouble)
    val e = (0L until 300L).map(i => (i, vec(64))).toDF("vec_id", "qv")
    val cents = e.filter(pmod(col("vec_id"), lit(20)) === 0)
      .select(col("vec_id").as("cent_id"), col("qv").as("cent_v"))
    val coarse = cents.filter(pmod(col("cent_id"), lit(60)) === 0)
      .select(col("cent_id").as("co_id"), col("cent_v").as("co_v"))
    val q = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    // a 4×8-codeword codebook and a deterministic code per (vec, sub):
    // branch isolation needs a valid index shape, not a trained one
    val cb = (for (sub <- 0 until 4; code <- 0L until 8L)
      yield (sub, code, vec(16))).toDF("sub", "code", "cv")
    val (assigned, probes) = Similarity.ivfAssignCentroids(e, "vec_id", "qv",
      cents, nprobe = 2)
    val cellCodes = assigned.select(col("__id").as("vec_id"), col("cell_id"))
      .crossJoin((0L until 4L).toDF("sub"))
      .withColumn("code", pmod(col("vec_id") * 7 + col("sub") * 3, lit(8L)))
    val shortlist = Similarity.ivfPqResidualSearch(q, cellCodes, cb, cents,
      Seq(3), 100)
    val scored = Similarity.nnGraphPairsScored(
      probes.select(col("query_id").as("id"), col("cell_id")),
      e.select(col("vec_id"), col("qv").as("v")))
    val entry = q.join(assigned.select(col("__id").as("query_id"),
        col("cell_id")), Seq("query_id"))
      .join(assigned.select(col("__id").as("cand"), col("__v").as("cv"),
        col("cell_id")), Seq("cell_id"))
      .filter(col("cand") =!= col("query_id"))
      .select(col("query_id"), col("cand"),
        Similarity.l2sq(col("qv"), col("cv")).cast("long").as("d2"))
    // tag a frame with every configuration as the branch column (no
    // key: the one configuration, untagged), keeping the rows `keep`
    // admits for its branch
    def branches(df: DataFrame, ws: Seq[Int], ks: Seq[String])(
        keep: Column => Column): DataFrame =
      if (ks.isEmpty) df.filter(keep(lit(ws.head)))
      else df.withColumn(ks.head, explode(array(ws.map(w => lit(w)): _*)))
        .filter(keep(col(ks.head)))
    val coprime = (m: Column) =>
      pmod(col("src"), m) =!= 0 && pmod(col("dst"), m) =!= 0
    // one row per branch-keyed kernel: its configurations and a call
    // taking (configurations, keys)
    val kernels: Seq[(String, Seq[Int], (Seq[Int], Seq[String]) => DataFrame)] =
      Seq(
        ("hier assign", Seq(1, 2, 4), (ws, ks) =>
          Similarity.hierAssignCentroids(e, "vec_id", "qv", cents, coarse,
            ws, ks)),
        ("ivf-pq", Seq(1, 3, 5), (ws, ks) =>
          Similarity.ivfPqSearch(q, cellCodes, cb, cents, ws, 10, ks)),
        ("residual ivf-pq", Seq(1, 3, 5), (ws, ks) =>
          Similarity.ivfPqResidualSearch(q, cellCodes, cb, cents, ws, 10,
            ks)),
        ("rerank", Seq(10, 30, 100), (ws, ks) =>
          Similarity.rerankExact(
            Similarity.rankPrefix(shortlist, col("rank"), ws, ks), q, e, 10,
            ks)),
        ("graph rank", Seq(10, 3, 2), (ws, ks) =>
          Similarity.nnGraphRank(
            branches(scored, ws, ks)(coprime), 6, ks)),
        ("beam search", Seq(3, 6, 12), (ws, ks) =>
          Similarity.graphBeamSearch(q, branches(entry, ws, ks)(_ => lit(true)),
            Similarity.rankPrefix(Similarity.nnGraphRank(scored, 12),
              col("erank"), ws, ks),
            e.select(col("vec_id"), col("qv").as("v")), hops = 2,
            beam = lit(10), k = 10, keys = ks)))
    for ((name, ws, run) <- kernels) withClue(s"$name: ") {
      val swept = run(ws, Seq("b")).collect()
      swept.map(_.getAs[Number]("b").intValue).toSet shouldBe ws.toSet
      for (w <- ws) withClue(s"branch $w: ") {
        val one = run(Seq(w), Nil).collect().map(_.toSeq).toSet
        one should not be empty
        swept.filter(_.getAs[Number]("b").intValue == w)
          .map(_.toSeq.tail).toSet shouldBe one
      }
    }
  }
}
