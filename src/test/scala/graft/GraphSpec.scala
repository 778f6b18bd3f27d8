package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** PageRank fixed-point semantics on hand-checkable graphs. Expected
  * values mirror the operator's exact arithmetic (floor of one IEEE
  * multiply/divide on integer operands) — the same ops the DuckDB oracle
  * of graph_pagerank_step runs. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def step(x: Long): Long =
    Graph.BaseFp + math.floor(Graph.Damping * x).toLong

  test("one step on a 3-cycle with a chord matches hand arithmetic") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ranks = Graph.pagerankTrace(edges, 1, Graph.checkpoint).last.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deg(1)=2, deg(2)=1, deg(3)=1; uniform start 1e6
    ranks(1L) shouldBe step(1000000L)           // from 3
    ranks(2L) shouldBe step(500000L)            // half of 1
    ranks(3L) shouldBe step(500000L + 1000000L) // half of 1 + all of 2
  }

  test("dangling sink keeps receiving, contributes nothing (pinned)") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val ranks = Graph.pagerankTrace(edges, 2, Graph.checkpoint).last.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranks(1L) shouldBe Graph.BaseFp // no in-edges after round 1
    ranks(2L) shouldBe step(Graph.BaseFp) // round 2: receives 1's base rank
  }

  test("power iteration contracts: per-round L1 movement falls monotonically") {
    // damping bounds the contraction at ~0.85 per round; the share/sum
    // floors add at most ±1 per node of noise, so each round's total
    // delta must drop below the previous one plus an n_nodes allowance —
    // and over the full run the movement must genuinely shrink
    val rows = SparkEntry.queries("graph_pagerank_converge")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("total_delta")))
      .sortBy(_._1)
    rows.map(_._1) shouldBe Array(1L, 2L, 3L)
    val slack = rows.map(_._2).max
    withClue(s"per-round deltas ${rows.mkString(", ")}: ") {
      rows.sliding(2).foreach { case Array((_, _, a), (_, _, b)) =>
        b should be <= (a + slack)
      }
      rows.last._3 should be < rows.head._3 // strict end-to-end contraction
    }
    // and the trained ranks are exactly the step kernel iterated: the
    // final convergence state must match graph_pagerank_train's output size
    val trained = SparkEntry.queries("graph_pagerank_train")(
      spark, "/root/testdata/sf0.001")
    trained.count() shouldBe rows.head._2
  }

  test("iteration is deterministic and total (every node ranked)") {
    val edges = Seq.tabulate(200)(i => (i.toLong % 23, (i * 7L) % 31))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val a = Graph.pagerankTrace(edges, 3, Graph.checkpoint).last
      .orderBy("node").collect().toSeq
    val b = Graph.pagerankTrace(edges, 3, Graph.checkpoint).last
      .orderBy("node").collect().toSeq
    a shouldBe b
    val nNodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst"))).distinct().count()
    a.size.toLong shouldBe nNodes
    all(a.map(_.getLong(1))) should be >= Graph.BaseFp
  }

  /** Symmetrize an undirected weighted edge list into lpaStep's
    * (u, v, w) both-directions contract. */
  private def sym(e: Seq[(Long, Long, Long)]) =
    (e ++ e.map { case (u, v, w) => (v, u, w) }).toDF("u", "v", "w")

  test("LPA separates two strong triangles across a weak bridge") {
    // triangles {1,2,3} and {4,5,6} at weight 2, bridged 3—4 at weight
    // 1; hand-simulated synchronous min-tie rounds: labels swap inside
    // each triangle in round 1, collapse to the triangle minimum by
    // round 2, and round 3 is the fixed point {1,2,3}→1, {4,5,6}→4
    val edges = sym(Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (5L, 6L, 2L), (4L, 6L, 2L), (3L, 4L, 1L)))
    val labels = Graph.lpaTrace(edges, 3, Graph.checkpoint).last.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L)
  }

  test("LPA tie-break picks the smallest label and weights beat counts") {
    // node 10 hears label 1 once at weight 5 and labels 2,3 once each
    // at weight 2: total weight wins, not neighbor count... and with
    // all weights equal, the min label wins the tie
    val weighted = sym(Seq((10L, 1L, 5L), (10L, 2L, 2L), (10L, 3L, 2L)))
    val w1 = Graph.lpaStep(weighted, Graph.lpaSeed(weighted))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    w1(10L) shouldBe 1L // 5 > 2 + nothing: per-label totals, 5 vs 2 vs 2
    val tied = sym(Seq((10L, 7L, 1L), (10L, 2L, 1L), (10L, 5L, 1L)))
    val t1 = Graph.lpaStep(tied, Graph.lpaSeed(tied))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    t1(10L) shouldBe 2L
  }

  test("LPA is deterministic across partitionings and coarsens (registry)") {
    val edges = sym(Seq.tabulate(300)(i =>
      ((i.toLong % 29), (i * 11L) % 37 + 29, (i % 3) + 1L))
      .distinct)
    val a = Graph.lpaTrace(edges, 3, Graph.checkpoint).last
      .orderBy("node").collect().toSeq
    val b = Graph.lpaTrace(edges.repartition(7), 3, Graph.checkpoint).last
      .orderBy("node").collect().toSeq
    a shouldBe b
    // the registry audit on real data: label space must shrink
    // monotonically (every adopted label existed in the previous round)
    val rows = SparkEntry.queries("graph_lpa_converge")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_labels"))).sortBy(_._1)
    rows.map(_._1) shouldBe Array(1L, 2L, 3L)
    withClue(s"per-round (iter, n_nodes, n_labels) ${rows.mkString(", ")}: ") {
      rows.sliding(2).foreach { case Array((_, _, a1), (_, _, b1)) =>
        b1 should be <= a1
      }
      rows.head._3 should be < rows.head._2 // round 1 already coarsens
    }
    val trained = SparkEntry.queries("graph_lpa_train")(
      spark, "/root/testdata/sf0.001")
    trained.count() shouldBe rows.head._2
  }

  test("BFS on a path graph walks exact hop distances, truncates at K") {
    // 1-2-3-4-5 chain from source 1: after 2 rounds nodes 4, 5 are
    // honestly absent, not infinite
    val dists = Graph.relaxTrace(
        sym(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))),
        Seq(1L).toDF("node"), Graph.UnitHop, 2, Graph.checkpoint).last
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    dists shouldBe Map(1L -> (0L, 1L), 2L -> (1L, 1L), 3L -> (2L, 1L))
  }

  test("BFS equidistant node takes the smallest source id") {
    // 1-2-3 and 5-4-3: node 3 is 2 hops from both sources 1 and 5
    val trace = Graph.relaxTrace(
      sym(Seq((1L, 2L, 1L), (2L, 3L, 1L), (5L, 4L, 1L), (4L, 3L, 1L))),
      Seq(1L, 5L).toDF("node"), Graph.UnitHop, 2, Graph.checkpoint)
    val d = trace.last.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    d(3L) shouldBe (2L, 1L)  // min-source tie-break
    d(2L) shouldBe (1L, 1L)
    d(4L) shouldBe (1L, 5L)  // nearest source wins outright
  }

  test("k-core peels a pendant chain off a triangle, one hop per round") {
    // triangle {1,2,3} plus pendant path 3-4-5: node 5 (deg 1) falls in
    // round 1, which strands node 4 (deg 1 induced) for round 2; the
    // fixed point is the triangle with every induced degree exactly 2
    val edges = sym(Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L)))
    val trace = Graph.kcoreTrace(edges, 2L, 3, Graph.checkpoint)
    trace.map(_.count()) shouldBe IndexedSeq(5L, 4L, 3L, 3L)
    val degs = Graph.kcoreDegrees(edges, trace.last).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    degs shouldBe Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
  }

  test("k-core peel converges on real data and the registry rows agree") {
    val d = "/root/testdata/sf0.001"
    val peel = SparkEntry.queries("graph_kcore_peel")(spark, d)
      .orderBy("iter").collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges")))
    peel.map(_._1) shouldBe (0L to 6L).toArray
    withClue(s"peel rounds ${peel.mkString(", ")}: ") {
      // survivors and induced edges both fall monotonically...
      peel.sliding(2).foreach { case Array((_, n0, e0), (_, n1, e1)) =>
        n1 should be <= n0
        e1 should be <= e0
      }
      // ...and the last two rounds are equal — the fixed-point plateau
      peel(peel.length - 1)._2 shouldBe peel(peel.length - 2)._2
      peel(peel.length - 1)._3 shouldBe peel(peel.length - 2)._3
    }
    // the payload frame matches the audit's final round, every member
    // keeps induced degree ≥ k, and one MORE peel round changes nothing
    val core = SparkEntry.queries("graph_kcore")(spark, d).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg"))
    core.length.toLong shouldBe peel.last._2
    all(core.map(_._2)) should be >= 2L
    core.map(_._2).sum shouldBe peel.last._3
  }

  test("weighted shortest paths route around heavy edges through more hops") {
    // 1—2 directly costs 10; 1—3—2 costs 2: the hop-BFS answer (1 hop)
    // and the min-plus answer (2 hops, dist 2) must differ — the
    // constructed case that proves the generalization is doing work
    val edges = sym(Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L)))
    val wsp = Graph.relaxTrace(edges, Seq(1L).toDF("node"), Graph.EdgeWeight, 3,
      Graph.checkpoint).last
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    wsp(2L) shouldBe (2L, 1L) // via 3, total weight 2 — not the direct 10
    wsp(3L) shouldBe (1L, 1L)
    val bfs = Graph.relaxTrace(edges, Seq(1L).toDF("node"), Graph.UnitHop, 3,
      Graph.checkpoint).last
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bfs(2L) shouldBe 1L // the hop metric takes the direct edge
    // equidistant-by-weight node takes the smallest source id
    val tied = sym(Seq((1L, 3L, 2L), (5L, 3L, 2L)))
    val t = Graph.relaxTrace(tied, Seq(1L, 5L).toDF("node"), Graph.EdgeWeight,
      2, Graph.checkpoint).last
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    t(3L) shouldBe (2L, 1L)
  }

  test("WSP reaches its Bellman–Ford fixed point on real data (registry)") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("graph_wsp_converge")(spark, d)
      .orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reach grows monotonically...
    rows.sliding(2).foreach { case Array((_, a, _), (_, b, _)) =>
      b should be >= a
    }
    // ...and the last two rounds are EQUAL — with positive weights the
    // min-plus iteration has provably converged (a round that improves
    // nothing never will)
    rows(rows.length - 1)._2 shouldBe rows(rows.length - 2)._2
    rows(rows.length - 1)._3 shouldBe rows(rows.length - 2)._3
    // the strong form: one more relaxation changes NO (node, dist, src)
    val items = graft.ingest.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
        col("w").cast("long").as("w"))
    val edges = pairs.unionAll(
      pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    val fin = SparkEntry.queries("graph_wsp_dists")(spark, d)
    val changed = Graph.relaxStep(edges, fin, Graph.EdgeWeight)
      .withColumnRenamed("dist", "dist2").withColumnRenamed("src", "src2")
      .join(fin, Seq("node"), "full_outer")
      .filter(col("dist2").isNull || col("dist").isNull ||
        col("dist2") =!= col("dist") || col("src2") =!= col("src"))
    changed.count() shouldBe 0L
  }

  test("personalized PageRank walks mass out from the seeds, hand-checked") {
    // path 1—2—3 (unit weights), seed {1}: two rounds by hand.
    // r1: node 2 gets floor(.85·1e6) = 850,000; seed keeps its 150,000
    // teleport floor. r2: 2's mass splits over wdeg 2 —
    // 1: 150,000 + floor(.85·425,000) = 511,250; 2: floor(.85·150,000)
    // = 127,500; 3: floor(.85·425,000) = 361,250.
    val edges = sym(Seq((1L, 2L, 1L), (2L, 3L, 1L)))
    val t = Graph.pprTrace(edges, Seq(1L).toDF("node"), 2, Graph.checkpoint)
    t(1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 150000L, 2L -> 850000L)
    t(2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 511250L, 2L -> 127500L, 3L -> 361250L)
    // weights steer the walk: tripling 1—2's weight starves 3
    val wEdges = sym(Seq((1L, 2L, 3L), (2L, 3L, 1L)))
    val w2 = Graph.pprTrace(wEdges, Seq(1L).toDF("node"), 2,
        Graph.checkpoint)(2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    w2(1L) should be > t(2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(1L)
    w2(3L) should be < 361250L
  }

  test("PPR registry audit: seeds stay ranked, mass conserved within floor loss") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("graph_ppr_converge")(spark, d)
      .orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the walk starts AT its fixed-point mass (|seeds|·RankOne =
    // |seeds|·BaseFp / (1 − damping)), so per-round mass can only
    // leak floor remainders — never grow, never lose more than a
    // fraction of a percent on this graph
    val m0 = rows.head._3
    m0 % Graph.RankOne shouldBe 0L
    rows.sliding(2).foreach { case Array((_, na, ma), (_, nb, mb)) =>
      nb should be >= na // reach spreads outward
      mb should be <= ma // floor-only losses
    }
    rows.last._3 should be > (m0 * 99L) / 100L
    // every seed keeps at least its teleport floor in the final frame
    val fin = SparkEntry.queries("graph_ppr_train")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val items = graft.ingest.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
    val edges = pairs.unionAll(
      pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    val seeds = edges.groupBy(col("u").as("node"))
      .agg(sum(col("w")).as("wd"))
      .orderBy(col("wd").desc, col("node").asc).limit(4)
      .collect().map(_.getLong(0))
    seeds.foreach { s =>
      withClue(s"seed $s: ") { fin(s) should be >= Graph.BaseFp }
    }
  }

  test("BFS relaxation never worsens a distance and reach grows monotonically") {
    val rows = SparkEntry.queries("graph_bfs_reach")(
        spark, "/root/testdata/sf0.001")
      .orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.map(_._1) shouldBe Array(0L, 1L, 2L, 3L)
    rows.sliding(2).foreach { case Array((_, a, _), (_, b, _)) =>
      b should be >= a
    }
    // distances are exact: one more relaxation round may ADD nodes but
    // must never change an already-reached node's (dist, src) — the
    // hallmark of min-relaxation having settled every node whose hop
    // distance the rounds covered
    val d = "/root/testdata/sf0.001"
    val items = graft.ingest.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.as("a").join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
        col("w").cast("long").as("w"))
    val edges = pairs.unionAll(
      pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    val fin = SparkEntry.queries("graph_bfs_dists")(spark, d)
    val changed = Graph.relaxStep(edges, fin, Graph.UnitHop)
      .withColumnRenamed("dist", "dist2").withColumnRenamed("src", "src2")
      .join(fin, "node")
      .filter(col("dist2") =!= col("dist") || col("src2") =!= col("src"))
    changed.count() shouldBe 0L
  }

  test("graph rounds are shared frames built once by the prewarm, then reused") {
    import graft.queries.{AnalyticsQueries, FrameCache}
    val d = "/root/testdata/sf0.001"
    def rounds(kind: String, n: Int) = (0 to n).map(i => s"$kind$i")
    FrameCache.clearAll()
    AnalyticsQueries.prewarmShared(spark, d)
    val built = FrameCache.buildSeconds
    // one memo kind per round of each run, beside the edge and pair frames
    built.map(_._1).toSet shouldBe Set("basket_items", "copurchase_pairs",
      "pagerank_edges", "lpa_edges", "bfs_src") ++
      rounds("pagerank_r", 3) ++ rounds("lpa_l", 3) ++ rounds("bfs_d", 3) ++
      rounds("wsp_d", 10) ++ rounds("ppr_p", 3) ++ rounds("kcore_s", 6)
    // every train/converge pair (and the PPR-fed recommendation row)
    // reads the prewarmed rounds: no new kind, and no kind rebuilt
    Seq("graph_pagerank_train", "graph_pagerank_converge", "graph_lpa_train",
      "graph_lpa_converge", "graph_bfs_dists", "graph_bfs_reach",
      "graph_wsp_dists", "graph_wsp_converge", "graph_ppr_train",
      "graph_ppr_converge", "graph_kcore", "graph_kcore_peel",
      "corpus_graph_rrf").foreach(q => SparkEntry.queries(q)(spark, d))
    FrameCache.buildSeconds shouldBe built
  }

  test("skew audit: shares, flag threshold, and ordering are internally consistent") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("graph_skew_audit")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    rows should not be empty
    rows.length should be <= 10
    val total = rows.head._3
    rows.foreach { case (_, keyRows, tot, shareBp, flag) =>
      // one total for the whole audit, shares derived from it exactly,
      // and the flag is precisely the 5x-even-share threshold (the AQE
      // skewedPartitionFactor analog at 32 shuffle partitions)
      tot shouldBe total
      shareBp shouldBe keyRows * 10000 / tot
      // exact cross-multiplied 5x-even-share line (1562.5 bp at 32
      // partitions) — not the truncated 5*(10000/32) = 1560 bp form
      flag shouldBe (if (keyRows * 32 > tot * 5) 1L else 0L)
    }
    // top-10 really is the top: descending key_rows, node-asc tie-break
    rows.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1),
          s"audit ordering violated: $a before $b")
      case _ => ()
    }
  }

  /** The audit's exact hub flag over an edge frame — the same
    * 5×-even-share cross-multiplication the registered queries gate on. */
  private def hubsOf(e: org.apache.spark.sql.DataFrame) = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("key_rows"))
    val tot = deg.agg(sum(col("key_rows")).cast("long").as("total_rows"))
    deg.crossJoin(broadcast(tot))
      .filter(col("key_rows") * 32 > col("total_rows") * 5)
      .select(col("src"))
  }

  private def powerLawFixture = graft.operators.DataGen.powerLawEdges(
    graft.ingest.Tables.events(spark, "/root/testdata/sf0.001"))

  // every src appears 20× in 1,000 rows (200 bp ≪ the 1562.5 bp line):
  // the audit flags nothing, so the hot branch must carry nothing
  private def benignFixture = spark.range(1000)
    .select(pmod(col("id"), lit(50)).as("src"),
      pmod(col("id") * 7, lit(50)).as("dst"))

  test("skewSplitJoin is row-identical to the plain inner join, hot set full or empty") {
    val pl = powerLawFixture
    val hubs = hubsOf(pl)
    hubs.count() should be > 0L // the fixture genuinely fires the flag
    val dim = pl.groupBy("src").agg(count(lit(1)).as("deg"))
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val plain = sortedRows(pl.join(dim, "src"))
    sortedRows(Graph.skewSplitJoin(pl, dim, "src", hubs)) shouldBe plain
    // empty hub set: the broadcast branch carries nothing, identity holds
    sortedRows(Graph.skewSplitJoin(pl, dim, "src",
      hubs.filter(lit(false)))) shouldBe plain
  }

  test("pagerankStepSkewSplit == pagerankStep on benign and power-law graphs") {
    val pl = powerLawFixture
    val benign = benignFixture
    hubsOf(benign).count() shouldBe 0L
    hubsOf(pl).count() should be > 0L
    for (e <- Seq(benign, pl)) {
      val ranks = Graph.pagerankSeed(e)
      val plain = Graph.pagerankStep(e, ranks).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val split = Graph.pagerankStepSkewSplit(e, ranks, hubsOf(e)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      split shouldBe plain
    }
  }

  test("skew-split plan: hot branch broadcasts, cold branch keeps the shuffle") {
    // with auto-broadcast disabled the split's plan shape is forced by
    // the kernel's own hints: the hot branch (and the semi/anti hub
    // probes) must be BroadcastHashJoin — hub rows never enter a
    // key-hashed exchange — while the cold tail takes the ordinary
    // shuffled join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pl = powerLawFixture
      val dim = pl.groupBy("src").agg(count(lit(1)).as("deg"))
      val plan = Graph.skewSplitJoin(pl, dim, "src", hubsOf(pl))
        .queryExecution.executedPlan.toString
      plan should include("BroadcastHashJoin")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cold branch must take the shuffled join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graph_skew_mitigated: the flag fires and the worst reducer's load drops") {
    val rows = SparkEntry.queries("graph_skew_mitigated")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val before = rows.find(_._1 == "before").get
    val after = rows.find(_._1 == "after").get
    // before: everything shuffles
    before._2 shouldBe 0L
    before._3 shouldBe 0L
    // the fixture fires the audit (hubs actually routed to broadcast)
    after._2 should be > 0L
    after._3 should be > 0L
    // conservation: bcast + shuffle after == the whole edge set
    (after._3 + after._4) shouldBe before._4
    // the audit fired ⟹ before's worst partition holds a >5/32 key
    (before._5 * 32) should be > (before._4 * 5)
    // the mitigation: worst reducer's absolute load AND whole-set share drop
    after._5 should be < before._5
    after._6 should be < before._6
  }
}
