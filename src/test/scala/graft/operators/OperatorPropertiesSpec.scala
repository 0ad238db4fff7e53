package graft.operators

import graft.{SparkTestBase, Tables}
import graft.sources.arrivals.{ConsumeOrder, FileMeta}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests (SURVEY.md §5.2-3): consumeOrder selection equals the
  * reference's repeated single-pick model; sketch/LSH operators stay within
  * their accuracy contracts vs exact baselines.
  */
class OperatorPropertiesSpec extends SparkTestBase {

  // the sketch finalizers are native registered functions (SketchExprs);
  // direct api.Sketches column-form calls here need them on the session
  graft.functions.VectorExprs.register(spark)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val fileGen: Gen[FileMeta] = for {
    name <- Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(12))
    mtime <- Gen.chooseNum(0L, 1000L)
  } yield FileMeta(s"/d/$name", mtime)

  test("property: OLDEST ordering ≡ repeatedly picking min(mtime, name) (ref R3)") {
    check(Prop.forAll(Gen.listOf(fileGen)) { files =>
      val dedup = files.distinctBy(_.path)
      // reference model: repeatedly scan for the single best candidate
      // (CephFSEventReader.java:146-156) from the remaining set
      def drain(rem: List[FileMeta], acc: List[FileMeta]): List[FileMeta] =
        if (rem.isEmpty) acc.reverse
        else {
          val best = rem.minBy(f => (f.mtimeMs, f.name))
          drain(rem.filterNot(_ eq best), best :: acc)
        }
      ConsumeOrder.order(dedup, "OLDEST").toList == drain(dedup.toList, Nil)
    })
  }

  test("property: YOUNGEST ordering ≡ repeated max-pick with smallest-name tiebreak") {
    check(Prop.forAll(Gen.listOf(fileGen)) { files =>
      val dedup = files.distinctBy(_.path)
      def drain(rem: List[FileMeta], acc: List[FileMeta]): List[FileMeta] =
        if (rem.isEmpty) acc.reverse
        else {
          // max mtime; tie → lexicographically SMALLEST name
          // (CephFSEventReader.java:135-145 + smallerLexicographical)
          val best = rem.minBy(f => (-f.mtimeMs, f.name))
          drain(rem.filterNot(_ eq best), best :: acc)
        }
      ConsumeOrder.order(dedup, "YOUNGEST").toList == drain(dedup.toList, Nil)
    })
  }

  test("approx_count_distinct within configured rsd of exact (2% → assert 5%)") {
    val approx = graft.SparkEntry.queries("q_approx_distinct")(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
    val exact = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(countDistinct("user_id").as("u")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("u")).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("minhash-LSH recovers every exact near-dup pair with jaccard ≥ 0.7") {
    val exact = graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.7)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val mh = graft.SparkEntry.queries("q_dedup_minhash")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exact.subsetOf(mh), s"missed pairs: ${exact -- mh}")
  }

  test("ann-lsh returns true cosine values and finds the exact top-1") {
    val exact = graft.SparkEntry.queries("q_similarity_topk")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    val ann = graft.SparkEntry.queries("q_ann_lsh")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim"))
    // any ANN result present in the exact top-10 must carry the same sim
    ann.foreach { case (id, sim) => exact.get(id).foreach(es => assert(es == sim)) }
    val top1 = graft.SparkEntry.queries("q_similarity_topk")(spark, sfDir)
      .collect().head.getAs[Long]("vec_id")
    assert(ann.map(_._1).contains(top1), "ANN missed the exact nearest neighbor")
  }

  test("ann join recovers ≥ 80% of the exact near-dup pairs (recall)") {
    val exact = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val ann = graft.SparkEntry.queries("q_ann_join")(spark, sfDir).collect()
      .map { r =>
        val a = r.getAs[Long]("vec_id"); val b = r.getAs[Long]("neighbor_id")
        (math.min(a, b), math.max(a, b))
      }.toSet
    val hit = exact.count(ann.contains)
    val recall = hit.toDouble / exact.size
    assert(recall >= 0.8, s"ann-join recall $recall ($hit/${exact.size})")
  }

  test("ann pairs (rank-free): precision exactly 1.0, recall ≥ 0.8 vs exact near-dup pairs") {
    val exact = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val ann = graft.SparkEntry.queries("q_ann_pairs")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // precision is STRUCTURAL: every returned pair is exact-cosine
    // verified at the same threshold the exact baseline uses, so the
    // result must be a subset of the exact pairs — not approximately
    assert((ann -- exact).isEmpty, s"invented pairs: ${ann -- exact}")
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.8, s"ann-pairs recall $recall")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("ann clusters: exact edge precision, cluster-pair recall ≥ 0.8 vs exact labels, equi-join-only plan") {
    // the scale composition (annJoin pairs → star contraction) against
    // the exact-pair clustering it approximates
    val exactLabels = graft.SparkEntry.queries("q_embed_clusters")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val annLabels = graft.SparkEntry.queries("q_embed_clusters_ann")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(annLabels.keySet == exactLabels.keySet, "every vector must be labeled")
    // (a) edge precision 1.0: the exact re-rank means ANN can only LOSE
    // edges, never invent them — every ANN same-cluster merge must be
    // backed by true-cosine edges, so any ANN cluster is a subset of an
    // exact cluster
    annLabels.groupBy(_._2).values.foreach { members =>
      val exactIds = members.keys.map(exactLabels).toSet
      assert(exactIds.size == 1,
        s"an ANN cluster spans ${exactIds.size} exact clusters — invented edge: $members")
    }
    // (b) cluster-pair recall: of the exact same-cluster pairs, ≥ 80%
    // are still same-cluster under ANN labels
    def samePairs(labels: Map[Long, Long]): Set[(Long, Long)] =
      labels.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
      }.toSet
    val exactPairs = samePairs(exactLabels)
    val annPairs = samePairs(annLabels)
    assert(exactPairs.nonEmpty, "fixture must contain non-trivial exact clusters")
    val recall = exactPairs.count(annPairs.contains).toDouble / exactPairs.size
    assert(recall >= 0.8, s"cluster-pair recall $recall (${exactPairs.size} exact pairs)")
    assert((annPairs -- exactPairs).isEmpty, "precision must be exact (re-ranked edges only)")
    // (c) the candidate/re-rank pair plan is equi-join only — the reason
    // this composition needs NO exemption while q_embed_neardup does
    val emb = Tables.embeddings(spark, sfDir)
    val pairPlan = graft.api.Similarity.annJoin(emb, "vec_id", "embedding",
        k = 5, nPlanes = 32, bands = 8, dim = 64)
      .filter(col("sim") >= 0.4)
      .queryExecution.executedPlan.toString
    assert(!pairPlan.contains("BroadcastNestedLoopJoin") && !pairPlan.contains("CartesianProduct"),
      "ANN pair generation degenerated to a non-equi join\n" + pairPlan)
    // the UNDIRECTED pair operator the cluster query actually runs (r9):
    // equi-join only, and NO Window at all — deleting the per-probe
    // top-k rank is the point of the rewrite
    val upPlan = graft.api.Similarity.annPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nPlanes = 32, bands = 8, dim = 64, maxBucketVecs = 256)
      .queryExecution.executedPlan.toString
    assert(!upPlan.contains("BroadcastNestedLoopJoin") && !upPlan.contains("CartesianProduct"),
      "annPairs degenerated to a non-equi join\n" + upPlan)
    assert(!upPlan.contains("Window"),
      "annPairs must not plan a window — the rank-free form is the point\n" + upPlan)
  }

  test("ivf join recovers ≥ 60% of the exact near-dup pairs (recall, 4-probe of 16 cells)") {
    val exact = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val ivf = graft.SparkEntry.queries("q_ann_ivf")(spark, sfDir).collect()
      .map { r =>
        val a = r.getAs[Long]("vec_id"); val b = r.getAs[Long]("neighbor_id")
        (math.min(a, b), math.max(a, b))
      }.toSet
    val hit = exact.count(ivf.contains)
    val recall = hit.toDouble / exact.size
    assert(recall >= 0.6, s"ivf-join recall $recall ($hit/${exact.size})")
  }

  test("ivf-pq: recall ≥ 0.6 vs exact pairs, sims exact-cosine, codes-only index, equi-join plan") {
    // (a) pair recall vs the exact baseline — the IVFADC shortlist may
    // only LOSE pairs vs plain IVF (same cells, ADC pre-filter), so the
    // floor matches q_ann_ivf's
    val exact = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val rows = graft.SparkEntry.queries("q_ann_ivfpq")(spark, sfDir).collect()
    val got = rows.map { r =>
      val a = r.getAs[Long]("vec_id"); val b = r.getAs[Long]("neighbor_id")
      (math.min(a, b), math.max(a, b))
    }.toSet
    val hit = exact.count(got.contains)
    val recall = hit.toDouble / exact.size
    assert(recall >= 0.6, s"ivf-pq recall $recall ($hit/${exact.size})")
    // (b) reported sims are EXACT cosine (the re-rank guarantee): spot
    // check against q_embed_neardup's exact values on shared pairs
    val exactSim = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")), r.getAs[Double]("cos_sim")))
      .toMap
    rows.foreach { r =>
      val key = (math.min(r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")),
        math.max(r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")))
      exactSim.get(key).foreach { es =>
        assert(math.abs(es - r.getAs[Double]("sim")) <= 1e-9,
          s"pair $key: ivfpq sim ${r.getAs[Double]("sim")} != exact $es")
      }
    }
    // (c) rank contract: ≤ k, dense from 1 per probe
    rows.groupBy(_.getAs[Long]("vec_id")).values.foreach { g =>
      val rks = g.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(rks == (1L to rks.size).map(identity) && rks.size <= 5, rks.toString)
    }
    // (d) the plan stays equi-join only (cells + shortlist joins — the
    // scale path needs no exemption), and the pre-shortlist candidate
    // stream never carries an embedding column (codes-only index)
    val plan = graft.SparkEntry.queries("q_ann_ivfpq")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "ivf-pq degenerated to a non-equi join\n" + plan)
  }

  test("ivfJoin multi-iteration Lloyd refinement is deterministic and non-degenerate") {
    def run() = graft.api.Similarity.ivfJoin(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 2, iterations = 3)
      .orderBy("id", "rank").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    val a = run()
    assert(a.nonEmpty)
    assert(a.toSeq == run().toSeq, "3-round Lloyd refinement must be run-stable")
  }

  test("chunking invariants: coverage, stride, width, and exact doc reconstruction") {
    val chunks = graft.SparkEntry.queries("q_chunk")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("chunk_tok")))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    chunks.groupBy(_._1).foreach { case (docId, cs) =>
      val toks = docs(docId).split(" ")
      val sorted = cs.sortBy(_._2)
      // chunk ids are contiguous from 0 and cover all tokens
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      assert(sorted.map(_._4).last == toks.length - (sorted.length - 1) * 15,
        s"doc $docId last chunk length wrong")
      sorted.foreach { case (_, cid, text, ctok) =>
        val expected = toks.slice((cid * 15).toInt,
          math.min(cid * 15 + 20, toks.length).toInt)
        assert(text == expected.mkString(" "), s"doc $docId chunk $cid content mismatch")
        assert(ctok == expected.length)
      }
    }
    assert(chunks.map(_._1).toSet == docs.keySet, "every doc must produce chunks")
  }

  // reference labeling for the CC tests: driver-side union-find
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  test("connectedComponentsStar ≡ union-find on random sparse graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 120L
      val edges = Seq.fill(60)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(n, edges)
      val pairs = edges.toDF("id_a", "id_b")
      val ids = (0L until n).toDF("doc_id")
      val got = graft.api.TextDedup.connectedComponentsStar(pairs, ids, "doc_id")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == expected, s"trial $trial mismatch")
    }
  }

  test("connectedComponentsStar converges in O(log n) rounds on an adversarial 200-chain") {
    import spark.implicits._
    val n = 200L
    // a plagiarism chain: 0-1-2-...-199 (diameter 199). Min-label
    // propagation needs 199 rounds; star contraction must finish well
    // inside 12 (≈ log² bound with a generous constant).
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L until n).toDF("doc_id")
    val got = graft.api.TextDedup.connectedComponentsStar(pairs, ids, "doc_id", maxRounds = 12)
      .collect()
    assert(got.length == n)
    assert(got.forall(_.getAs[Long]("cluster_id") == 0L), "all nodes must label to 0")
  }

  test("connectedComponentsStar on an EMPTY pair graph: singletons, no rounds") {
    val docs = Tables.documents(spark, sfDir)
    val noPairs = docs.select(col("doc_id").as("id_a"), col("doc_id").as("id_b")).limit(0)
    val cc = graft.api.TextDedup.connectedComponentsStar(noPairs, docs, "doc_id").collect()
    assert(cc.length == docs.count())
    assert(cc.forall(r => r.getAs[Long]("id") == r.getAs[Long]("cluster_id")))
  }

  test("jaccard skew guard semantics: all-hot shingles produce NO pairs; huge guard ≡ unguarded") {
    import spark.implicits._
    // 30 identical docs: every shingle has df=30. With maxShingleDf=5
    // every shingle is hot -> dropped -> no intersections survive; the
    // guarded answer is EMPTY (same as the oracle CTE with the same
    // guard), not a quadratic blow-up of 435 pairs.
    val docs = (0L until 30L).map(i => (i, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val guarded = graft.api.TextDedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDf = 5L)
    assert(guarded.count() == 0L)
    val unguarded = graft.api.TextDedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDf = 0L)
    assert(unguarded.count() == 30L * 29 / 2)
    // a guard larger than the corpus df must be a no-op (capped-set path
    // ≡ plain collect_set path, pair for pair)
    val real = Tables.documents(spark, sfDir).limit(200)
    def pairs(maxDf: Long) = graft.api.TextDedup.jaccardPairs(real, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = maxDf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(100000L) == pairs(0L))
  }

  test("property: CappedSetAgg ≡ (distinct-set if df < cap, else exactly-cap) on random multisets") {
    import spark.implicits._
    val gen = for {
      cap <- Gen.chooseNum(1, 12)
      rows <- Gen.listOf(for {
        g <- Gen.chooseNum(0, 3)
        id <- Gen.chooseNum(0L, 30L)
      } yield (g, id))
    } yield (cap, rows)
    // few iterations — each case is a full Spark aggregation — but
    // random caps/cardinalities around the boundary is exactly what the
    // fixed unit test can't cover
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(gen) { case (cap, rows) =>
        val expected = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
        val out =
          if (rows.isEmpty) Map.empty[Int, Seq[Long]]
          else rows.toDF("g", "id").repartition(5)
            .groupBy("g").agg(graft.functions.CappedSetAgg.fn(cap)(col("id")).as("ids"))
            .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
        expected.forall { case (g, dist) =>
          if (dist.size < cap) out(g) == dist // complete and exact
          else out(g).size == cap && out(g).toSet.subsetOf(dist.toSet)
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("ivf fit-on-sample + apply-to-corpus matches fit-on-corpus shape and stays deterministic") {
    val em = Tables.embeddings(spark, sfDir)
    val sample = graft.api.Sampling.sample(
      em.withColumn("__s", col("vec_id").cast("string")), "__s", 50)
    val centers = graft.api.Similarity.fitIvf(sample, "vec_id", "embedding",
      nCentroids = 8, iterations = 2)
    assert(centers.size == 8 && centers.forall(_.size == 64))
    def run() = graft.api.Similarity.ivfJoinWith(em, "vec_id", "embedding",
        centers, k = 5, nProbe = 2)
      .orderBy("id", "rank").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("neighbor_id")))
    val a = run()
    assert(a.nonEmpty)
    assert(a.toSeq == run().toSeq, "model application must be run-stable")
  }

  test("CappedSetAgg: kept groups are complete and exact; hot groups land at exactly cap") {
    import spark.implicits._
    val rows = (0L until 5).flatMap(i => Seq(("cold", i), ("cold", i))) ++
      (0L until 50).map(i => ("hot", i))
    val out = rows.toDF("g", "id").repartition(8)
      .groupBy("g").agg(graft.functions.CappedSetAgg.fn(11)(col("id")).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // true df (5) < cap: no partial can truncate -> complete sorted set
    assert(out("cold") == (0L until 5), out("cold").toString)
    // true df (50) >= cap: merged buffer provably fills to exactly cap
    assert(out("hot").size == 11, out("hot").size.toString)
  }

  test("vec_sum_agg ≡ posexplode per-dim sums (Lloyd mean-update equivalence)") {
    val em = Tables.embeddings(spark, sfDir)
      .select((col("vec_id") % 7).as("g"), col("embedding").cast("array<double>").as("ed"))
    val viaAgg = em.groupBy("g")
      .agg(graft.functions.VecSumAgg.fn(col("ed")).as("s"))
      .collect().map(r => r.getAs[Long]("g") -> r.getSeq[Double](1)).toMap
    val viaExplode = em
      .select(col("g"), posexplode(col("ed")).as(Seq("pos", "x")))
      .groupBy("g", "pos").agg(sum("x").as("s"))
      .collect().map(r => (r.getAs[Long]("g"), r.getAs[Int]("pos")) -> r.getAs[Double]("s"))
      .toMap
    assert(viaAgg.nonEmpty)
    viaAgg.foreach { case (g, arr) =>
      arr.zipWithIndex.foreach { case (x, pos) =>
        val ex = viaExplode((g, pos))
        // FP association order differs between the two plans — compare
        // to 1e-9 relative, far tighter than the 6dp model rounding
        assert(math.abs(x - ex) <= 1e-9 * math.max(1.0, math.abs(ex)),
          s"group $g dim $pos: $x vs $ex")
      }
    }
  }

  test("Profiler.profile: hostile column names (space, quote) profile exactly") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (2L, "b")).toDF("user id", "o'clock")
    val out = graft.api.Profiler.profile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("user id") == ((3L, 0L, 2L)), out.toString)
    assert(out("o'clock") == ((3L, 1L, 2L)), out.toString)
  }

  test("graft_nearest_centroids survives NaN embeddings and zero-norm centroids (no crash)") {
    graft.functions.VectorExprs.register(spark)
    val picked = spark.sql(
      """SELECT graft_nearest_centroids(array(CAST('NaN' AS DOUBLE), 0.0D),
           array(array(1.0D, 0.0D), array(0.0D, 1.0D)), 2) AS c""")
      .collect().head.getSeq[Int](0).toSeq
    // all scores are NaN -> rank last deterministically: smallest indices
    assert(picked == Seq(0, 1), picked.toString)
  }

  test("jaccard stop-shingle guard ≡ unguarded on the fixture (no hot shingle at this sf)") {
    // the declared query runs with maxShingleDf = 10; at sf0.001/sf0.01
    // the max shingle df is 9/7, so the guard must not change the answer
    // (it only prunes at larger scales / on genuinely hot shingles)
    val guarded = graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val unguarded = graft.api.TextDedup.jaccardPairs(
        Tables.documents(spark, sfDir), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 0L)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(guarded.toSeq == unguarded.toSeq)
  }

  test("simhash block-LSH is complete for hamming ≤ 3 (pigeonhole)") {
    // recompute signatures via the reference higher-order-function
    // formulation (independent of the native graft_simhash expression the
    // query uses) and brute-force all pairs ≤ 3
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("array_distinct(split(text,' '))").as("t"))
      .withColumn("bits", expr(
        """aggregate(transform(t, x -> xxhash64(x)), array_repeat(0L, 64),
             (acc, h) -> zip_with(acc,
               transform(sequence(0, 63), j -> (shiftright(h, j) & 1) * 2 - 1),
               (a, b) -> a + b))"""))
      .withColumn("simhash", expr(
        "aggregate(transform(sequence(0, 63), j -> IF(bits[j] >= 0, shiftleft(1L, j), 0L)), 0L, (a, x) -> a | x)"))
      .select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b)).toSet
    val lsh = graft.SparkEntry.queries("q_dedup_simhash")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
  }

  test("exact dedup ≡ window-based keep-min formulation") {
    val viaGroup = graft.SparkEntry.queries("q_dedup_exact")(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val viaWindow = Tables.documents(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("text").orderBy("doc_id")))
      .filter(col("rn") === 1).select("doc_id").orderBy("doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(viaGroup == viaWindow)
  }

  test("approx percentile within 5% of exact") {
    val approx = graft.SparkEntry.queries("q_approx_percentile")(spark, sfDir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("median_approx"), r.getAs[Double]("p90_approx"))).toMap
    val exact = graft.SparkEntry.queries("q_agg_percentile")(spark, sfDir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("median_price"), r.getAs[Double]("p90_price"))).toMap
    exact.foreach { case (k, (m, p90)) =>
      val (am, ap) = approx(k)
      assert(math.abs(am - m) / m <= 0.05, s"$k median: $am vs $m")
      assert(math.abs(ap - p90) / p90 <= 0.05, s"$k p90: $ap vs $p90")
    }
  }

  test("as-of join equals per-row correlated max (model check)") {
    import graft.Tables
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts_ms", "user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val errors = ev.filter(_._4 == "error")
    val expected = ev.filter(_._4 == "purchase").map { case (id, ts, u, _) =>
      val last = errors.filter(e => e._3 == u && e._2 <= ts)
      id -> (if (last.isEmpty) None else Some(last.map(_._2).max))
    }.toMap
    val got = graft.SparkEntry.queries("q_join_asof")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("last_err_ms")).map(_.toLong)).toMap
    assert(got == expected)
    // the FORWARD mirror: earliest error at-or-after, per-row correlated min
    val expectedFwd = ev.filter(_._4 == "purchase").map { case (id, ts, u, _) =>
      val next = errors.filter(e => e._3 == u && e._2 >= ts)
      id -> (if (next.isEmpty) None else Some(next.map(_._2).min))
    }.toMap
    val gotFwd = graft.SparkEntry.queries("q_join_asof_fwd")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("next_err_ms")).map(_.toLong)).toMap
    assert(gotFwd == expectedFwd)
    // forward tolerance: zero keeps only exact-time ties; huge ≡ none
    import spark.implicits._
    val left = Seq((1L, 100L, 1L), (2L, 200L, 1L)).toDF("id", "ts", "k")
    val right = Seq((100L, 1L), (250L, 1L)).toDF("rts", "k")
    val tol0 = graft.api.TimeSeries.asofJoinForward(left, "id", "ts", "k",
        right, "rts", "k", toleranceMs = Some(0L))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long]("asof_ts_ms"))).toMap
    assert(tol0(1L).contains(100L) && tol0(2L).isEmpty, tol0.toString)
    val tolBig = graft.api.TimeSeries.asofJoinForward(left, "id", "ts", "k",
        right, "rts", "k", toleranceMs = Some(Long.MaxValue))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long]("asof_ts_ms"))).toMap
    assert(tolBig(1L).contains(100L) && tolBig(2L).contains(250L), tolBig.toString)
  }

  test("decontaminateNgram drops a verbatim eval quote inside novel text; short docs always kept") {
    import spark.implicits._
    // the case the whole-document fingerprint forms MISS: doc 1 embeds
    // eval doc 100's answer verbatim inside otherwise-novel text
    val docs = Seq(
      (100L, "the capital of france is paris obviously", true),
      (1L, "student essay says the capital of france is paris obviously and more filler text here", false),
      (2L, "completely unrelated clean document about databases and query engines", false),
      (3L, "too short", false), // < n tokens → no grams → always kept
      (4L, null.asInstanceOf[String], false) // null text → kept
    ).toDF("doc_id", "text", "is_eval")
    val kept = graft.api.TextDedup.decontaminateNgram(docs, "doc_id", "text",
      isEval = col("is_eval"), n = 5).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), kept.toString)
  }

  test("decontaminateNgram fixture result ≡ a model computed with plain Scala sets") {
    val rows = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    def grams(t: Option[String], n: Int): Set[String] = t match {
      case Some(s) =>
        val toks = s.split(" ")
        if (toks.length < n) Set.empty
        else toks.sliding(n).map(_.mkString(" ")).toSet
      case None => Set.empty
    }
    val evalGrams = rows.filter(_._1 % 97 == 0).flatMap(r => grams(r._2, 4)).toSet
    val expected = rows.filter(_._1 % 97 != 0)
      .collect { case (id, t) if grams(t, 4).intersect(evalGrams).isEmpty => id }.toSet
    val got = graft.SparkEntry.queries("q_decontaminate_ngram")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("tokenBudgetMix: per-stratum kept tokens ≤ budget, kept set is a hash-order prefix") {
    import org.apache.spark.sql.functions._
    val toks = size(split(col("text"), " ")).cast("long")
    val out = graft.api.Sampling.tokenBudgetMix(
      Tables.documents(spark, sfDir), "text", "doc_id", "source",
      toks, budgets = Map("src1" -> 120L), defaultBudget = 200L)
    val kept = out.select(col("source"), col("doc_id"), col("cum_tok")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // budget respected per stratum
    kept.groupBy(_._1).foreach { case (src, rs) =>
      val budget = if (src == "src1") 120L else 200L
      assert(rs.map(_._3).max <= budget, s"$src exceeded budget")
    }
    // prefix property: everything hash-ordered BEFORE a kept doc in the
    // same stratum is kept too (budgets cut once, no holes)
    val order = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"), toks.as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)), r.get(3)))
    val keptIds = kept.map(_._2).toSet
    order.filter(_._3.nonEmpty).groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._3.get, r._2))
      val firstDrop = sorted.indexWhere(r => !keptIds.contains(r._2))
      if (firstDrop >= 0)
        sorted.drop(firstDrop).foreach(r =>
          assert(!keptIds.contains(r._2), s"hole after first drop: ${r._2}"))
    }
  }

  test("asofJoin tolerance: huge tolerance ≡ none; zero keeps only exact-time matches") {
    import graft.api.TimeSeries
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
    val e = ev.filter(col("event_type") === "error")
    val plain = TimeSeries.asofJoin(p, "event_id", "ts_ms", "user_id", e, "ts_ms", "user_id")
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    val huge = TimeSeries.asofJoin(p, "event_id", "ts_ms", "user_id", e, "ts_ms", "user_id",
        toleranceMs = Some(Long.MaxValue / 4))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    assert(huge == plain)
    // zero tolerance: only a right event at EXACTLY the left ts survives
    val zero = TimeSeries.asofJoin(p, "event_id", "ts_ms", "user_id", e, "ts_ms", "user_id",
        toleranceMs = Some(0L))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    val leftTs = p.select("event_id", "ts_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    zero.foreach { case (id, m) =>
      m.foreach(ts => assert(ts == leftTs(id), s"zero-tolerance match not exact for $id"))
    }
    assert(zero.values.count(_.isDefined) <= plain.values.count(_.isDefined))
  }

  test("intervalJoinAgg survives a right frame carrying graft-internal column names") {
    import spark.implicits._
    import graft.api.TimeSeries
    val left = Seq((1L, 1000L), (2L, 5000L)).toDF("id", "ts")
    val right = Seq((1500L, 2.0, 99L), (1600L, 3.0, 98L))
      .toDF("rts", "value", "__lid") // hostile: a chained operator's leak
      .withColumn("__bucket", org.apache.spark.sql.functions.lit(7L))
    val out = TimeSeries.intervalJoinAgg(left, "id", "ts", right, "rts",
        windowMs = 1000L,
        aggs = Seq(count(lit(1)).as("n"), round(sum("value"), 4).as("sv")),
        fills = Seq(lit(0L), lit(null).cast("double")))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Double]("sv")))).toSet
    // window [1000, 2000): both right rows for id 1; none for id 2
    assert(out == Set((1L, 2L, Some(5.0)), (2L, 0L, None)), out.toString)
  }

  test("asofJoin tolerance: Long.MaxValue tolerance with pre-1970 timestamps does not overflow") {
    import spark.implicits._
    import graft.api.TimeSeries
    val left = Seq((1L, -600001L, 10L)).toDF("id", "ts", "k") // pre-1970
    val right = Seq((-700000L, 10L)).toDF("rts", "k")
    val out = TimeSeries.asofJoin(left, "id", "ts", "k", right, "rts", "k",
        toleranceMs = Some(Long.MaxValue))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long](1))).toMap
    assert(out == Map(1L -> Some(-700000L)), out.toString) // no ANSI ArithmeticException
  }

  test("packBins: mass conservation, oversize docs keep their bin, bins respect layout order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = graft.api.TextAnalysis.packBins(
      Tables.documents(spark, sfDir), "doc_id", "text", "source", seqTok = 512)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every non-null-text doc lands in exactly one bin (token mass conserved)
    val totalTok = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect().sum
    assert(out.map(_._4).sum == totalTok)
    assert(out.map(_._3).sum == Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).count())
    // a doc LONGER than seqTok is packed WHOLE into its starting bin —
    // one bin carrying 700 > 512 tokens, never split
    val big = Seq((1L, (0 until 700).map(i => s"w$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val b = graft.api.TextAnalysis.packBins(big, "doc_id", "text", "source", 512)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(b == Map(0L -> ((1L, 700L))), s"oversize doc must not be split: $b")
    // equal-length docs bin identically regardless of hash order:
    // 3×300 tokens at offsets 0/300/600 → bins {0: 2 docs, 1: 1 doc}
    val eq = (1 to 3).map(i =>
      (i.toLong, (0 until 300).map(w => s"d${i}w$w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val e = graft.api.TextAnalysis.packBins(eq, "doc_id", "text", "source", 512)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(e == Map(0L -> ((2L, 600L)), 1L -> ((1L, 300L))), e.toString)
  }

  test("packSplit: mass conservation, full sequences, straddle accounting, bucket invariance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val seqTok = 128
    val out = graft.api.TextAnalysis.packSplit(
      Tables.documents(spark, sfDir), "doc_id", "text", seqTok)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totalTok = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect().sum
    // concat-and-cut: every token lands in exactly one sequence
    assert(out.map(_._5).sum == totalTok, "token mass must be conserved")
    // sequences are dense 0..N-1 and every one except the last holds
    // exactly seqTok tokens (zero padding waste BY CONSTRUCTION)
    val ids = out.map(_._1).sorted
    assert(ids.sameElements(ids.indices.map(_.toLong)), "seq ids must be dense from 0")
    out.sortBy(_._1).dropRight(1).foreach { case (sid, _, _, _, n) =>
      assert(n == seqTok, s"non-final sequence $sid holds $n != $seqTok tokens")
    }
    // doc spans are contiguous: consecutive sequences overlap on the
    // straddling doc (last_doc of seq k >= first_doc of seq k+1 - ... )
    val sorted = out.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, _, _, lastA, _), (_, _, firstB, _, _)) =>
        assert(firstB == lastA || firstB == lastA + 1,
          s"doc order must be monotone across sequences: $lastA then $firstB")
      case _ =>
    }
    assert(sorted.map(_._3).sameElements(sorted.map(_._3).sorted), "first_doc monotone")
    // the bucketed two-level scan is bucket-count-INVARIANT: forcing a
    // different bucketing reproduces identical offsets
    val alt = graft.api.TextAnalysis.packSplit(
      Tables.documents(spark, sfDir), "doc_id", "text", seqTok, buckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(alt.toSet == out.toSet, "bucket count must not change the statistic")
  }

  test("weightedSample: rate 0 drops all, rate 1 keeps all, NULL rate drops") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val n = docs.count()
    assert(graft.api.Sampling.weightedSample(docs, "text", lit(0.0)).count() == 0)
    assert(graft.api.Sampling.weightedSample(docs, "text", lit(1.0)).count() == n)
    assert(graft.api.Sampling.weightedSample(docs, "text",
      lit(null).cast("double")).count() == 0)
    // monotone: a higher rate keeps a superset (same hash, higher cut)
    val k30 = graft.api.Sampling.weightedSample(docs, "text", lit(0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k60 = graft.api.Sampling.weightedSample(docs, "text", lit(0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k30.subsetOf(k60))
  }

  test("duplicationProfile: all-null group reports NULL dup_rate, dup groups count exactly") {
    import spark.implicits._
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), // 3 docs, 2 distinct → rate 1/3
      ("b", null), ("b", null) // all-null → NULL rate, 0 distinct
    ).toDF("src", "text")
    val out = graft.api.TextDedup.duplicationProfile(df, "text", "src")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getAs[java.lang.Double]("dup_rate")))).toMap
    assert(out("a") == ((3L, 2L, Some(0.3333))), out.toString)
    assert(out("b") == ((2L, 0L, None)), out.toString)
  }

  test("groupOverlap (exact-text form): cross-source dups counted once per distinct text") {
    import spark.implicits._
    val df = Seq(
      ("A", "x"), ("A", "x"), ("B", "x"), // x in A,B — within-A dup counts once
      ("A", "y"), ("B", "y"), ("C", "y"), // y in A,B,C
      ("C", "z"), // z only in C — no pair
      ("A", null.asInstanceOf[String]) // null text ignored
    ).toDF("src", "text")
    val out = graft.api.TextDedup.groupOverlap(df, "text", "src").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L)), out.toString)
  }

  test("Profiler.histogram: bucket counts sum to rows, degenerate all-equal column lands in bucket 1") {
    import spark.implicits._
    val h = graft.api.Profiler.histogram(
      Tables.lineitem(spark, sfDir), "l_extendedprice", 20).collect()
    assert(h.length == 20)
    val total = Tables.lineitem(spark, sfDir)
      .filter(col("l_extendedprice").isNotNull).count()
    assert(h.map(_.getLong(3)).sum == total)
    // every value is in [lo, hi] of its bucket row's 4dp bounds (loose ±1e-3)
    val degenerate = Seq(5.0, 5.0, 5.0).toDF("v")
    val d = graft.api.Profiler.histogram(degenerate, "v", 4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(d == Map(1L -> 3L, 2L -> 0L, 3L -> 0L, 4L -> 0L), d.toString)
  }

  test("space-saving sketch is exact when distinct items ≤ k") {
    import org.apache.spark.sql.functions._
    val hh = graft.api.Sketches.heavyHitters(16) // 5 event types << 16
    val sketch = Tables.events(spark, sfDir)
      .agg(hh(col("event_type")).as("t")).collect().head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("t")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sfDir).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("space-saving sketch guarantee: items with count > n/k survive eviction, counts overestimate") {
    // the guarantee needs skew (count > n/k); the documents vocab is
    // near-uniform, so drive a synthetic skewed stream: one hot item at
    // 50% + a 50-item uniform tail, k=8 counters → heavy evictions
    import org.apache.spark.sql.functions._
    val n = 20000
    val skewed = spark.range(n).select(
      when(col("id") % 2 === 0, lit("hot"))
        .otherwise(concat(lit("t"), (col("id") % 50).cast("string"))).as("token"))
    val hh = graft.api.Sketches.heavyHitters(8)
    val sketch = skewed.agg(hh(col("token")).as("t")).collect().head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("t")
      .map(r => r.getString(0) -> r.getLong(1))
    // "hot" has true count n/2 > n/k → MUST be present, and ranked first
    assert(sketch.head._1 == "hot", s"guaranteed heavy hitter missing: $sketch")
    // space-saving never undercounts
    assert(sketch.head._2 >= n / 2, s"undercounted hot: ${sketch.head._2} < ${n / 2}")
    assert(sketch.size <= 8)
  }

  test("multimodal stub decode is deterministic and matches its contract") {
    val m1 = Multimodal.stubDecode(7L, "hello world".getBytes("UTF-8"))
    val m2 = Multimodal.stubDecode(7L, "hello world".getBytes("UTF-8"))
    assert(m1 == m2)
    assert(m1.width == 11 % 640 && m1.height == (11 * 7) % 480 && m1.n_frames == 11 % 16 + 1)
  }

  test("piiScrub: email/phone/id redacted in order, counts never double, clean rows untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact john.doe99@example.com now"),
      (2L, "call 555-123-4567 or 555.987.6543"),
      (3L, "account 123456789 ok"),
      (4L, "plain text"),
      (5L, "x@y.io id 000111222 tel 111-222-3333"),
      (6L, null: String)).toDF("id", "text")
    val out = graft.api.TextAnalysis.piiScrub(df, "text").orderBy("id")
      .select("clean", "n_pii").as[(String, Long)].collect()
    // the digits inside the email are gone BEFORE the id pattern runs —
    // sequential application means one redaction, not two
    assert(out(0) == (("contact <EMAIL> now", 1L)), out.mkString("; "))
    assert(out(1) == (("call <PHONE> or <PHONE>", 2L)), out.mkString("; "))
    assert(out(2) == (("account <ID> ok", 1L)), out.mkString("; "))
    assert(out(3) == (("plain text", 0L)), out.mkString("; "))
    assert(out(4) == (("<EMAIL> id <ID> tel <PHONE>", 3L)), out.mkString("; "))
    // NULL text: clean stays NULL, but n_pii is 0 — not a NULL that
    // silently vanishes from downstream sums
    assert(out(5) == ((null, 0L)), out.mkString("; "))
  }

  test("temperatureMix: tail stratum upsampled to cap, head downsampled, deterministic rerun") {
    import spark.implicits._
    // 90/10 split at targetPct 50 with √-smoothing: head rate
    // floor(50·100·√90/(Z·90)) = 41, tail floor(50·100·√10/(Z·10)) = 125
    // → capped 100 (Z = √90 + √10 decimal-rounded)
    val df = (0 until 90).map(i => (i.toLong, s"head doc $i", "head")) ++
      (0 until 10).map(i => (100L + i, s"tail doc $i", "tail"))
    val frame = df.toDF("doc_id", "text", "src")
    val out = graft.api.Sampling.temperatureMix(frame, "text", "src", targetPct = 50)
    val rates = out.select("src", "pct").distinct().as[(String, Long)].collect().toMap
    assert(rates("head") == 41L && rates("tail") == 100L, rates.toString)
    assert(out.filter($"src" === "tail").count() == 10) // rate 100 keeps all
    val again = graft.api.Sampling.temperatureMix(frame, "text", "src", targetPct = 50)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == out.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("temperatureMix: NULL strata dropped without diluting rates; zero-rate strata floor to pct 1") {
    import spark.implicits._
    // the 90/10 corpus plus 40 NULL-stratum rows: NULL rows can never be
    // kept (the stratum equi-join drops them), so they must not dilute
    // the normalizer either — rates stay exactly the null-free 41/100
    val withNulls = (0 until 90).map(i => (i.toLong, s"head doc $i", "head")) ++
      (0 until 10).map(i => (100L + i, s"tail doc $i", "tail")) ++
      (0 until 40).map(i => (200L + i, s"null doc $i", null: String))
    val out = graft.api.Sampling.temperatureMix(
      withNulls.toDF("doc_id", "text", "src"), "text", "src", targetPct = 50)
    val rates = out.select("src", "pct").distinct().as[(String, Long)].collect().toMap
    assert(rates == Map("head" -> 41L, "tail" -> 100L),
      s"NULL rows diluted the normalizer: $rates")
    assert(out.filter($"src".isNull).count() == 0)
    // an n² weighting makes the 1-doc stratum's raw rate floor(0.51) = 0
    // — the floor keeps it at pct 1 (thin, never silently deleted).
    // "rare doc 155" hash-buckets to 0, so the kept row is observable.
    val skewed = (0 until 99).map(i => (i.toLong, s"head doc $i", "big")) :+
      (990L, "rare doc 155", "rare")
    val kept = graft.api.Sampling.temperatureMix(
      skewed.toDF("doc_id", "text", "src"), "text", "src", targetPct = 50,
      weight = c => c * c)
      .filter($"src" === "rare").select("doc_id", "pct").as[(Long, Long)].collect()
    assert(kept.toSeq == Seq((990L, 1L)),
      s"zero-rate stratum must floor to pct 1 and keep its bucket-0 doc: ${kept.toSeq}")
  }

  test("rollingZscore: flags exactly the injected spike, full windows only, constant tail scores 0") {
    import spark.implicits._
    val rows = (0 until 30).map(i =>
      (1L, i.toLong * 1000, i.toLong, if (i == 24) 100.0 else 1.0))
    val df = rows.toDF("user_id", "ts_ms", "event_id", "value")
    val scored = graft.api.TimeSeries.rollingZscore(
      df, "user_id", "ts_ms", "event_id", "value", windowRows = 20)
    // warmup rows (first 19) are absent; every scored row has a full window
    assert(scored.count() == 11)
    val flagged = scored.filter(abs(col("z")) > 2)
      .select("event_id").as[Long].collect().toSet
    // the spike dominates its own window's σ; rows after it see an
    // inflated σ so their |z| stays small; pre-spike windows are
    // constant → var 0 → z = 0 by contract
    assert(flagged == Set(24L), flagged.toString)
    val constant = scored.filter($"event_id" < 24).select("z").as[Double].collect()
    assert(constant.forall(_ == 0.0), constant.mkString(","))
  }

  test("contaminationReport: per-eval counts include zeros, shared fingerprints count per eval doc") {
    import spark.implicits._
    val df = Seq(
      (0L, "hello world"), (97L, "beta"), (194L, "hello world"), // eval (id % 97 = 0)
      (1L, "hello world"), (2L, "Hello  world"), (3L, "gamma"), // train — 2 normalizes to 1's fp
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = graft.api.TextDedup.contaminationReport(df, "doc_id", "text",
        isEval = col("doc_id") % 97 === 0)
      .as[(Long, Long)].collect().toMap
    // "Hello  world" fingerprints to "hello world" (lowercase +
    // whitespace-normalized); BOTH eval copies report the same two
    // training dups — per-eval-doc counts, not a global dedup count
    assert(out == Map(0L -> 2L, 97L -> 0L, 194L -> 2L), out.toString)
  }

  test("unigramNll ≡ hand-computed model on a tiny corpus") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = graft.api.TextAnalysis.unigramNll(df, "doc_id", "text")
      .select("id", "n_tok", "avg_nll").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // counts a=2 b=2 c=1, N=5
    val d1 = math.log(5) - (3 * math.log(2)) / 3.0
    val d2 = math.log(5) - (math.log(2) + math.log(1)) / 2.0
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - d1) < 1e-6, out.toString)
    assert(out(2L)._1 == 2L && math.abs(out(2L)._2 - d2) < 1e-6, out.toString)
  }

  test("adjacentPairs ≡ hand-computed bigram counts; single-token docs contribute nothing") {
    import spark.implicits._
    val df = Seq((1L, "a b a b"), (2L, "x"), (3L, "b a")).toDF("doc_id", "text")
    val out = graft.api.TextAnalysis.adjacentPairs(df, "text", topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq("a b" -> 2L, "b a" -> 2L), out.toString)
  }

  test("quantize: codes in range, reconstruction within qscale/2, constant vector codes to zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 0.5f, 1.0f, -1.0f)),
      (2L, Seq(3.0f, 3.0f, 3.0f, 3.0f)) // constant → qscale 0
    ).toDF("vec_id", "embedding")
    val out = graft.api.Similarity.quantize(df, "embedding").orderBy("vec_id")
      .select("vec_id", "qscale", "codes", "max_abs_err")
      .as[(Long, Double, Seq[Long], Double)].collect()
    val (_, sc1, codes1, err1) = out(0)
    assert(codes1.forall(c => c >= 0 && c <= 255), codes1.toString)
    assert(codes1.min == 0L && codes1.max == 255L) // min/max map to range ends
    assert(err1 <= sc1 / 2 + 1e-12, s"err $err1 vs qscale/2 ${sc1 / 2}")
    val (_, sc2, codes2, err2) = out(1)
    assert(sc2 == 0.0 && codes2.forall(_ == 0L) && err2 == 0.0)
    // a NULL vector yields NULL codes/err/params — never a fabricated 0
    val nullRow = graft.api.Similarity.quantize(
        Seq((3L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"), "embedding")
      .select("qmin", "qscale", "codes", "max_abs_err").collect()(0)
    assert((0 until 4).forall(nullRow.isNullAt), nullRow.toString)
    // an ELEMENT-level NULL normalizes to the same whole-vector-NULL
    // convention (it would otherwise poison folds differently per
    // engine — null holes in codes, skip-null min/max)
    val holeRow = graft.api.Similarity.quantize(
        Seq((4L, Seq[java.lang.Float](0.5f, null, 1.0f)))
          .toDF("vec_id", "embedding"), "embedding")
      .select("qmin", "qscale", "codes", "max_abs_err").collect()(0)
    assert((0 until 4).forall(holeRow.isNullAt), holeRow.toString)
  }

  test("pageRank ≡ hand-model on a path graph; isolated node keeps the floor; symmetric nodes tie") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L).toDF("nid")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // CONTRACT check: an edge endpoint outside allIds silently loses
    // rank mass — validateIds must fail loudly instead
    val err = intercept[IllegalArgumentException] {
      graft.api.Graph.pageRank(Seq((1L, 9L)).toDF("a", "b"), "a", "b",
        ids, "nid", validateIds = true)
    }
    assert(err.getMessage.contains("missing from allIds"), err.getMessage)
    val out = graft.api.Graph.pageRank(pairs, "a", "b", ids, "nid",
        iterations = 3, damping = 0.85)
      .select("id", "rank").as[(Long, Double)].collect().toMap
    var r = Map(1L -> 0.25, 2L -> 0.25, 3L -> 0.25, 4L -> 0.25)
    val deg = Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0)
    val nbr = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L), 4L -> Seq.empty[Long])
    for (_ <- 1 to 3)
      r = r.map { case (nid, _) =>
        nid -> (0.15 / 4 + 0.85 * nbr(nid).map(u => r(u) / deg(u)).sum)
      }
    // decimal(30,10) contribution rounding drifts < 1e-8 over 3 rounds
    r.foreach { case (nid, exp) =>
      assert(math.abs(out(nid) - exp) < 1e-6, s"node $nid: ${out(nid)} vs $exp")
    }
    assert(out(1L) == out(3L)) // symmetric endpoints tie exactly
    assert(math.abs(out(4L) - 0.15 / 4) < 1e-12) // isolated node = (1−d)/N floor
  }

  test("pageRankConverged stops early at the fixpoint and matches the unrolled oracle within tol") {
    import spark.implicits._
    // 4-ring: every node has degree 2 and the uniform start IS the
    // fixpoint — the very first delta is 0, so convergence must stop the
    // loop after one round regardless of the maxIterations budget
    val ringIds = Seq(1L, 2L, 3L, 4L).toDF("nid")
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    // each call may leave at most two frames pinned: superseded rounds
    // are dropped, so the pins never grow with the iteration count
    def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
    val pinnedBefore = pinned()
    val (ringRanks, ringIters) = graft.api.Graph.pageRankConverged(
      ring, "a", "b", ringIds, "nid", maxIterations = 50, tol = 1e-9)
    assert(pinned() - pinnedBefore <= 2, s"${pinned() - pinnedBefore} frames pinned by one call")
    assert(ringIters == 1, s"uniform fixpoint should stop after 1 round, ran $ringIters")
    ringRanks.select("rank").as[Double].collect()
      .foreach(r => assert(math.abs(r - 0.25) < 1e-12, r.toString))
    // asymmetric graph: the early stop must halt at exactly the FIRST
    // iteration whose L∞ delta drops below tol, and the returned ranks
    // must match the unrolled recurrence truncated at that point — both
    // checked against a driver-side hand model (the unrolled DataFrame
    // form cannot be compared at this depth: an N-deep unrolled plan is
    // exponential in analysis, which is exactly why the convergence form
    // localCheckpoints per round)
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("nid")
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val tol = 1e-2
    val pinnedMid = pinned()
    val (conv, iters) = graft.api.Graph.pageRankConverged(
      pairs, "a", "b", ids, "nid", maxIterations = 50, tol = tol)
    assert(pinned() - pinnedMid <= 2, s"${pinned() - pinnedMid} frames pinned by one call")
    assert(iters < 50, s"should converge well before the budget, ran $iters")
    val deg = Map(1L -> 1.0, 2L -> 3.0, 3L -> 2.0, 4L -> 2.0)
    val nbr = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L, 4L), 3L -> Seq(2L, 4L),
      4L -> Seq(2L, 3L), 5L -> Seq.empty[Long])
    var r = Map(1L -> 0.2, 2L -> 0.2, 3L -> 0.2, 4L -> 0.2, 5L -> 0.2)
    var handIters = 0
    var delta = Double.MaxValue
    while (delta >= tol) {
      val next = r.map { case (nid, _) =>
        nid -> (0.15 / 5 + 0.85 * nbr(nid).map(u => r(u) / deg(u)).sum)
      }
      delta = r.map { case (nid, v) => math.abs(next(nid) - v) }.max
      r = next
      handIters += 1
    }
    assert(iters == handIters, s"stopped at $iters, hand model says $handIters")
    val out = conv.select("id", "rank").as[(Long, Double)].collect().toMap
    r.foreach { case (nid, exp) =>
      assert(math.abs(out(nid) - exp) < 1e-6, s"node $nid: ${out(nid)} vs $exp")
    }
    // contract check mirrors pageRank's
    val err = intercept[IllegalArgumentException] {
      graft.api.Graph.pageRankConverged(Seq((1L, 9L)).toDF("a", "b"), "a", "b",
        ids, "nid", validateIds = true)
    }
    assert(err.getMessage.contains("missing from allIds"), err.getMessage)
  }

  test("triangleStats ≡ hand counts on K4 ∪ C4; canonicalizes dirty edges; empty graph all-zero") {
    import spark.implicits._
    // K4 on 1..4 (4 triangles, 6 edges, 12 wedges) ∪ 4-cycle on 11..14
    // (0 triangles, 4 edges, 4 wedges) — fed DIRTY: reversed duplicates,
    // a self-loop, and a null endpoint must all collapse/drop
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c4 = Seq((11L, 12L), (12L, 13L), (13L, 14L), (14L, 11L))
    val dirty = (k4 ++ c4).map { case (a, b) => (java.lang.Long.valueOf(b), java.lang.Long.valueOf(a)) } ++ // reversed dups
      k4.map { case (a, b) => (java.lang.Long.valueOf(a), java.lang.Long.valueOf(b)) } :+
      ((java.lang.Long.valueOf(2L), java.lang.Long.valueOf(2L))) :+ // self-loop
      ((java.lang.Long.valueOf(5L), null.asInstanceOf[java.lang.Long])) // null endpoint
    val out = graft.api.Graph.triangleStats(dirty.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(out == ((8L, 10L, 16L, 4L)), out.toString)
    val empty = graft.api.Graph.triangleStats(
      Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y")
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(empty == ((0L, 0L, 0L, 0L)), empty.toString)
  }

  test("winsorize clamps tails to the cuts, passes interior values bit-exact, NULL stays NULL") {
    import spark.implicits._
    val df = (Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Some(4.0)), (5L, Some(100.0)), (6L, Option.empty[Double]))).toDF("id", "v")
    val out = graft.api.Profiler.winsorize(df, "v", 0.1, 0.9)
      .select("id", "value_w", "clipped_low", "clipped_high")
      .collect().map(r => r.getLong(0) -> r).toMap
    // NULL value → NULL in all three outputs (least/greatest would
    // otherwise fabricate the low cut)
    assert((1 to 3).forall(out(6L).isNullAt), out(6L).toString)
    // the outlier clamps DOWN to the p90 cut and flags high only
    assert(out(5L).getDouble(1) < 100.0 && out(5L).getLong(2) == 0L
      && out(5L).getLong(3) == 1L, out(5L).toString)
    // an interior value passes through bit-exact, unflagged
    assert(out(3L).getDouble(1) == 3.0 && out(3L).getLong(2) == 0L
      && out(3L).getLong(3) == 0L, out(3L).toString)
    // the minimum clamps UP to the p10 cut and flags low only
    assert(out(1L).getDouble(1) > 1.0 && out(1L).getLong(2) == 1L
      && out(1L).getLong(3) == 0L, out(1L).toString)
  }

  test("hll rollup: merged sketch ≡ whole-corpus sketch exactly; estimates within 5% of exact") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day"),
        col("user_id"))
    // merge-consistency: union of per-day sketches = one corpus sketch
    // (same p=12 register geometry) — the property that makes persisted
    // daily sketches rollup-able without rescanning. Register-max merge
    // is idempotent, so this holds EXACTLY, not approximately.
    val hs = graft.functions.HllSketchAgg.fn
    val hm = graft.functions.HllMergeEstAgg.fn
    val merged = ev.groupBy("day").agg(hs(col("user_id")).as("sk"))
      .agg(hm(col("sk")).as("e")).as[Long].head()
    val whole = ev.agg(hs(col("user_id")).as("sk"))
      .agg(hm(col("sk")).as("e")).as[Long].head()
    assert(merged == whole, s"merged $merged != whole-corpus $whole")
    // the sketch IS approx_count_distinct's state: estimates agree with
    // the built-in exactly (same helper, same registers, same query)
    val builtin = ev.agg(approx_count_distinct(col("user_id"), 0.02).as("e"))
      .as[Long].head()
    assert(merged == builtin, s"register rollup $merged != approx_count_distinct $builtin")
    // accuracy: p=12 → rse ≈ 1.04/√4096 ≈ 1.6%; assert 5%
    val exact = ev.select("user_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact <= 0.05, s"est $merged vs exact $exact")
    // per-day estimates each within 5% of their exact distinct
    val perDay = ev.groupBy("day")
      .agg(hs(col("user_id")).as("sk"), count_distinct(col("user_id")).as("ex"))
      .groupBy("day", "ex").agg(hm(col("sk")).as("est"))
      .select("day", "est", "ex").as[(Long, Long, Long)].collect()
    perDay.foreach { case (d, est, ex) =>
      assert(math.abs(est - ex).toDouble / ex <= 0.05, s"day $d: est $est vs exact $ex")
    }
  }

  test("madOutliers flags exactly the hand-model outlier; NULLs never flagged") {
    import spark.implicits._
    // values 1..9 + 100: med 5.5, MAD 2.5, threshold 3·1.4826·2.5 ≈ 11.12
    // → only 100 (dev 94.5) flags; the NULL row must not appear
    val df = ((1 to 9).map(i => (i.toLong, Some(i.toDouble)))
      :+ ((10L, Some(100.0))) :+ ((11L, Option.empty[Double]))).toDF("id", "v")
    val out = graft.api.Profiler.madOutliers(df, "v", k = 3.0)
      .select("id", "abs_dev").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((10L, 94.5)), out.mkString(","))
  }

  test("saltedJoin ≡ plain join (inner multiset, left-outer nulls); rejects replicating join types") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("event_id", "user_id", "c_mktsegment")
        .collect().map(_.toString).sorted.toSeq
    assert(canon(graft.api.Skew.saltedJoin(ev, cust, Seq("user_id"), 8, col("event_id")))
      == canon(ev.join(cust, Seq("user_id"))))
    // left outer: a big-side row with no small match emits exactly once,
    // with nulls — not buckets× times
    val sparseCust = cust.filter(col("user_id") % 2 === 0)
    val lo = graft.api.Skew.saltedJoin(ev, sparseCust, Seq("user_id"), 8,
      col("event_id"), "left")
    assert(canon(lo) == canon(ev.join(sparseCust, Seq("user_id"), "left")))
    intercept[IllegalArgumentException] {
      graft.api.Skew.saltedJoin(ev, cust, Seq("user_id"), 8, col("event_id"), "full")
    }
    // the salt actually spreads: the salted big side carries >1 distinct
    // salt per hot key (the whole point)
    val spread = ev.withColumn("__salt",
        pmod(xxhash64(col("event_id")), lit(8L)))
      .groupBy("user_id").agg(countDistinct(col("__salt")).as("n"))
      .agg(min(col("n"))).head().getLong(0)
    assert(spread > 1, s"hot keys not spread: min distinct salts = $spread")
  }

  test("pmiCollocations ≡ hand formula; always-together pair outranks frequent-but-independent") {
    import spark.implicits._
    // "aa bb" appear ONLY together (4×); the other tokens co-occur
    // promiscuously (each pair 2×). One doc per line keeps bigram
    // counting trivial. minCount = 2 — at 1, a singleton pair's PMI
    // blows past the exclusive pair (the rare-pair hazard the floor
    // exists for).
    val docs = (Seq.fill(4)("aa bb")
      ++ Seq("xx yy", "xx zz", "yy zz", "xx qq").flatMap(d => Seq(d, d))).toDF("text")
    val out = graft.api.TextAnalysis.pmiCollocations(docs, "text", minCount = 2L, topK = 10)
      .as[(String, Long, Long, Long, Double)].collect()
    val byPair = out.map(r => r._1 -> r).toMap
    // totals: 24 tokens, 12 bigrams; aa/bb occur 4× each, "aa bb" 4× —
    // the expected value replays the impl's exact ratio-then-one-ln tree
    val expAaBb = math.floor(math.log((4.0 / 12.0) * (24.0 / 4.0) * (24.0 / 4.0)) * 10000) / 10000.0
    assert(byPair("aa bb") == (("aa bb", 4L, 4L, 4L, expAaBb)), byPair("aa bb").toString)
    // the exclusive pair ranks strictly above every independent pair
    assert(out.head._1 == "aa bb", out.map(_._1).mkString(","))
    assert(out.tail.forall(_._5 < expAaBb), out.mkString(";"))
  }

  test("sessionIds: mega-session among small ones — assignment, bounded truncation, path parity") {
    import spark.implicits._
    // one bot key with 10k sub-gap events (ONE session at any scale — the
    // hot-key hazard) + a human key with two sessions split by a 2×gap
    val gap = 1000L
    val bot = (0 until 10000).map(i => ("bot", i * 10L, i.toLong, s"e${i % 3}"))
    val human = Seq(("h", 0L, 100L, "a"), ("h", 500L, 101L, "b"),
      ("h", 3000L, 102L, "c"), ("h", 3400L, 103L, "d"))
    val df = (bot ++ human).toDF("user_id", "ts_us", "event_id", "event_type")
    val sids = graft.api.TimeSeries.sessionIds(df, "ts_us", "user_id", gap,
      Seq("event_id", "event_type"))
    // session membership: bot = one session; human = {a,b} then {c,d}
    val botSessions = sids.filter($"user_id" === "bot").select("session_id").distinct().count()
    assert(botSessions == 1, s"bot must be ONE session, got $botSessions")
    val humanSid = sids.filter($"user_id" === "h")
      .select("event_type", "session_id").as[(String, Long)].collect().toMap
    assert(humanSid("a") == humanSid("b") && humanSid("c") == humanSid("d")
      && humanSid("a") != humanSid("c"), humanSid.toString)
    // sn numbers within-session under the total order; truncation keeps
    // exactly the first k
    val first8 = sids.filter($"user_id" === "bot" && $"sn" <= 8)
      .orderBy("sn").select("event_id").as[Long].collect()
    assert(first8.toSeq == (0L until 8L), first8.mkString(","))
    // the q_session_paths shape over this frame: the bot path is the
    // first-8 event types, NOT all 10k
    val paths = sids.filter($"sn" <= 8)
      .groupBy("user_id", "session_id")
      .agg(sort_array(collect_list(struct($"ts_us", $"event_id", $"event_type"))).as("evs"))
      .select($"user_id", concat_ws(">", $"evs.event_type").as("path"))
      .as[(String, String)].collect().toMap
    assert(paths("bot") == "e0>e1>e2>e0>e1>e2>e0>e1", paths("bot"))
    // the truncation filter sits BELOW the collect aggregate in the plan
    // (buffer bounded before it builds, not sliced after)
    val p = sids.filter($"sn" <= 8)
      .groupBy("user_id", "session_id")
      .agg(collect_list($"event_id").as("evs"))
      .queryExecution.executedPlan.toString
    // plan strings print parents first, so the aggregate must appear
    // BEFORE (above) the sn-filter for the filter to be its child
    val aggIdx = p.indexOf("collect_list")
    val filterIdx = p.indexOf("Filter")
    assert(aggIdx >= 0 && filterIdx >= 0 && aggIdx < filterIdx, p)
  }

  test("bpeLearn ≡ plain-Scala reference (merge sequence, counts, greedy overlap semantics)") {
    import spark.implicits._
    // independent reference implementation of the published algorithm
    def refBpe(words: Seq[String], rounds: Int): Seq[(Long, String, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] = words.groupBy(identity).map {
        case (w, ws) => (w.map(_.toString).toVector :+ "</w>") -> ws.size.toLong
      }
      def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
        syms.foldLeft(Vector.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
          else acc :+ s
        }
      (1 to rounds).iterator.flatMap { r =>
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.sliding(2).filter(_.size == 2).foreach { p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (pc.isEmpty) None
        else {
          val ((a, b), c) = pc.minBy { case ((x, y), n) => (-n, x, y) }
          vocab = vocab.groupMapReduce { case (syms, _) => applyMerge(syms, a, b) }(_._2)(_ + _)
          Some((r.toLong, a, b, a + b, c))
        }
      }.toSeq
    }
    // the classic fixture (low/lower/newest/widest) + an overlap trap:
    // "aaaa" makes the greedy left-to-right rule observable ("aa" merges
    // twice, the overlapping middle pair does not)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(8)("aaaa")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val got = graft.api.TextAnalysis.bpeLearn(docs, "text", rounds = 10)
      .orderBy("round")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val want = refBpe(words, 10)
    assert(got == want, s"\ngot:  ${got.mkString("\n      ")}\nwant: ${want.mkString("\n      ")}")
    // greedy overlap semantics visible in the learned table: the (a,a)
    // merge is counted 3× per "aaaa" at selection time (overlap counts),
    // and "aaaa" contracts to [aa, aa, </w>] — the later (aa, aa</w>)
    // merge only exists if application was non-overlapping left-to-right
    val aa = got.find(m => m._2 == "a" && m._3 == "a")
    assert(aa.exists(_._5 == 24L), s"expected (a,a) weighted count 24 (3 overlaps × 8 words): $aa")
    assert(got.exists(m => m._2 == "aa" && m._3 == "aa</w>"),
      s"expected a later (aa, aa</w>) merge proving left-to-right application: $got")
    // determinism: a second run returns the identical table
    val again = graft.api.TextAnalysis.bpeLearn(docs, "text", rounds = 10)
      .orderBy("round").as[(Long, String, String, String, Long)].collect().toSeq
    assert(again == got)
    // early stop: a vocabulary that runs dry stops short without error
    val tiny = Seq("q").toDF("text")
    val short = graft.api.TextAnalysis.bpeLearn(tiny, "text", rounds = 10)
      .as[(Long, String, String, String, Long)].collect()
    assert(short.length == 1 && short.head._4 == "q</w>", short.mkString(","))
  }

  test("ddsketch quantile rollup: exact mergeability, partition-order independence, α·|x| error") {
    import spark.implicits._
    import graft.api.Sketches
    val alpha = 0.01
    // mixed-sign data with zeros and a heavy tail, split over 5 "days"
    val vals = (1 to 4000).map(i => math.exp(i % 17) * (if (i % 3 == 0) -1 else 1)) ++
      Seq.fill(50)(0.0) ++ (1 to 500).map(_ * 0.001)
    val rows = vals.zipWithIndex.map { case (v, i) => (i % 5, v) }
    val df = rows.toDF("day", "value")
    def skOf(d: org.apache.spark.sql.DataFrame): Sketches.DDSketch =
      d.agg(Sketches.ddSketch(alpha)(col("value")).as("sk"))
        .select("sk.*").as[Sketches.DDSketch].head()
    // 1. merged per-day sketches ≡ the whole-data sketch, field-exact
    val whole = skOf(df)
    val daily = df.groupBy("day").agg(Sketches.ddSketch(alpha)(col("value")).as("sk"))
    val merged = daily.agg(Sketches.ddMerge()(col("sk")).as("sk"))
      .select("sk.*").as[Sketches.DDSketch].head()
    assert(merged == whole, "bucket-sum merge must be loss-free (merged != whole-data sketch)")
    // 2. partition/arrival order cannot change the sketch
    val shuffled = skOf(df.repartition(7, col("value")))
    assert(shuffled == whole, "sketch depends on partitioning — merge is not order-free")
    // 3. the relative-error contract at many quantiles, vs exact values
    //    at the same rank convention (0-based floor(q·(n−1)))
    val sorted = vals.sorted
    for (q <- Seq(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)) {
      val exact = sorted(math.floor(q * (sorted.size - 1)).toInt)
      val est = Sketches.ddQuery(whole, alpha, q).get
      assert(math.abs(est - exact) <= alpha * math.abs(exact) + 1e-9,
        s"q=$q est=$est exact=$exact exceeds α relative error")
    }
    // 4. NaN/Inf skipped, exact zeros land in the zero store
    val dirty = (vals ++ Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      .toDF("value")
    assert(skOf(dirty) == whole, "NaN/Inf must be skipped, not indexed")
    assert(whole.zero == 50L && whole.cnt == vals.size.toLong)
    // 5. out-of-range q fails loudly at the API boundary (an unchecked
    //    q>1 used to crash with .max on an empty positive store instead)
    intercept[IllegalArgumentException](Sketches.ddQuery(whole, alpha, 1.5))
    intercept[IllegalArgumentException](Sketches.ddQuery(whole, alpha, -0.1))
  }

  test("kmv theta sketch: un-full exactness, merge ≡ sketch-of-union, full-sketch error bound") {
    import spark.implicits._
    import graft.api.Sketches
    def toSk(r: org.apache.spark.sql.Row): Sketches.KMVSketch =
      Sketches.KMVSketch(r.getSeq[Long](0).toList, r.getInt(1))
    // synthetic overlap with k > distinct (un-full sketches): every
    // estimator is EXACT — A = 0..99, B = 50..150, |∩| = 50, |∪| = 151
    val a = (0 until 100).map(i => ("A", s"item_$i"))
    val b = (50 to 150).map(i => ("B", s"item_$i"))
    val df = (a ++ b).toDF("src", "item").select(col("src"), xxhash64(col("item")).as("h"))
    val sk = df.groupBy("src").agg(Sketches.kmvSketch(1024)(col("h")).as("sk"))
      .collect().map(r => r.getString(0) -> toSk(r.getStruct(1))).toMap
    assert(Sketches.kmvDistinct(sk("A")) == 100.0)
    assert(Sketches.kmvDistinct(sk("B")) == 101.0)
    val (shared, jac) = Sketches.kmvOverlap(sk("A"), sk("B"))
    assert(shared == 50.0, s"shared $shared")
    assert(math.abs(jac - 50.0 / 151.0) < 1e-12, s"jaccard $jac")
    assert(Sketches.kmvOverlap(sk("A"), sk("A")) == (100.0, 1.0), "self-overlap identity")
    // merge ≡ sketch-of-union FIELD-EXACT through the column rollup
    // (k = 64 < distinct so real truncation is exercised), and
    // partition/arrival order cannot change the sketch
    val whole = toSk(df.agg(Sketches.kmvSketch(64)(col("h")).as("sk")).head.getStruct(0))
    val rolled = toSk(df.groupBy("src").agg(Sketches.kmvSketch(64)(col("h")).as("sk"))
      .agg(Sketches.kmvMerge()(col("sk")).as("sk")).head.getStruct(0))
    assert(rolled == whole, "merged per-src sketches must equal the whole-data sketch")
    val shuffled = toSk(df.repartition(7, col("h"))
      .agg(Sketches.kmvSketch(64)(col("h")).as("sk")).head.getStruct(0))
    assert(shuffled == whole)
    // full sketch (5000 distinct, k = 256): (k−1)/θ estimator lands
    // within the ~1/√(k−2) error regime — generous 3σ-ish bound
    val big = (0 until 5000).map(i => s"v_$i").toDF("item")
      .select(xxhash64(col("item")).as("h"))
    val est = Sketches.kmvDistinct(
      toSk(big.agg(Sketches.kmvSketch(256)(col("h")).as("sk")).head.getStruct(0)))
    assert(math.abs(est - 5000) / 5000.0 < 0.2, s"distinct est $est vs 5000")
    // the registered query: C(nSources, 2) rows, jaccard ∈ [0, 1]
    val rows = graft.SparkEntry.queries("q_kmv_overlap")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nSrc = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select("source").distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2, s"${rows.length} pairs for $nSrc sources")
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0 && r.getAs[Double]("est_shared") >= 0.0, r.toString)
    }
  }

  test("cms frequency rollup: exact mergeability, overestimate-only bound, probe guards") {
    import spark.implicits._
    import graft.api.Sketches
    val depth = 5; val width = 256
    // zipf-ish key mix over 4 "days", with one key absent entirely
    val keys = (1 to 3000).map(i => s"k${i % (i % 7 + 1)}") ++ Seq.fill(40)("rare")
    val rows = keys.zipWithIndex.map { case (k, i) => (i % 4, k) }
    val df = rows.toDF("day", "key")
    def skOf(d: org.apache.spark.sql.DataFrame): Sketches.CMSketch =
      d.agg(Sketches.cmsSketch(depth, width)(col("key")).as("sk"))
        .select("sk.*").as[Sketches.CMSketch].head()
    // 1. merged per-day sketches ≡ the whole-data sketch, cell-exact
    val whole = skOf(df)
    val daily = df.groupBy("day").agg(Sketches.cmsSketch(depth, width)(col("key")).as("sk"))
    val merged = daily.agg(Sketches.cmsMerge()(col("sk")).as("sk"))
      .select("sk.*").as[Sketches.CMSketch].head()
    assert(merged.counts.sameElements(whole.counts) && merged.total == whole.total,
      "cell-sum merge must be loss-free (merged != whole-data sketch)")
    // 2. partition/arrival order cannot change the sketch
    val shuffled = skOf(df.repartition(7, col("key")))
    assert(shuffled.counts.sameElements(whole.counts) && shuffled.total == whole.total)
    // 3. estimates: ALWAYS ≥ exact (one-sided), ≤ exact + (e/width)·N
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = exact.keys.toSeq.sorted :+ "never_seen"
    val ests = Seq(Tuple1(whole)).toDF("sk")
      .select(Sketches.cmsEstimates(depth, width, probes)(col("sk")).as("e"))
      .head().getSeq[Long](0)
    val bound = math.ceil(math.E / width * keys.size).toLong
    probes.zip(ests).foreach { case (p, est) =>
      val tru = exact.getOrElse(p, 0L)
      assert(est >= tru, s"$p: CMS must never underestimate ($est < $tru)")
      assert(est <= tru + bound, s"$p: est $est exceeds $tru + e/width·N ($bound)")
    }
    // 4. probing an empty (never-merged) sketch → all zeros, not a crash
    val emptyEsts = Seq(Tuple1(Sketches.CMSketch(Array.emptyLongArray, 0L))).toDF("sk")
      .select(Sketches.cmsEstimates(depth, width, probes)(col("sk")).as("e"))
      .head().getSeq[Long](0)
    assert(emptyEsts.forall(_ == 0L))
    // 5. a genuinely mis-shaped sketch fails loudly (never probes wrong
    //    cells silently); mismatched merges fail in CmsMergeAgg.require
    val bad = intercept[Exception] {
      Seq(Tuple1(Sketches.CMSketch(new Array[Long](3), 0L))).toDF("sk")
        .select(Sketches.cmsEstimates(depth, width, probes)(col("sk")).as("e"))
        .head()
    }
    assert(bad.getMessage != null)
  }

  test("prepare(nearDedup=true) block hygiene: intermediates released, result self-contained, release() frees the rest") {
    graft.Hygiene.dropLeakedBlocks(spark)
    val sc = spark.sparkContext
    def persisted(): Set[Int] =
      sc.getPersistentRDDs.filter(_._2.getStorageLevel.isValid).keySet.toSet
    val before = persisted()
    // a caller-owned cached frame prepare must NOT sweep
    val callerOwned = Tables.nation(spark, sfDir).cache()
    callerOwned.count()
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val out = graft.api.Pipeline.prepare(docs, "doc_id", "text",
      isEval = col("doc_id") % 97 === 0, samplePct = 50,
      nearDedup = true, jaccardThreshold = 0.5, maxShingleDf = 10L)
    val afterPrepare = persisted() -- before
    // exactly ONE new persistent RDD: the materialized result itself —
    // the input snapshot and the contraction's rounds are already gone
    assert(afterPrepare.size == 2, // result + callerOwned
      s"prepare leaked intermediates: ${afterPrepare.size - 2} extra persistent RDDs")
    // the result is self-contained: consuming it twice is block-served
    val n1 = out.count(); val n2 = out.select("doc_id").distinct().count()
    assert(n1 > 0 && n1 == n2)
    // release() frees the result's blocks and ONLY them
    graft.api.Pipeline.release(out)
    val afterRelease = persisted() -- before
    // exactly the caller's own cache survives
    assert(afterRelease.size == 1, s"release swept too much or too little: $afterRelease")
    assert(callerOwned.count() > 0)
    callerOwned.unpersist(blocking = false)
  }

  test("bpeEncode ≡ plain-Scala reference; lossless; learn→apply round trip on the fixture") {
    import spark.implicits._
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
        else acc :+ s
      }
    def refEncode(text: String, merges: Seq[(String, String)]): Seq[Vector[String]] =
      text.split(" ").filter(_.nonEmpty).toSeq.map { w =>
        merges.foldLeft(w.map(_.toString).toVector :+ "</w>") {
          case (syms, (a, b)) => applyMerge(syms, a, b)
        }
      }
    val docs = Seq((1L, "low lower lowest"), (2L, "the lowly low"), (3L, "aaaa ab"))
      .toDF("doc_id", "text")
    val merges = Seq("l" -> "o", "lo" -> "w", "low" -> "</w>", "a" -> "a")
    val got = graft.api.TextAnalysis.bpeEncode(docs, "text", merges)
      .orderBy("doc_id").select("text", "subwords")
      .as[(String, Seq[Seq[String]])].collect()
    got.foreach { case (text, sw) =>
      assert(sw.map(_.toVector) == refEncode(text, merges),
        s"encode mismatch on '$text': $sw")
      // lossless: subwords concat back to the word (marker stripped)
      val words = text.split(" ").filter(_.nonEmpty).toSeq
      assert(sw.map(_.mkString.stripSuffix("</w>")) == words, sw.toString)
    }
    // the greedy overlap rule is visible: "aaaa" → [aa, aa, </w>]
    assert(got(2)._2.head == Seq("aa", "aa", "</w>"), got(2)._2.toString)
    // learn→apply round trip on the real fixture: every subword the
    // encoded corpus uses is either a single char, the marker, a
    // learned merge result, or char+marker — nothing is invented
    val fixture = Tables.documents(spark, sfDir).limit(50)
    val learned = graft.api.TextAnalysis.bpeLearn(fixture, "text", rounds = 6)
      .orderBy("round").select("left", "right", "merged")
      .as[(String, String, String)].collect()
    val mergedSet = learned.map(_._3).toSet
    val subs = graft.api.TextAnalysis.bpeEncode(fixture, "text",
        learned.map(t => (t._1, t._2)).toSeq)
      .select(explode(flatten(col("subwords"))).as("s"))
      .distinct().as[String].collect()
    // initial symbols are single chars and the marker; any multi-char
    // subword can only exist as a learned merge result
    subs.foreach { s =>
      assert(s.length == 1 || s == "</w>" || mergedSet.contains(s),
        s"invented subword: '$s'")
    }
  }

  test("ewma: hand model, constant-series fixpoint, bounded window, window-only plan") {
    import spark.implicits._
    // series 1, 2, 4 at α = 0.5 (adjust=True normalized):
    // t1: 1; t2: (0.5·1 + 1·2)/1.5 = 5/3; t3: (0.25·1 + 0.5·2 + 1·4)/1.75 = 3
    val df = Seq((1L, 1000L, 1L, 1.0), (1L, 2000L, 2L, 2.0), (1L, 3000L, 3L, 4.0))
      .toDF("k", "ts", "id", "v")
    val out = graft.api.TimeSeries.ewma(df, "k", "ts", "id", "v", windowRows = 20)
      .orderBy("id").select("win_m", "ewma").as[(Long, Double)].collect()
    assert(out(0) == ((1L, 1.0)), out.mkString(","))
    assert(math.abs(out(1)._2 - 5.0 / 3.0) < 1e-12 && out(1)._1 == 2L, out.mkString(","))
    assert(math.abs(out(2)._2 - 3.0) < 1e-12 && out(2)._1 == 3L, out.mkString(","))
    // constant series is a fixpoint at any α
    val const = (1 to 50).map(i => (1L, i.toLong, i.toLong, 7.5)).toDF("k", "ts", "id", "v")
    val cOut = graft.api.TimeSeries.ewma(const, "k", "ts", "id", "v",
        windowRows = 10, alpha = 0.25)
      .select("ewma").as[Double].collect()
    assert(cOut.forall(e => math.abs(e - 7.5) < 1e-9), cOut.take(5).mkString(","))
    // the window is BOUNDED: win_m caps at windowRows
    val mOut = graft.api.TimeSeries.ewma(const, "k", "ts", "id", "v", windowRows = 10)
      .select("win_m").as[Long].collect()
    assert(mOut.max == 10L && mOut.min == 1L)
    // plan: window-only, no join (the banded self-join would be the trap)
    val p = graft.SparkEntry.queries("q_ewma")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Window") && !p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("incremental minhash ≡ batch minhashPairs(old ∪ new) restricted to new-touching pairs") {
    import graft.api.TextDedup
    val docs = Tables.documents(spark, sfDir)
    val newIds = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = TextDedup.minhashPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(p => newIds.contains(p._1) || newIds.contains(p._2)).toSet
    val got = graft.SparkEntry.queries("q_dedup_incremental")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expectedRounded = expected.map(p => (p._1, p._2,
      BigDecimal(p._3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got == expectedRounded,
      s"extra=${got -- expectedRounded} missing=${expectedRounded -- got}")
    // the premise: the fixture actually exercises the index path
    val gotNewOld = got.filter(p => newIds.contains(p._1) ^ newIds.contains(p._2))
    assert(gotNewOld.nonEmpty, "no new-vs-old pair — retune the split")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("product quantization: argmin-optimal codes (plain-Scala check), Lloyd non-increase, deterministic") {
    import graft.api.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    assert(books.size == 8 && books.forall(b => b.size == 16 && b.forall(_.size == 8)))
    val encoded = Similarity.pqEncode(
        emb.filter(col("embedding").isNotNull && size(col("embedding")) === 64),
        "embedding", books, dim = 64)
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("codes"), col("pq_sqerr"))
      .collect()
    assert(encoded.nonEmpty)
    // codes in range; every code is the TRUE L2 argmin per subspace
    // (smallest-index tiebreak), and pq_sqerr is the sum of the minima
    encoded.take(200).foreach { r =>
      val v = r.getSeq[Double](1)
      val codes = r.getSeq[Int](2)
      var total = 0.0
      (0 until 8).foreach { s =>
        val sub = v.slice(s * 8, s * 8 + 8)
        val dists = books(s).map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
        val best = dists.indexOf(dists.min)
        assert(codes(s) == best, s"vec ${r.getLong(0)} sub $s: code ${codes(s)} != argmin $best")
        total += dists.min
      }
      assert(math.abs(total - r.getDouble(3)) < 1e-9)
    }
    // one Lloyd round cannot increase total distortion vs the raw seeds
    val seedBooks = Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, k = 16, dim = 64, iterations = 0)
    def totalErr(bks: Seq[Seq[Seq[Double]]]): Double =
      Similarity.pqEncode(
          emb.filter(col("embedding").isNotNull && size(col("embedding")) === 64),
          "embedding", bks, dim = 64)
        .agg(sum("pq_sqerr")).head().getDouble(0)
    assert(totalErr(books) <= totalErr(seedBooks) + 1e-6,
      "a Lloyd round increased distortion")
    // deterministic refit
    assert(books == Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 16, dim = 64))
    // NULL / wrong-dimension / element-NULL vectors null the WHOLE codes
    // column together with pq_sqerr (the quantize whole-vector-NULL
    // convention) — never a non-NULL array of m NULL elements
    import spark.implicits._
    val good = (0 until 64).map(_.toDouble)
    val withElemNull = Seq[(Long, Option[Seq[java.lang.Double]])](
      (1L, Some(good.map(Double.box))),
      (2L, None),                                                          // NULL vector
      (3L, Some(good.take(10).map(Double.box))),                           // wrong dim
      (4L, Some(good.map(Double.box).updated(5, null: java.lang.Double)))) // element NULL
      .toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(withElemNull, "embedding", books, dim = 64)
      .select("vec_id", "codes", "pq_sqerr").orderBy("vec_id").collect()
    assert(enc(0).getSeq[Int](1).size == 8 && !enc(0).isNullAt(2))
    enc.drop(1).foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2),
        s"vec ${r.getLong(0)}: expected whole-NULL codes/err, got $r")
    }
  }

  test("native PQ expressions: adc_lut ≡ plain-Scala tables, adc ≡ lut lookups, loud NULLs") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    // m=2 subspaces, k=3 codewords, dsub=2 (dim=4) — small enough to
    // hand-verify, typed as the nested literal the expressions take
    val books: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(0.5, -0.5)),
      Seq(Seq(2.0, 2.0), Seq(-1.0, 0.0), Seq(0.25, 0.75)))
    val v = Seq(0.1, 0.2, 0.3, 0.4)
    val df = Seq((1L, v)).toDF("id", "e")
    val lut = df.select(call_function("graft_adc_lut", col("e"), typedLit(books)).as("lut"))
      .head().getSeq[scala.collection.Seq[Double]](0).map(_.toList).toList
    // same arithmetic, same accumulation order → bit-exact equality
    val expected = books.zipWithIndex.map { case (book, s) =>
      val sub = v.slice(s * 2, s * 2 + 2)
      book.map(cw => sub.zip(cw).map { case (x, y) => (x - y) * (x - y) }.sum).toList
    }.toList
    assert(lut == expected, s"$lut vs $expected")
    // adc(lut, codes) = Σ lut[s][codes[s]], bit-exact
    val adc = df.select(call_function("graft_adc",
        call_function("graft_adc_lut", col("e"), typedLit(books)),
        typedLit(Seq(0, 2))).as("adc"))
      .head().getDouble(0)
    assert(adc == expected(0)(0) + expected(1)(2), s"$adc")
    // loud NULLs: shape mismatch, out-of-range code, NULL probe element
    def adcOf(codes: Seq[Int]) = df.select(call_function("graft_adc",
      call_function("graft_adc_lut", col("e"), typedLit(books)),
      typedLit(codes)).as("a")).head()
    assert(adcOf(Seq(0)).isNullAt(0), "|codes| != |lut| must be NULL")
    assert(adcOf(Seq(0, 3)).isNullAt(0), "out-of-range code must be NULL")
    val badProbe = Seq((1L, Seq[java.lang.Double](0.1, null, 0.3, 0.4))).toDF("id", "e")
    assert(badProbe.select(call_function("graft_adc_lut",
      col("e").cast("array<double>"), typedLit(books))).head().isNullAt(0),
      "NULL probe element must NULL the lut")
    assert(df.select(call_function("graft_adc_lut",
      slice(col("e"), 1, 3), typedLit(books))).head().isNullAt(0),
      "wrong-dim probe must NULL the lut")
  }

  test("stageReport reconciles exactly with the pipeline it accounts for") {
    val rep = graft.SparkEntry.queries("q_pipeline_report")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rep.map(_._2).toSeq ==
      Seq("keep_filter", "exact_dedup", "decontaminate", "sample"))
    // chained: each stage's n_in is the previous stage's n_out; drops ≥ 0
    rep.sliding(2).foreach { case Array(a, b) => assert(b._3 == a._4, s"$a -> $b") }
    rep.foreach { r => assert(r._5 == r._3 - r._4 && r._5 >= 0, r.toString) }
    // the accounting's final survivors == the actual pipeline's output
    val e2e = graft.SparkEntry.queries("q_pipeline_e2e")(spark, sfDir).count()
    assert(rep.last._4 == e2e, s"report says ${rep.last._4}, pipeline emits $e2e")
  }

  test("flagship entry() returns rows (driver t1 smoke)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("trigram language ID: 8-sentence real-language panel classified correctly; und on empty/null") {
    import spark.implicits._
    val panel = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and runs into the forest to find food"),
      ("en", "we propose a new method for training large language models on distributed systems"),
      ("es", "el gobierno de la nación anunció que las elecciones se celebrarán en el mes de junio"),
      ("es", "los niños juegan en el parque y sus padres están sentados en las bancas"),
      ("de", "die bundesregierung hat beschlossen dass wir für die zukunft mehr in bildung investieren"),
      ("de", "ich möchte ein neues auto kaufen aber die preise sind in diesem jahr gestiegen"),
      ("fr", "le gouvernement français a annoncé que les élections auront lieu au mois de juin"),
      ("fr", "je voudrais acheter une nouvelle voiture mais les prix ont augmenté cette année"))
    val out = graft.api.TextAnalysis.languageIdNgram(
        panel.toDF("want", "text"), "text")
      .select("want", "pred_lang").as[(String, String)].collect()
    out.foreach { case (want, got) => assert(want == got, s"want $want got $got") }
    // degenerate inputs: no trigram hits → 'und', never a crash
    val und = graft.api.TextAnalysis.languageIdNgram(
        Seq((1, ""), (2, null: String), (3, "xyz")).toDF("id", "text"), "text")
      .select("pred_lang").as[String].collect()
    assert(und.forall(_ == "und"), und.mkString(","))
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("ECDF scan buckets: occupancy-derived count bounded; KS statistic invariant to bucketing") {
    import graft.api.Drift
    // derivation: floor 2, ceil 4096, parallelism-driven (≤64, ≥4096
    // rows per bucket) for mid-size frames, size-driven (262144 rows
    // per bucket) beyond — no constant floor (r14: a 50-distinct-value
    // column must not pay 64 near-empty buckets of cut machinery)
    assert(Drift.scanBuckets(0) == 2)
    assert(Drift.scanBuckets(50) == 2)
    assert(Drift.scanBuckets(200000) == 49)
    assert(Drift.scanBuckets(1000000) == 64)
    assert(Drift.scanBuckets(100000000L) == 382)
    assert(Drift.scanBuckets(10000000000L) == 4096)
    // the statistic is provably bucket-invariant (boundaries only
    // partition the prefix scan) — pin it by running the SAME data at
    // wildly different bucket counts plus the derived default
    import spark.implicits._
    val vals = (1 to 500).map(i => (i * 7 % 101 + i * 0.25, if (i % 3 == 0) "A" else "B"))
    val df = vals.toDF("v", "lab")
    val at = (b: Int) => Drift.ks(df, "v", "lab", "A", "B", buckets = b)
      .head().getDouble(0)
    val auto = Drift.ks(df, "v", "lab", "A", "B").head().getDouble(0)
    assert(at(2) == at(64) && at(64) == at(300) && at(64) == auto,
      s"bucketing moved the statistic: ${at(2)} / ${at(64)} / ${at(300)} / $auto")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("Drift.ks ≡ brute-force ECDF model; 0 on identical, 1 on disjoint samples") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(300)(rnd.nextInt(40).toDouble)
    val b = Seq.fill(200)(rnd.nextInt(40).toDouble + 5.0)
    def frame(x: Seq[Double], y: Seq[Double]) =
      (x.map(("A", _)) ++ y.map(("B", _))).toDF("lab", "v")
    // brute force: evaluate |F_A - F_B| at every observed value
    val pts = (a ++ b).distinct.sorted
    val model = pts.map(p => math.abs(
      a.count(_ <= p).toDouble / a.size - b.count(_ <= p).toDouble / b.size)).max
    // buckets=16 over ~45 distinct values exercises empty buckets and the
    // cross-bucket prefix offsets
    val row = graft.api.Drift.ks(frame(a, b), "v", "lab", "A", "B", buckets = 16).head()
    assert(math.abs(row.getDouble(0) - model) < 1e-12, s"got ${row.getDouble(0)}, want $model")
    assert(row.getLong(1) == a.size && row.getLong(2) == b.size)
    assert(graft.api.Drift.ks(frame(a, a), "v", "lab", "A", "B").head().getDouble(0) == 0.0)
    val disjoint = graft.api.Drift.ks(frame(a, a.map(_ + 1000.0)), "v", "lab", "A", "B")
    assert(disjoint.head().getDouble(0) == 1.0)
  }

  test("Drift.psi: identical multisets score exactly 0; a fully shifted slice scores large") {
    import spark.implicits._
    val ref = (0 until 200).map(i => ("ref", (i % 100).toDouble))
    val same = (0 until 200).map(i => ("same", (i % 100).toDouble))
    val shifted = (0 until 200).map(i => ("shifted", (i % 100).toDouble + 1000.0))
    val out = graft.api.Drift.psi(
        (ref ++ same ++ shifted).toDF("g", "v"), "v", "g", refGroup = "ref")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet == Set("same", "shifted"), "one row per non-ref group")
    // identical counts per bin → pc == pr exactly → every term is exactly 0
    assert(out("same")._1 == 0.0)
    assert(out("shifted")._1 > 1.0, s"all-mass-moved PSI was ${out("shifted")._1}")
    assert(out("same")._2 == 200L)
  }

  test("Drift.chiSquare: product-structured (independent) table scores exactly 0") {
    import spark.implicits._
    // O(r,c) = (r+1)(c+1) → margins factorize → E == O exactly
    val rows = for {
      r <- 0 until 3; c <- 0 until 4; _ <- 0 until (r + 1) * (c + 1)
    } yield (s"r$r", s"c$c")
    val got = graft.api.Drift.chiSquare(rows.toDF("x", "y"), "x", "y").head()
    assert(got.getDouble(0) == 0.0, s"chi2 ${got.getDouble(0)}")
    assert(got.getLong(1) == 6L, "dof = (3-1)(4-1)")
    assert(got.getLong(2) == rows.size.toLong)
    // dependent table scores positive
    val dep = Seq.fill(50)(("a", "x")) ++ Seq.fill(50)(("b", "y"))
    assert(graft.api.Drift.chiSquare(dep.toDF("x", "y"), "x", "y").head().getDouble(0) > 10.0)
  }

  test("Cdc.applyChanges: kept/updated/inserted/deleted scenarios and last-writer election") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("key", "value")
    val changes = Seq(
      (2L, 5L, 1L, "update", 21.0), (2L, 9L, 2L, "update", 22.0), // later wins
      (3L, 1L, 3L, "delete", 0.0),                                // delete existing
      (4L, 1L, 4L, "update", 40.0),                               // insert new
      (5L, 1L, 5L, "update", 50.0), (5L, 2L, 6L, "delete", 0.0)   // insert then delete
    ).toDF("key", "seq", "seq2", "op", "value")
    val out = graft.api.Cdc.applyChanges(base, changes, "key", Seq("seq", "seq2"),
        opCol = "op", deleteOp = "delete", payloadCols = Seq("value"))
      .as[(Long, Double, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 10.0, "kept"), (2L, 22.0, "updated"), (4L, 40.0, "inserted")))
    val withDel = graft.api.Cdc.applyChanges(base, changes, "key", Seq("seq", "seq2"),
        opCol = "op", deleteOp = "delete", payloadCols = Seq("value"), keepDeletes = true)
      .as[(Long, Double, String)].collect().sortBy(_._1)
    assert(withDel.map(r => r._1 -> r._3).toSeq ==
      Seq(1L -> "kept", 2L -> "updated", 3L -> "deleted", 4L -> "inserted", 5L -> "deleted"))
  }

  test("TextAnalysis.zipfFit recovers slope ≈ −1 on an exact power-law corpus") {
    import spark.implicits._
    // token i repeated floor(1000/i) times → ln(cnt) ≈ ln(1000) − ln(rank)
    val words = (1 to 50).flatMap(i => Seq.fill(1000 / i)(f"w$i%03d"))
    val df = Seq(("g1", words.mkString(" "))).toDF("src", "text")
    val got = graft.api.TextAnalysis.zipfFit(df, "src", "text", topN = 50).head()
    assert(math.abs(got.getDouble(1) - (-1.0)) < 0.05, s"slope ${got.getDouble(1)}")
    assert(got.getLong(2) == 50L)
  }

  test("containmentPairs flags a quoted-subset pair that Jaccard dilutes below threshold") {
    import spark.implicits._
    val toks = (1 to 100).map(i => f"t$i%03d")
    val docs = Seq(
      (1L, toks.take(30).mkString(" ")),   // A = prefix of B
      (2L, toks.mkString(" "))).toDF("doc_id", "text")
    val cont = graft.api.TextDedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, "A's shingles all inside B")
    assert(math.abs(r.getDouble(3) - 28.0 / 98.0) < 1e-12)
    // the same pair is INVISIBLE to symmetric Jaccard at the usual 0.5
    assert(graft.api.TextDedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).collect().isEmpty)
  }

  test("Cdc.scd2History: interval chains, delete-closes, open-version ≡ applyChanges winner") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, 1L, "u", 1.0), (1L, 20L, 2L, "u", 2.0), (1L, 30L, 3L, "u", 3.0), // 3 versions
      (2L, 10L, 4L, "u", 9.0), (2L, 20L, 5L, "d", 0.0),                          // closed by delete
      (3L, 10L, 6L, "u", 7.0),                                                   // single open
      (4L, 10L, 7L, "u", 4.0), (4L, 10L, 8L, "u", 5.0)                           // ts tie → id order
    ).toDF("key", "ts_ms", "id", "op", "value")
    val hist = graft.api.Cdc.scd2History(changes, "key", "ts_ms", Seq("id"),
        opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
      .as[(Long, Long, Long, Option[Long], Double, Long)].collect()
      .sortBy(r => (r._1, r._3, r._2))
    // key 1: contiguous chain, last open
    val k1 = hist.filter(_._1 == 1L)
    assert(k1.map(_._3).toSeq == Seq(10L, 20L, 30L))
    assert(k1.map(_._4).toSeq == Seq(Some(20L), Some(30L), None))
    assert(k1.map(_._6).toSeq == Seq(0L, 0L, 1L))
    // key 2: the delete closed the only version and emitted nothing
    val k2 = hist.filter(_._1 == 2L)
    assert(k2.map(r => (r._4, r._6)).toSeq == Seq((Some(20L), 0L)))
    // key 4: equal ts — the id tiebreak chains them deterministically
    val k4 = hist.filter(_._1 == 4L)
    assert(k4.map(r => (r._2, r._4)).toSeq == Seq(7L -> Some(10L), 8L -> None))
    // reconcile with applyChanges: every key whose LAST change isn't a
    // delete has exactly one open version carrying the winner's payload
    val merged = graft.api.Cdc.applyChanges(
        Seq((99L, 0.0)).toDF("key", "value"), changes, "key", Seq("ts_ms", "id"),
        opCol = "op", deleteOp = "d", payloadCols = Seq("value"))
      .filter($"cdc_action" === "inserted")
      .as[(Long, Double, String)].collect().map(r => r._1 -> r._2).toMap
    val open = hist.filter(_._4.isEmpty).map(r => r._1 -> r._5).toMap
    assert(open == merged)
  }

  test("Privacy: kAnonymity class floor and lDiversity distinct floor match hand models") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("en", "web", "s1"), ("en", "web", "s2"), ("en", "web", "s1"),
      ("en", "book", "s1"),
      ("fr", "web", "s3"), ("fr", "web", "s3")).toDF("lang", "src", "sens")
    val k = graft.api.Privacy.kAnonymity(rows, Seq(col("lang"), col("src")), k = 2)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(k.toSeq == Seq(("en", "book", 1L, 1L), ("en", "web", 3L, 0L),
      ("fr", "web", 2L, 0L)))
    val l = graft.api.Privacy.lDiversity(rows, Seq(col("lang")), col("sens"), l = 2)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    // en: 4 rows, 2 distinct sensitive → diverse; fr: homogeneous → at risk
    assert(l.toSeq == Seq(("en", 4L, 2L, 0L), ("fr", 2L, 1L, 1L)))
    intercept[IllegalArgumentException] {
      graft.api.Privacy.kAnonymity(rows, Seq.empty, k = 2)
    }
  }

  test("TimeSeries.autocorr: periodic series peaks at its period, constant series guards to 0") {
    import spark.implicits._
    // period-3 series over 90 buckets: acf(3) = 1 exactly, acf(1) < 1
    val periodic = (0 until 90).map(i =>
      ("p", i.toLong * 1000L, Seq(10.0, 50.0, 90.0)(i % 3)))
    val flat = (0 until 90).map(i => ("c", i.toLong * 1000L, 42.0))
    val df = (periodic ++ flat).toDF("g", "ts_ms", "v")
    val out = graft.api.TimeSeries.autocorr(df, "g", "ts_ms", "v",
        widthMs = 1000L, maxLag = 3)
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out(("p", 3L))._2 >= 0.9998,
      s"period-3 acf was ${out(("p", 3L))._2}") // floor(1e4·x)/1e4 may shave one step
    assert(out(("p", 1L))._2 < 0.0, "adjacent lags of a 3-cycle anticorrelate")
    assert((1 to 3).forall(k => out(("c", k.toLong))._2 == 0.0),
      "zero-variance series must guard to 0, not NaN")
    assert(out(("p", 1L))._1 == 89L && out(("p", 3L))._1 == 87L, "pair counts n - lag")
  }

  test("jaroWinkler kernel matches the DuckDB-verified table; pairs API blocks and thresholds") {
    import spark.implicits._
    val jw = graft.functions.TextExprs.jaroWinkler _
    // expected values captured from duckdb jaro_winkler_similarity
    val table = Seq(
      ("martha", "marhta", 0.9611111111111111), ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964), ("abcdefgh", "abzzzzzz", 0.5),
      ("", "a", 0.0), ("", "", 0.0), ("a", "a", 1.0), ("ab", "ba", 0.0),
      ("crate", "trace", 0.7333333333333334), ("dwayne", "duane", 0.8400000000000001),
      ("abc", "xyz", 0.0), ("prefixmatch", "prefixnomatch", 0.9692307692307692),
      ("ab", "abcdefghijklmnop", 0.7666666666666667))
    table.foreach { case (a, b, want) =>
      assert(jw(a, b) == want, s"jw($a, $b) = ${jw(a, b)}, want $want")
    }
    val df = Seq("small ring", "small ping", "small thing", "tiny ring")
      .toDF("name")
    val pairs = graft.api.Fuzzy.jaroWinklerPairs(df, "name",
        n => org.apache.spark.sql.functions.substring(n, 1, 1), threshold = 0.8)
      .as[(String, String, Double)].collect().sortBy(r => (r._1, r._2))
    // 'tiny ring' is in the 't' block — never scored against the 's' block
    assert(pairs.forall(p => p._1.startsWith("s") && p._2.startsWith("s")))
    assert(pairs.map(p => (p._1, p._2)).toSeq ==
      Seq(("small ping", "small ring"), ("small ping", "small thing"),
        ("small ring", "small thing")))
    assert(pairs.forall(p => p._3 >= 0.8 && p._3 <= 1.0))
    assert(pairs.forall(p => p._3 == jw(p._1, p._2)), "expression ≡ kernel")
  }

  test("linearFit recovers a planted linear trend exactly; constant series degrades cleanly") {
    import spark.implicits._
    // key "up": value sum per hour bucket = 2.5 + 0.75·t (one event per
    // bucket); key "flat": constant 3.0 — den > 0 but dx = 0
    val rows = (0 until 50).flatMap { t =>
      Seq(("up", t * 3600000L, 2.5 + 0.75 * t), ("flat", t * 3600000L, 3.0))
    }
    val out = graft.api.TimeSeries.linearFit(
        rows.toDF("k", "ts_ms", "value"), "k", "ts_ms", "value", 3600000L)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // slope/intercept are in quantized units (value·1e4 per bucket)
    val (nUp, slopeUp, interUp, r2Up) = out("up")
    assert(nUp == 50L && slopeUp == 7500.0 && interUp == 25000.0 && r2Up == 1.0,
      s"up: $slopeUp $interUp $r2Up")
    val (nF, slopeF, interF, r2F) = out("flat")
    assert(nF == 50L && slopeF == 0.0 && interF == 30000.0 && r2F == 0.0,
      s"flat: $slopeF $interF $r2F")
  }

  test("seasonalNaiveError scores a perfectly periodic series at zero; phase shift scores positive") {
    import spark.implicits._
    val period = (0 until 24).map(h => 10.0 + (h % 6))
    val rows = (0 until 96).flatMap { t =>
      Seq(("periodic", t * 3600000L, period(t % 24)),
        ("drift", t * 3600000L, period(t % 24) + t * 0.5))
    }
    val out = graft.api.TimeSeries.seasonalNaiveError(
        rows.toDF("k", "ts_ms", "value"), "k", "ts_ms", "value",
        3600000L, season = 24)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("periodic") == ((72L, 0.0, 0.0)), out("periodic").toString)
    // each bucket's error is exactly 24·0.5 = 12 under the linear drift
    assert(out("drift") == ((72L, 12.0, 12.0)), out("drift").toString)
  }

  test("gini: equal values score 0, total concentration scores (n−1)/n, top_share tracks the head") {
    import spark.implicits._
    val equal = (1 to 100).map(i => ("eq", 50L, i.toLong))
    val conc = (1 to 100).map(i => ("conc", if (i == 100) 1000L else 0L, i.toLong))
    val out = graft.api.Profiler.gini(
        (equal ++ conc).toDF("g", "x", "id"), "g", "x", "id")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("eq") == ((100L, 5000L, 0.0, 0.1)), out("eq").toString)
    // all mass in one row: G = (n−1)/n = 0.99; the top decile holds it all
    assert(out("conc") == ((100L, 1000L, 0.99, 1.0)), out("conc").toString)
  }

  test("splitByHash: deterministic, disjoint-exhaustive, duplicates land in one split") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val a = graft.api.Sampling.splitByHash(docs, "text", 75, 13)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = graft.api.Sampling.splitByHash(docs, "text", 75, 13)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "assignment must be replayable")
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a.size == docs.count(), "every doc assigned exactly once")
    // identical CONTENT ⇒ identical split, regardless of id: the
    // leakage-proof property rand() splits lack
    val dup = graft.api.Sampling.splitByHash(
        docs.limit(50).select(col("doc_id") + 1000000, col("text"))
          .toDF("doc_id", "text").unionAll(docs.limit(50).select("doc_id", "text")),
        "text", 75, 13)
      .select("text", "split").as[(String, String)].collect()
      .groupBy(_._1).values
    assert(dup.forall(_.map(_._2).toSet.size == 1),
      "same content must land in one split")
  }

  test("minhash hot-bucket cap: fixture pairs unchanged at default cap; degenerate bucket bounded") {
    import graft.api.TextDedup
    val docs = Tables.documents(spark, sfDir)
    // (a) the default cap is invisible on the fixture — no band bucket
    // is hot, so capped ≡ uncapped exactly (the r8 'done' criterion)
    def pairSet(capped: Int) =
      TextDedup.minhashPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5, bands = 8, maxBucketDocs = capped)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(256) == pairSet(0), "default cap changed fixture pairs")
    // (b) a degenerate corpus: 300 IDENTICAL docs share one signature →
    // every band bucket they occupy is hot. Uncapped, that single
    // boilerplate cluster costs 300²/2 pairs (the 100 TB quadratic
    // blowup); capped, the hot buckets are dropped whole — the
    // documented recall trade (mass-duplication is exact dedup's job) —
    // while the CLEAN near-dup pair in its own small bucket survives.
    import spark.implicits._
    val boiler = (1L to 300L).map(i => (i, "the same boilerplate text repeated verbatim again and again"))
    val clean = Seq(
      (1001L, "quick brown fox jumps over the lazy dog today"),
      (1002L, "quick brown fox jumps over the lazy dog tonight"))
    val corpus = (boiler ++ clean).toDF("doc_id", "text")
    val capped = TextDedup.minhashPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5, bands = 8, maxBucketDocs = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1001L, 1002L)), "clean near-dup pair lost under the cap")
    assert(capped.size <= 1 + 64L * 64L,
      s"capped pair count ${capped.size} exceeds the cap² bound")
    val uncapped = TextDedup.minhashPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5, bands = 8, maxBucketDocs = 0)
      .count()
    assert(uncapped >= 300L * 299L / 2,
      s"uncapped run should pay the quadratic bucket, got $uncapped")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("ann occupancy derivation: bucket occupancy bounded at two corpus sizes; fixture params reproduced") {
    import graft.api.Similarity
    // formula pins: at (n=500, bucket 32, sim 0.5) the derivation gives
    // the r8 hand-tuned 32-plane/8-band shape; the REGISTERED queries
    // derive at the 0.4 edge threshold (more bands — the calibration
    // graft.tools.AnnRecall measured on contract at sf0.01 and sf0.1)
    assert(Similarity.planesPerBand(500, 32) == 4)
    assert(Similarity.bandsForRecall(4, 0.5, 0.8) == 8)
    // at 16× the corpus the derivation moves to finer buckets + more
    // bands (the banding-curve response) instead of fatter buckets
    assert(Similarity.planesPerBand(8000, 32) == 8)
    assert(Similarity.bandsForRecall(8, 0.5, 0.8) > 8)
    graft.functions.VectorExprs.register(spark)
    import spark.implicits._
    // deterministic pseudo-random unit-free embeddings: hash-derived
    // doubles in [-1, 1] — near-uniform hyperplane signs
    def corpus(n: Int) = spark.range(n.toLong).toDF("vec_id")
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(vec_id * 64 + d), 1000) AS DOUBLE) / 500.0 - 1.0)"))
    for (n <- Seq(1000, 8000)) {
      val w = Similarity.planesPerBand(n, 32)
      val bands = Similarity.bandsForRecall(w, 0.5, 0.8)
      val keys = corpus(n)
        .withColumn("ks", expr(s"graft_hyperplane_keys(embedding, ${w * bands}, $bands, 64)"))
        .select(col("vec_id").as("id"), explode(col("ks")).as("band"))
      // expected occupancy is n / 2^w ≤ targetBucket; the MEAN stays
      // within a small constant of it at BOTH sizes — the bound fixed
      // parameters lose as n grows past 2^w × bucket. (The raw MAX is
      // heavy-tailed even on near-uniform data — hyperplane sign bits
      // are correlated across planes — which is exactly why the hard
      // cap below exists.)
      val mean = keys.groupBy("band").count().agg(avg("count")).head().getDouble(0)
      assert(mean <= 2.0 * 32, s"n=$n mean occupancy $mean")
      // the annJoinAuto hard guard (cap = 8 × targetBucket), same
      // capped-set recipe as the operator: kept buckets are provably
      // untruncated, so the candidate fan-out bound is structural
      val cap = 8 * 32
      val cappedMax = keys.groupBy("band")
        .agg(graft.functions.CappedSetAgg.fn(cap + 1)(col("id")).as("ids"))
        .filter(size(col("ids")) <= cap)
        .select(size(col("ids")).as("sz"))
        .agg(max("sz")).head().getInt(0)
      assert(cappedMax <= cap, s"n=$n capped occupancy $cappedMax")
    }
    // the hard guard: with maxBucketVecs set, kept index buckets are
    // structurally ≤ cap even on ADVERSARIAL (all-identical) input
    val degenerate = spark.range(2000L).toDF("vec_id")
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(cast(d AS BIGINT)), 1000) AS DOUBLE) / 500.0 - 1.0)"))
    val out = Similarity.annJoin(degenerate, "vec_id", "embedding",
        k = 3, nPlanes = 32, bands = 8, dim = 64, maxBucketVecs = 64)
    // every bucket holds all 2000 identical vectors → all dropped → no
    // candidates at all (the documented trade: identical vectors are
    // exact dedup's job, not ANN's)
    assert(out.count() == 0L, "hot-bucket guard failed to drop the degenerate buckets")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("annJoinAuto clamp routing: derivation flags the regime; routed result ≡ ivfJoinAuto") {
    import graft.api.Similarity
    // the r11 sf1.0 operating point: 20k vectors at θ=0.4 demand 160
    // bands — past the 64-band budget LSH cannot meet the 0.8 recall
    // contract (predicted post-clamp recall collapses; MEASURED 0.346
    // at sf1.0 by graft.tools.AnnRecall before routing)
    val d = Similarity.deriveBanding(20000, 32, 0.4, 0.8)
    assert(d.w == 10 && d.clamped && d.demandedBands > 100,
      s"sf1.0 derivation should clamp: $d")
    assert(d.predictedRecall < 0.8,
      s"clamped analytic recall must sit below contract: $d")
    // both gate SFs stay comfortably unclamped — routing cannot change
    // any gate result
    assert(!Similarity.deriveBanding(500, 32, 0.4, 0.8).clamped)
    assert(!Similarity.deriveBanding(2000, 32, 0.4, 0.8).clamped)
    assert(!Similarity.deriveBanding(2000, 32, 0.5, 0.8).clamped)
    // routed parity: shrink the band budget so THIS corpus clamps —
    // annJoinAuto must then return exactly ivfJoinAuto's rows (the
    // q_ann_ivf parameterization the oracle replays)
    val em = graft.Tables.embeddings(spark, sfDir)
    val routed = Similarity.annJoinAuto(em, "vec_id", "embedding",
      k = 5, simThreshold = 0.4, maxBands = 1)
    val ivf = Similarity.ivfJoinAuto(em, "vec_id", "embedding", k = 5)
    assert(routed.exceptAll(ivf).isEmpty && ivf.exceptAll(routed).isEmpty,
      "clamped annJoinAuto must route to the ivfJoinAuto election")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("bitext mining: one argmax row per source above threshold; blocked pool agrees with exact") {
    val exact = graft.SparkEntry.queries("q_bitext_mine")(spark, sfDir).collect()
    val blocked = graft.SparkEntry.queries("q_bitext_mine_ann")(spark, sfDir).collect()
    assert(exact.nonEmpty && blocked.nonEmpty, "fixture should mine pairs")
    // one row per source (the argmax election), every margin on-threshold
    def check(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] = {
      val as = rows.map(_.getAs[Long]("a_id"))
      assert(as.distinct.length == as.length, "argmax must emit one row per source")
      assert(rows.forall(_.getAs[Double]("margin") >=
        graft.operators.BitextOracleSql.Threshold - 1e-4), // 4dp floor slack
        "mined margins must clear the threshold")
      rows.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    }
    val ex = check(exact)
    val bl = check(blocked)
    // blocking recall on the MINED pair set (measured 0.79-0.80 at the
    // gate SFs; the IVF-family contract class)
    val recall = ex.count(bl.contains).toDouble / ex.size
    assert(recall >= 0.7, s"blocked mining recall $recall below floor vs exact")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("kcenter coreset: seed at min id, far_sim non-decreasing, matches brute-force greedy") {
    val rows = graft.SparkEntry.queries("q_coreset_kcenter")(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 8)
    val picks = rows.map(_.getAs[Long]("vec_id"))
    assert(picks.distinct.length == 8, "greedy must never re-select")
    // the coverage curve: each later pick sits closer to the selected
    // set (k-center radius monotonicity, in similarity terms)
    val fars = rows.tail.map(_.getAs[Double]("far_sim"))
    assert(rows.head.isNullAt(rows.head.fieldIndex("far_sim")), "seed has no prior set")
    assert(fars.zip(fars.tail).forall { case (a, b) => a <= b },
      s"far_sim must be non-decreasing: ${fars.toSeq}")
    // full parity vs a brute-force greedy on the collected fixture
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var sel = Vector(emb.keys.min)
    for (_ <- 2 to 8) {
      val next = emb.keys.toSeq.filterNot(sel.contains)
        .map(i => (i, sel.map(s => cos4(emb(i), emb(s))).max))
        .sortBy { case (i, ms) => (ms, i) }.head._1
      sel :+= next
    }
    assert(picks.toSeq == sel, s"greedy parity: got ${picks.toSeq} want $sel")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("label noise: per-label bottom-3, flipped consistent, centroids decimal-exact") {
    val rows = graft.SparkEntry.queries("q_label_noise")(spark, sfDir).collect()
    val labels = rows.map(_.getAs[Long]("label")).distinct
    assert(labels.length == 10 && rows.length == 30, "10 labels × bottom-3")
    rows.groupBy(_.getAs[Long]("label")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L))
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("self_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a <= b },
        "self_sim must be non-decreasing in rank (these are the WORST members)")
    }
    assert(rows.forall { r =>
      r.getAs[Boolean]("flipped") ==
        (r.getAs[Double]("best_other_sim") > r.getAs[Double]("self_sim"))
    }, "flipped must be exactly the relabel comparison")
    assert(rows.forall(r =>
      r.getAs[Long]("best_other_label") != r.getAs[Long]("label")),
      "the suggested relabel must differ from the current label")
    // centroid discipline: recompute one label's centroid with the
    // VecSumDecAgg contract and check a reported member's self_sim
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Number]("label").longValue(),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val l0 = emb.filter(_._2 == 0L)
    val dim = l0.head._3.length
    val cent = (0 until dim).map { i =>
      val s = l0.map(v => graft.functions.VecSumDecAgg.scaled(v._3(i).toDouble)).sum
      graft.functions.VecSumDecAgg.mean6(s, l0.length.toLong)
    }
    val worst0 = rows.filter(r => r.getAs[Long]("label") == 0L &&
      r.getAs[Long]("rank") == 1L).head
    val e = emb.find(_._1 == worst0.getAs[Long]("vec_id")).get._3
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until dim) {
      d += e(i).toDouble * cent(i); na += e(i).toDouble * e(i).toDouble
      nb += cent(i) * cent(i)
    }
    val expect = BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(worst0.getAs[Double]("self_sim") == expect,
      s"self_sim must be the exact cosine to the decimal-exact centroid")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("mmr rerank: scores non-increasing, picks distinct, diversifies vs plain top-k") {
    val rows = graft.SparkEntry.queries("q_mmr_rerank")(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 8, "k=8 selections over the top-20 shortlist")
    val picks = rows.map(_.getAs[Long]("doc_id"))
    assert(picks.distinct.length == picks.length, "greedy must never re-select")
    // the greedy scores are provably non-increasing: the penalty term is
    // monotone in the growing selected set, so step t+1's max ≤ step t's
    val scores = rows.map(_.getAs[Double]("mmr_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"mmr scores must be non-increasing: ${scores.toSeq}")
    // rank 1 is the pure-relevance pick: the shortlist's top sim doc
    val top = graft.SparkEntry.queries("q_similarity_topk")(spark, sfDir)
      .collect().head
    assert(rows.head.getAs[Long]("doc_id") == top.getAs[Long]("vec_id"),
      "step 1 must pick the most relevant doc")
    // diversity: the MMR set's mean pairwise cosine must not exceed the
    // plain top-8's (that trade is the operator's whole purpose)
    val emb = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def meanPair(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield cosine(emb(ids(i)), emb(ids(j)))
      ps.sum / ps.size
    }
    val plainTop8 = graft.api.Similarity.cosineTopK(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", 0L, 8)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(meanPair(picks.toSeq) <= meanPair(plainTop8) + 1e-9,
      s"MMR must not be less diverse than plain top-8: " +
        s"${meanPair(picks.toSeq)} vs ${meanPair(plainTop8)}")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("matryoshka eval: full grid, bounded overlap, wider prefix not worse on average") {
    val rows = graft.SparkEntry.queries("q_matryoshka_eval")(spark, sfDir).collect()
    assert(rows.length == 20, "10 probes × 2 dims — a zero-overlap row must not vanish")
    assert(rows.forall { r =>
      val o = r.getAs[Long]("n_overlap"); o >= 0 && o <= 10 &&
        r.getAs[Double]("recall") == o / 10.0
    }, "overlap must be in [0, 10] and recall = overlap/k")
    def mean(d: Long) = {
      val v = rows.filter(_.getAs[Long]("dim") == d).map(_.getAs[Double]("recall"))
      v.sum / v.length
    }
    // nested prefixes: the 32-dim re-rank sees strictly more of the
    // vector than the 16-dim one — on this fixture its mean recall is
    // 2× (0.36 vs 0.18); assert the direction, not the exact values
    assert(mean(32) >= mean(16),
      s"wider prefix should not be worse on average: ${mean(32)} vs ${mean(16)}")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("rrf fusion: ranks contiguous per query; rrf recomputes from the emitted ranks") {
    val rows = graft.SparkEntry.queries("q_rrf_fusion")(spark, sfDir).collect()
    assert(rows.nonEmpty, "fusion must return rows")
    val qids = rows.map(_.getAs[String]("qid")).distinct.sorted
    assert(qids.toSeq == Seq("spark_join", "stream_data", "window_agg"))
    rows.groupBy(_.getAs[String]("qid")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq, "fused ranks must be contiguous from 1")
      // rrf non-increasing in rank
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("rrf"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // the emitted rrf is exactly 1/(60+lex)+1/(60+dense) from the
    // emitted source ranks (floor-cut at 1e-6) — the fusion is a pure
    // function of the two rank lists
    rows.foreach { r =>
      val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
      val den = Option(r.getAs[java.lang.Long]("dense_rank")).map(_.toLong)
      assert(lex.isDefined || den.isDefined, "a fused doc must come from some ranker")
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        den.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == math.floor(expect * 1e6) / 1e6,
        s"rrf must recompute from ranks: got ${r.getAs[Double]("rrf")} want $expect")
    }
    // a doc ranked by BOTH sides beats the same ranks singly: the
    // top fused doc must carry at least one source rank ≤ 10
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("hard negatives: label-mismatch window holds; sims exact; recall vs brute force") {
    import graft.api.Similarity
    val rows = graft.SparkEntry.queries("q_hard_negatives")(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture should mine hard negatives")
    // structural contract: label ≠ neg_label, 0.4 ≤ sim < 0.95, rank
    // contiguous from 1 per anchor, ordered by (sim desc, neg_id)
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq,
        "ranks must be contiguous from 1")
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "per-anchor sims must be non-increasing in rank")
    }
    assert(rows.forall(r => r.getAs[Long]("label") != r.getAs[Long]("neg_label")),
      "a hard negative must carry a different label")
    assert(rows.forall { r =>
      val s = r.getAs[Double]("sim"); s >= 0.4 && s < 0.95
    }, "sims must sit inside the hardness window")
    // brute-force ground truth on the collected fixture (test-side only):
    // per anchor, the top-3 different-label sims in [0.4, 0.95) — emitted
    // sims must be EXACT cosines (4dp) and candidate recall ≥ 0.7 (the
    // ANN family contract; LSH regime at the gate SFs)
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Number]("label").longValue()))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    // emitted sims are exact 4dp cosines of the cited pair
    rows.foreach { r =>
      val a = byId(r.getAs[Long]("vec_id")); val b = byId(r.getAs[Long]("neg_id"))
      val expect = math.rint(cosine(a._2, b._2) * 10000) / 10000
      assert(math.abs(r.getAs[Double]("sim") - expect) < 5e-5,
        s"emitted sim must be the exact cosine: got ${r.getAs[Double]("sim")} want $expect")
    }
    val truth = vecs.flatMap { case (ia, ea, la) =>
      vecs.iterator.filter(v => v._1 != ia && v._3 != la)
        .map { case (ib, eb, _) => (ib, math.rint(cosine(ea, eb) * 10000) / 10000) }
        .filter { case (_, s) => s >= 0.4 && s < 0.95 }
        .toSeq.sortBy { case (ib, s) => (-s, ib) }.take(3)
        .map { case (ib, _) => (ia, ib) }
    }.toSet
    assert(truth.nonEmpty, "fixture must contain true hard negatives")
    val got = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neg_id"))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.7, s"hard-negative recall $recall below floor (${truth.size} true)")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("annPairsAuto clamp routing: routed result ≡ ivfPairsAuto; pairs exact-verified") {
    import graft.api.Similarity
    val em = graft.Tables.embeddings(spark, sfDir)
    // shrink the band budget so THIS corpus clamps — annPairsAuto must
    // then return exactly ivfPairsAuto's pair set (the parameterization
    // IvfOracleSql.ivfPairsChain replays: targetCell=128, one Lloyd
    // round, symmetric top-3 probing)
    val routed = Similarity.annPairsAuto(em, "vec_id", "embedding",
      threshold = 0.4, maxBands = 1)
    val ivf = Similarity.ivfPairsAuto(em, "vec_id", "embedding", threshold = 0.4)
    assert(routed.exceptAll(ivf).isEmpty && ivf.exceptAll(routed).isEmpty,
      "clamped annPairsAuto must route to the ivfPairsAuto election")
    // precision 1.0: every routed pair is exact-cosine ≥ θ and id_a < id_b
    val exact = graft.SparkEntry.queries("q_embed_neardup")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val got = routed.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(got.forall { case (a, b) => a < b }, "pairs must be ordered id_a < id_b")
    assert(got.forall(exact.contains),
      "IVF-routed pairs must be a subset of the exact >= theta pair set")
    assert(got.nonEmpty, "fixture should produce routed pairs")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("q_dedup_incremental persists and reuses the standing-corpus band index") {
    // first run builds the bucketed index on disk; the cache key is a
    // corpus content fingerprint, so this asserts the persisted loop is
    // actually exercised (the r8 flag: the registered query silently
    // re-signed the standing corpus inline every run)
    graft.SparkEntry.queries("q_dedup_incremental")(spark, sfDir).count()
    val cacheRoot = new java.io.File("/tmp/graft_index_cache")
    val dirs = Option(cacheRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("minhash_"))
    assert(dirs.nonEmpty, "no persisted band index written")
    // bucketed layout: part files carry the bucket suffix Spark uses to
    // re-attach the spec on re-registration
    assert(dirs.exists(_.listFiles().exists(_.getName.contains("_00000.c000"))
      || dirs.exists(_.listFiles().exists(_.getName.startsWith("part-")))),
      "no parquet part files in the persisted index")
    // the catalog now carries the bucketed table → a second run reads,
    // never rebuilds (same session: catalog hit; new session: DDL
    // re-attach — both covered by the query's own code path)
    assert(spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_mh_idx_")), "index table not registered")
    graft.Hygiene.dropLeakedBlocks(spark)
  }

  test("Pca.jacobiEig diagonalizes a known symmetric matrix exactly") {
    // [[2,1],[1,2]] has eigenvalues 3 (along [1,1]/√2) and 1 (along [1,-1]/√2)
    val (evals, evecs) = graft.api.Pca.jacobiEig(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val pairs = evals.indices.sortBy(i => -evals(i))
      .map(i => (evals(i), Array(evecs(0)(i), evecs(1)(i))))
    assert(math.abs(pairs(0)._1 - 3.0) < 1e-12)
    assert(math.abs(pairs(1)._1 - 1.0) < 1e-12)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(math.abs(pairs(0)._2(0) * s + pairs(0)._2(1) * s) - 1.0) < 1e-12)
    assert(math.abs(math.abs(pairs(1)._2(0) * s - pairs(1)._2(1) * s) - 1.0) < 1e-12)
  }

  test("Pca.fit recovers planted axes; components orthonormal; projection is centered") {
    import spark.implicits._
    // planted 4-dim data: variance 9 along e0, 1 along e1, 0 elsewhere
    val rows = (0 until 200).map { i =>
      val a = 3.0 * math.sin(i * 1.7)
      val b = 1.0 * math.cos(i * 2.3)
      (i.toLong, Seq(a.toFloat, b.toFloat, 0.0f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = graft.api.Pca.fit(df, "embedding", dim = 4, k = 2)
    // top component is ±e0, second ±e1 (sign pinned positive at pivot)
    assert(math.abs(m.components(0)(0)) > 0.999 && m.components(0)(0) > 0)
    assert(math.abs(m.components(1)(1)) > 0.999 && m.components(1)(1) > 0)
    assert(m.eigenvalues(0) > m.eigenvalues(1) && m.eigenvalues(1) > 0)
    // orthonormal
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1.0) < 1e-9)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-9)
    // trace accounts for all planted variance
    assert(math.abs(m.totalVariance - (m.eigenvalues(0) + m.eigenvalues(1))) < 1e-6)
    // projections: mean ≈ 0 (centered), variance along pc_1 ≈ λ₁
    val proj = graft.api.Pca.project(df, "vec_id", "embedding", m)
      .as[(Long, Double, Double)].collect()
    val p1 = proj.map(_._2)
    val mean1 = p1.sum / p1.length
    assert(math.abs(mean1) < 1e-3, s"pc_1 not centered: $mean1")
    val v1 = p1.map(x => (x - mean1) * (x - mean1)).sum / p1.length
    assert(math.abs(v1 - m.eigenvalues(0)) < 1e-2, s"var(pc_1)=$v1 vs λ=${m.eigenvalues(0)}")
  }

  test("Pca.fitPower: planted axes recovered; agrees with the Jacobi fit") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val a = 3.0 * math.sin(i * 1.7)
      val b = 1.0 * math.cos(i * 2.3)
      (i.toLong, Seq(a.toFloat, b.toFloat, 0.0f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pw = graft.api.Pca.fitPower(df, "embedding", dim = 4, k = 2, iters = 300)
    assert(math.abs(pw.components(0)(0)) > 0.999 && pw.components(0)(0) > 0)
    assert(math.abs(pw.components(1)(1)) > 0.999 && pw.components(1)(1) > 0)
    // eigen-fidelity vs the Jacobi baseline: same spectrum within the
    // power-iteration budget's tolerance on a well-separated spectrum
    val jb = graft.api.Pca.fit(df, "embedding", dim = 4, k = 2)
    pw.eigenvalues.zip(jb.eigenvalues).foreach { case (p, j) =>
      assert(math.abs(p - j) <= 1e-9 * math.max(1.0, math.abs(j)),
        s"power $p vs jacobi $j")
    }
    // the fixture corpus: eigenvalues track Jacobi's closely even on a
    // near-isotropic spectrum (close eigenvalues may swap/mix
    // eigenVECTORS — the documented power-iteration trade — but the
    // VALUES must agree), and the components stay orthonormal
    val emb = graft.Tables.embeddings(spark, sfDir)
    val fp = graft.api.Pca.fitPower(emb, "embedding", dim = 64, k = 4, iters = 300)
    val fj = graft.api.Pca.fit(emb, "embedding", dim = 64, k = 4)
    fp.eigenvalues.zip(fj.eigenvalues).foreach { case (p, j) =>
      assert(math.abs(p - j) / math.abs(j) < 0.05, s"fixture: power $p vs jacobi $j")
    }
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (a, b) => a * b }.sum
    // orthonormality to the fixed-budget tolerance: on this
    // near-isotropic spectrum adjacent close eigenvectors keep ~1e-5
    // residual overlap after 300 iterations (the documented trade);
    // unit norms are exact to machine precision
    for (i <- 0 until 4; j <- 0 until 4)
      assert(math.abs(dot(fp.components(i), fp.components(j))
        - (if (i == j) 1.0 else 0.0)) < 1e-3,
        s"fitPower components not orthonormal at ($i,$j)")
  }

  test("Graph.labelPropagation: triangle absorbs its pendant, bridge survives, isolated keeps own") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4—3; disjoint edge {10,11}; isolated 20
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val out = graft.api.Graph.labelPropagation(pairs, "id_a", "id_b", ids,
        "doc_id", rounds = 3)
      .as[(Long, Long)].collect().toMap
    // hand-run 3 synchronous rounds (min-label tiebreak):
    // r1: 1→min(2,3)=2? counts{2:1,3:1}→tie→2; 2→{1,3}→1; 3→{1,2,4}→1; 4→{3}=3; 10→11; 11→10
    // r2: 1→{1(from2),1(from3)}? neighbors 2,3 have labels 1,1 →1; 2→{2,1}→tie counts{2:1,1:1}→1;
    //     3→{2,1,3}→tie all 1 → min=1; 4→{1}=1; 10→10? neighbor 11 has 10 →10; 11→11? neighbor 10 has 11 →11
    // r3: 1→neighbors{2,3} labels{1,1}→1; 2→{1,1}→1; 3→{1,1,1}→1; 4→{1}; 10↔ swap again →11; 11→10
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L && out(4L) == 1L,
      s"triangle+pendant should converge to community 1: $out")
    assert(Set(out(10L), out(11L)) == Set(10L, 11L),
      "2-cycle oscillates synchronously but stays within {10,11}")
    assert(out(20L) == 20L, "isolated node keeps its own label")
  }

  test("Privacy.tCloseness matches the hand variational distance; dpCounts replays its md5 mechanism") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 6 rows, global source mix: s1 3/6, s2 2/6, s3 1/6
    val rows = Seq(
      ("en", "s1"), ("en", "s1"), ("en", "s2"),
      ("fr", "s1"), ("fr", "s2"), ("fr", "s3")).toDF("lang", "source")
    val t = graft.api.Privacy.tCloseness(rows, Seq("lang"), "source", t = 0.2)
      .as[(String, Long, Double, Long)].collect().sortBy(_._1).toSeq
    // en: p=(2/3,1/3,0) q=(1/2,1/3,1/6) → ½(1/6+0+1/6)=1/6≈0.1667
    // fr: p=(1/3,1/3,1/3) → ½(1/6+0+1/6)=1/6
    assert(t == Seq(("en", 3L, 0.1667, 0L), ("fr", 3L, 0.1667, 0L)), t.toString)
    // dpCounts: replay the mechanism in plain JVM and compare exactly
    val ev = Seq("a", "a", "a", "b").toDF("k")
    val got = graft.api.Privacy.dpCounts(ev, Seq("k"), epsilon = 1.0, seed = "s")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    def expected(key: String, n: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$key:s".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val v = (0 until 8).map(i =>
        java.lang.Long.parseLong(hex.substring(i, i + 1), 16) * math.pow(16, i).toLong).sum
      val u = (v + 0.5) / 4294967296.0
      val d = u - 0.5
      val noise = (if (d < 0) 1.0 else -1.0) * math.log(1.0 - 2.0 * math.abs(d))
      math.floor((n + noise) * 10000) / 10000
    }
    assert(got == Seq(("a", 3L, expected("a", 3)), ("b", 1L, expected("b", 1))), got.toString)
  }

  test("TimeSeries.cusum finds a planted level shift at the exact row") {
    import spark.implicits._
    // key A: level shift after row 3 → max |S| = 15 at i = 3;
    // key B: constant series → S ≡ 0, argmax ties to i = 1, stat 0
    val rows =
      (1 to 6).map(i => ("A", i * 1000L, i.toLong,
        if (i <= 3) 0.0 else 10.0)) ++
      (1 to 4).map(i => ("B", i * 1000L, i.toLong, 7.0))
    val df = rows.toDF("k", "ts_ms", "id", "v")
    val out = graft.api.TimeSeries.cusum(df, "k", "ts_ms", "id", "v")
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("A", 6L, 3L, 3000L, 15.0), ("B", 4L, 1L, 1000L, 0.0)),
      out.toString)
  }

  test("Graph.bfsHops labels minimal hop distance; unreached nodes absent; seed-adjacent seeds stay 0") {
    import spark.implicits._
    // path 1-2-3-4, disjoint edge 5-6, seed-seed edge 1-5, island 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (1L, 5L), (7L, 8L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L, 5L).toDF("doc_id")
    val out = graft.api.Graph.bfsHops(pairs, "id_a", "id_b", seeds, "doc_id",
        maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 6L -> 1L, 3L -> 2L,
      4L -> 3L), s"hop map wrong: $out")
    // hop budget respected: nothing beyond maxHops, island untouched
    assert(!out.contains(7L) && !out.contains(8L))
  }

  test("Associations.rules matches the hand-computed support/confidence/lift table") {
    import spark.implicits._
    val ev = Seq((1L, "A"), (1L, "B"), (1L, "B"), // dup row must not double-count
      (2L, "A"), (2L, "B"), (3L, "A"), (3L, "C")).toDF("u", "item")
    val out = graft.api.Associations.rules(ev, "u", "item")
      .select("item_a", "item_b", "n_ab", "n_a", "n_b", "n_baskets",
        "support", "confidence", "lift")
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      ("A", "B", 2L, 3L, 2L, 3L, 0.6666, 0.6666, 1.0),
      ("A", "C", 1L, 3L, 1L, 3L, 0.3333, 0.3333, 1.0),
      ("B", "A", 2L, 2L, 3L, 3L, 0.6666, 1.0, 1.0),
      ("C", "A", 1L, 1L, 3L, 3L, 0.3333, 1.0, 1.0)), out.toString)
  }

  test("Classifier.naiveBayesConfusion is diagonal on a token-separable corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa aa", "en"), (2L, "aa bb", "en"),
      (3L, "cc cc", "fr"), (4L, "cc dd", "fr")).toDF("doc_id", "text", "lang")
    val out = graft.api.Classifier.naiveBayesConfusion(docs, "doc_id", "text", "lang")
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(("en", "en", 2L), ("fr", "fr", 2L)), out.toString)
  }

  test("TextAnalysis.heapsFit recovers a planted V = N^0.5 power law") {
    import spark.implicits._
    // docs with (N, V) = (4,2), (16,4), (64,8): ln V = 0.5·ln N exactly
    def doc(distinct: Int, reps: Int): String =
      (0 until distinct).flatMap(d => Seq.fill(reps)(s"t$d")).mkString(" ")
    val docs = Seq((1L, doc(2, 2)), (2L, doc(4, 4)), (3L, doc(8, 8)))
      .toDF("doc_id", "text")
    val out = graft.api.TextAnalysis.heapsFit(docs, "doc_id", "text")
      .as[(Long, Double, Double, Double)].collect().head
    assert(out._1 == 3L)
    assert(math.abs(out._2 - 0.5) <= 0.001, s"beta ${out._2} != ~0.5")
    assert(out._4 >= 0.9999, s"r2 ${out._4} not ~1 on an exact power law")
  }

  test("Similarity.knnLooConfusion is diagonal on two tight clusters; vote ties break low-label") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.95f, 0.05f), 0),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(0.1f, 0.9f), 1),
      (6L, Array(0.05f, 0.95f), 1)).toDF("vec_id", "embedding", "label")
    val out = graft.api.Similarity.knnLooConfusion(vecs, "vec_id", "embedding",
        "label", k = 2)
      .as[(Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq((0, 0, 3L), (1, 1, 3L)), out.toString)
  }

  test("TimeSeries.kaplanMeier matches the hand product-limit curve; terminal death hits 0") {
    import spark.implicits._
    // S: t1 d1/n5 → .8; t2 censor only → .8; t3 d2/n3 → .8/3; t5 censor
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (5L, 0))
      .toDF("duration", "event")
    // buckets = 3 exercises the cross-bucket offset broadcasts
    val out = graft.api.TimeSeries.kaplanMeier(subj, "duration", "event",
        buckets = 3)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 5L, 1L, 0L, 0.8), (2L, 4L, 0L, 1L, 0.8),
      (3L, 3L, 2L, 0L, 0.2666), (5L, 1L, 0L, 1L, 0.2666)), out.toString)
    val all = Seq((1L, 1), (2L, 1)).toDF("duration", "event")
    val t = graft.api.TimeSeries.kaplanMeier(all, "duration", "event",
        buckets = 2)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // S(1) reads 0.4999, not 0.5: round(ln(0.5)·1e10) rounds the log's
    // magnitude UP, exp undershoots 0.5 by ~2e-11, and the final floor
    // truncates the boundary value — deterministic and engine-exact
    // (the ±1e-11 quantization jitter keeps the floor ~5 decades away
    // from libm-ulp territory; only grid-exact true values shift)
    assert(t == Seq((1L, 2L, 1L, 0L, 0.4999), (2L, 1L, 1L, 0L, 0.0)),
      s"everyone-dies tail must reach S = 0: $t")
  }

  test("knnAnnConfusion tracks the exact LOO confusion: coverage and accuracy within contract") {
    import spark.implicits._
    def acc(rows: Seq[(Long, Long, Long)]): (Long, Double) = {
      val total = rows.map(_._3).sum
      (total, rows.filter(r => r._1 == r._2).map(_._3).sum.toDouble / total)
    }
    val emb = Tables.embeddings(spark, sfDir)
    val exact = graft.api.Similarity.knnLooConfusion(emb, "vec_id", "embedding",
        "label", k = 5)
      .select(col("label").cast("long"), col("predicted").cast("long"), col("n_vecs"))
      .as[(Long, Long, Long)].collect().toSeq
    val ann = graft.api.Similarity.knnAnnConfusion(emb, "vec_id", "embedding",
        "label", k = 5)
      .select(col("label").cast("long"), col("predicted").cast("long"), col("n_vecs"))
      .as[(Long, Long, Long)].collect().toSeq
    val (nExact, accExact) = acc(exact)
    val (nAnn, accAnn) = acc(ann)
    // coverage: probes drop out only when EVERY band bucket missed
    assert(nAnn >= (0.9 * nExact).toLong, s"ANN covered $nAnn of $nExact probes")
    // accuracy parity: found-neighbor voting tracks the exact vote
    assert(accAnn >= accExact - 0.1,
      s"ANN accuracy $accAnn vs exact $accExact — more than 0.1 below")
  }

  test("Graph.modularity: two clean triangles score 0.5; one global community scores 0") {
    import spark.implicits._
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("id_a", "id_b")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("id", "community")
    val q = graft.api.Graph.modularity(twoTri, "id_a", "id_b", comm, "id", "community")
      .as[(Long, Long, Double)].collect().head
    // per triangle: e=3, d=6, m=6 → 2·(3/6 − (6/12)²) = 0.5 exactly
    assert(q == ((2L, 6L, 0.5)), q.toString)
    val one = comm.select(col("id"), lit(9L).as("community"))
    val q1 = graft.api.Graph.modularity(twoTri, "id_a", "id_b", one, "id", "community")
      .as[(Long, Long, Double)].collect().head
    assert(q1 == ((1L, 6L, 0.0)), s"everything-in-one must score 0: $q1")
  }

  test("Classifier.logisticAuc: separable data scores AUC 1.0; constant feature scores 0.5") {
    import spark.implicits._
    val sep = (Seq.tabulate(5)(i => (1.0, 2.0 + i * 0.25)) ++
      Seq.tabulate(5)(i => (0.0, 0.0 + i * 0.25))).toDF("yy", "xx")
    val a = graft.api.Classifier.logisticAuc(sep, col("yy"), Seq(col("xx")))
      .as[(Long, Long, Double)].collect().head
    // one GD step from zero weights already signs the feature correctly,
    // and AUC only reads the ordering — separable data must hit 1.0
    assert(a == ((5L, 5L, 1.0)), a.toString)
    val const = (Seq.fill(4)((1.0, 3.0)) ++ Seq.fill(4)((0.0, 3.0))).toDF("yy", "xx")
    val c = graft.api.Classifier.logisticAuc(const, col("yy"), Seq(col("xx")))
      .as[(Long, Long, Double)].collect().head
    // every score ties → U = n1·n0/2 → AUC exactly 0.5
    assert(c == ((4L, 4L, 0.5)), c.toString)
  }

  test("Experiment.bootstrapMeanCi: constant corpus pins CI exactly; bounds ordered on real spread") {
    import spark.implicits._
    // constant values: every weighted replicate mean is exactly 5.0,
    // so the interpolated percentiles are exact regardless of weights
    val const = (1L to 50L).map(i => (i, 5.0)).toDF("id", "v")
    val c = graft.api.Experiment.bootstrapMeanCi(const, "id", "v", b = 8)
      .as[(Long, Double, Double, Double)].collect().head
    assert(c == ((8L, 5.0, 5.0, 5.0)), c.toString)
    val spread = (1L to 200L).map(i => (i, (i % 13).toDouble)).toDF("id", "v")
    val s = graft.api.Experiment.bootstrapMeanCi(spread, "id", "v", b = 20)
      .as[(Long, Double, Double, Double)].collect().head
    assert(s._1 == 20L && s._2 <= s._3 && s._3 <= s._4, s.toString)
    // the resample actually varies (weights aren't degenerate)
    assert(s._2 < s._4, s"CI must have positive width on a spread sample: $s")
  }

  test("Experiment.twoProportionZ matches a hand-computed z; empty arm guards to 0") {
    import spark.implicits._
    // units 0..3 even→arm0 (conv: u0 yes, u2 no), odd→arm1 (u1,u3 yes)
    val ev = Seq((0L, "purchase"), (0L, "click"), (2L, "click"),
      (1L, "purchase"), (3L, "purchase")).toDF("user_id", "event_type")
    val out = graft.api.Experiment.twoProportionZ(ev, "user_id",
        col("user_id") % 2, col("event_type") === "purchase")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().head
    // p_a=1/2, p_b=1, pooled=3/4, se=sqrt(.75*.25*(1/2+1/2))=sqrt(.1875)
    val z = math.floor(0.5 / math.sqrt(0.1875) * 10000) / 10000
    assert(out == ((2L, 1L, 2L, 2L, 0.5, 1.0, 0.5, z)), out.toString)
    val oneArm = Seq((0L, "purchase"), (2L, "click")).toDF("user_id", "event_type")
    val g = graft.api.Experiment.twoProportionZ(oneArm, "user_id",
        col("user_id") % 2, col("event_type") === "purchase")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().head
    assert(g._8 == 0.0, s"empty arm must guard z to 0: $g")
  }

  test("Profiler.mutualInfo: perfect dependence scores ln2/NMI≈1, independence scores 0") {
    import spark.implicits._
    val dep = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"))
      .toDF("x", "y")
    val d = graft.api.Profiler.mutualInfo(dep, "x", "y")
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(d == ((4L, 0.6931, 0.6931, 0.6931, 0.9999)), d.toString)
    val ind = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"))
      .toDF("x", "y")
    val i = graft.api.Profiler.mutualInfo(ind, "x", "y")
      .as[(Long, Double, Double, Double, Double)].collect().head
    assert(i._2 == 0.0 && i._5 == 0.0, i.toString)
  }
}
