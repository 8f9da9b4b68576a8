package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** Planted near-identical vectors: brute-force must rank the twin first and
  * the LSH near-dup pass must recover the pair.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  // deterministic pseudo-vectors; vec 1 = slightly perturbed vec 0
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(64)(i => (((seed * 31 + i * 17) % 97) - 48) / 48.0f)

  private def emb = {
    import spark.implicits._
    val twin = vec(0).zipWithIndex.map { case (v, i) => if (i == 3) v + 0.01f else v }
    (Seq((0L, vec(0)), (1L, twin)) ++ (2L to 40L).map(s => (s, vec(s.toInt * 7 + 2))))
      .toDF("vec_id", "embedding")
  }

  test("SemDeDup census: planted twin dropped (min id survives), census sums to corpus") {
    val census = Similarity.semDedupCensus(spark, emb, centroids = 4, iters = 2, tau = 0.99)
      .collect()
    // the twin pair (0,1) has cosine ~1 and the quantizer MUST co-locate
    // them (nearest-cell by cosine: near-identical vectors share a cell),
    // so exactly the higher id is dropped; the random remainder is below
    // tau=0.99 everywhere
    assert(census.map(_.getAs[Long]("n_vecs")).sum == 41L)
    assert(census.map(_.getAs[Long]("n_dropped")).sum == 1L)
    assert(census.map(r => r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped"))
      .sum == 41L)
  }

  test("SemDeDup prunes within cells only: cross-cell twins both survive") {
    import spark.implicits._
    // two tight antipodal groups: k-means (init = first 2 vectors, one per
    // group) puts the groups in different cells; each group holds an
    // identical pair. Within-cell pruning drops one of each pair — and the
    // cross-cell cosine is strongly negative, proving no cross-cell pair
    // can have contributed.
    val up = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.1f)
    val down = up.map(x => -x)
    val near = (v: Array[Float]) => v.zipWithIndex.map { case (x, i) =>
      if (i == 5) x + 0.001f else x }
    val df = Seq((0L, up), (1L, down), (2L, near(up)), (3L, near(down)))
      .toDF("vec_id", "embedding")
    val census = Similarity.semDedupCensus(spark, df, centroids = 2, iters = 1, tau = 0.9)
      .collect().sortBy(_.getAs[Long]("cell"))
    assert(census.length == 2)
    assert(census.forall(r => r.getAs[Long]("n_vecs") == 2L &&
      r.getAs[Long]("n_dropped") == 1L && r.getAs[Long]("n_kept") == 1L))
  }

  test("persisted IVF index: add is idempotent on replay; search finds the cross-batch twin") {
    import org.apache.spark.sql.functions.col
    val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val asgT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    val all = emb
    graft.ops.Similarity.ivfIndexBuild(spark, all.filter(col("vec_id") % 2 === 0),
      centT, asgT, centroids = 8, iters = 2)
    graft.ops.Similarity.ivfIndexAdd(spark, all.filter(col("vec_id") % 2 === 1),
      centT, asgT)
    def snapshot() = asgT.read(spark, graft.ops.Similarity.assignSchema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val first = snapshot()
    assert(first.size == 41)
    // replaying the same incremental batch converges to the same content
    // (same ids -> same cells against the frozen centroids)
    graft.ops.Similarity.ivfIndexAdd(spark, all.filter(col("vec_id") % 2 === 1),
      centT, asgT)
    assert(snapshot() == first)
    // vec 0 trained in the build batch, its twin (vec 1) arrived in the
    // incremental batch: near-identical vectors land in the same cell, so
    // the served search must rank the twin first
    val res = graft.ops.Similarity.ivfIndexSearch(spark, all, centT, asgT,
      numQueries = 1, k = 3, nprobe = 2).collect()
    assert(res.head.getAs[Long]("neighbor_id") == 1L)
    assert(res.head.getAs[Double]("cosine") > 0.999)
  }

  test("persisted PQ index: codes replay-idempotent; ADC search from codes ranks the twin first") {
    import org.apache.spark.sql.functions.col
    val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    val all = emb
    Similarity.pqIndexBuild(spark, all.filter(col("vec_id") % 2 === 0),
      cbT, codeT, cbIdBound = 32)
    Similarity.pqIndexAdd(spark, all.filter(col("vec_id") % 2 === 1), cbT, codeT)
    def snapshot() = codeT.read(spark, Similarity.pqCodeSchema)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toMap
    val first = snapshot()
    assert(first.size == 41)
    assert(first.values.forall(_.length == 8), "one code per subspace")
    // replay: same vectors against the frozen codebook -> same codes
    Similarity.pqIndexAdd(spark, all.filter(col("vec_id") % 2 === 1), cbT, codeT)
    assert(snapshot() == first)
    // vec 0 built, twin (vec 1) added incrementally: near-identical
    // vectors share codes, so ADC from the code table ranks the twin first
    val res = Similarity.pqIndexSearch(spark, all, cbT, codeT,
      numQueries = 1, k = 3).collect().sortBy(_.getAs[Int]("rank"))
    assert(res.head.getAs[Long]("neighbor_id") == 1L)
    assert(res.head.getAs[Int]("exact_hit") == 1)
  }

  test("persisted kNN-graph index: touched-cell refresh links the cross-batch twin; add replay is idempotent") {
    import org.apache.spark.sql.functions.col
    val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    val adjT = graft.stages.MergeTable.scratch(Seq("src"))
    val metaT = graft.stages.MergeTable.scratch(Seq("key"))
    val all = emb
    Similarity.graphIndexBuild(spark, all.filter(col("vec_id") % 2 === 0),
      centT, nodeT, adjT, metaT, centroidIdBound = 8, degree = 4)
    Similarity.graphIndexAdd(spark, all.filter(col("vec_id") % 2 === 1),
      centT, nodeT, adjT, metaT)
    def adjSnapshot() = adjT.read(spark, Similarity.graphAdjSchema)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    val first = adjSnapshot()
    // vec 0 was built, its twin (vec 1) arrived incrementally: the twin's
    // cell is vec 0's cell, so the TOUCHED-CELL refresh must rewrite vec
    // 0's neighborhood to include it — the displacement case a
    // nodes-only upsert would miss
    assert(first(0L).contains(1L),
      s"node 0's refreshed adjacency must contain the incremental twin, got ${first.get(0L)}")
    // replaying the same batch converges: same assignments, same
    // touched cells, same per-src windows (degree now rides the
    // persisted metadata — the add can no longer be handed a wrong one)
    Similarity.graphIndexAdd(spark, all.filter(col("vec_id") % 2 === 1),
      centT, nodeT, adjT, metaT)
    assert(adjSnapshot() == first)
    val res = Similarity.graphIndexSearch(spark, all, centT, nodeT, adjT, metaT,
      numQueries = 1, k = 3, beam = 4, rounds = 3)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(res.head.getAs[Long]("neighbor_id") == 1L)
    assert(res.head.getAs[Double]("cosine") > 0.999)
    assert(res.head.getAs[Int]("exact_hit") == 1)
  }

  test("graph-index maintenance: no-op under threshold, re-quantize == fresh build when cells overfill") {
    import org.apache.spark.sql.functions.col
    def tables() = (graft.stages.MergeTable.scratch(Seq("c_id")),
      graft.stages.MergeTable.scratch(Seq("vec_id")),
      graft.stages.MergeTable.scratch(Seq("src")),
      graft.stages.MergeTable.scratch(Seq("key")))
    val all = emb
    val n = all.count()
    val bound = math.ceil(math.sqrt(n.toDouble)).toInt
    // (1) a balanced fresh build is left untouched
    val (c1, n1, a1, m1) = tables()
    Similarity.graphIndexBuild(spark, all, c1, n1, a1, m1,
      centroidIdBound = bound, degree = 4)
    val v0 = (c1.currentVersion, n1.currentVersion, a1.currentVersion)
    assert(!Similarity.graphIndexMaintain(spark, c1, n1, a1, m1),
      "balanced index must not be rebuilt")
    assert((c1.currentVersion, n1.currentVersion, a1.currentVersion) == v0,
      "no-op maintenance must not commit new versions")
    // (2) an under-provisioned build (2 cells) overfills after adds ->
    // maintenance rebuilds, and every table equals the fresh build's
    val (c2, n2, a2, m2) = tables()
    Similarity.graphIndexBuild(spark, all.filter(col("vec_id") < 8),
      c2, n2, a2, m2, centroidIdBound = 2, degree = 4)
    Similarity.graphIndexAdd(spark, all.filter(col("vec_id") >= 8),
      c2, n2, a2, m2)
    assert(Similarity.graphIndexMaintain(spark, c2, n2, a2, m2),
      "overfull index must be rebuilt")
    def snap(t: graft.stages.MergeTable,
             schema: org.apache.spark.sql.types.StructType, keys: Seq[String]) =
      t.read(spark, schema).collect()
        .map(r => keys.map(k => r.getAs[Any](k)).mkString("|") -> r.toString).toMap
    assert(snap(n2, Similarity.assignSchema, Seq("vec_id"))
      == snap(n1, Similarity.assignSchema, Seq("vec_id")),
      "maintained node table must equal the fresh build's")
    assert(snap(a2, Similarity.graphAdjSchema, Seq("src"))
      == snap(a1, Similarity.graphAdjSchema, Seq("src")),
      "maintained adjacency must equal the fresh build's")
    // maintenance is idempotent: the rebuilt index is balanced now
    assert(!Similarity.graphIndexMaintain(spark, c2, n2, a2, m2))
  }

  test("brute-force top-k ranks the planted twin first with cosine ~1") {
    val top = Similarity.bruteForceTopK(emb, numQueries = 1, k = 3).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Double]("cosine") > 0.999)
    assert(top.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("banded LSH near-dup pass recovers the planted pair exactly") {
    val pairs = Similarity.embeddingNearDupPairs(spark, emb, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 0L)) || pairs.toSeq == Seq((0L, 1L)))
  }

  test("k-means IVF multi-probe ranks the planted twin first (recall matches brute force)") {
    val res = Similarity.ivfKmeansTopK(spark, emb, numQueries = 1, k = 3).collect()
    assert(res.head.getAs[Long]("neighbor_id") == 1L)
    assert(res.head.getAs[Double]("cosine") > 0.999)
    // every ANN cosine is the exact brute-force value for that neighbor
    val brute = Similarity.bruteForceTopK(emb, numQueries = 1, k = 40)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    res.foreach(r => assert(brute(r.getAs[Long]("neighbor_id")) == r.getAs[Double]("cosine")))
  }

  test("multi-probe LSH recall >= single-probe, and never invents cosines") {
    val brute = Similarity.bruteForceTopK(emb, numQueries = 8, k = 40)
      .collect().map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")),
        r.getAs[Double]("cosine"))).toMap
    val single = Similarity.lshTopK(spark, emb, numQueries = 8, k = 5).collect()
    val multi = Similarity.lshMultiProbeTopK(spark, emb, numQueries = 8, k = 5).collect()
    assert(multi.length >= single.length,
      s"multi-probe returned ${multi.length} < single-probe ${single.length}")
    // every multi-probe hit carries the exact brute-force cosine
    multi.foreach { r =>
      assert(brute((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        == r.getAs[Double]("cosine"))
    }
    // the planted twin is recovered for query 0
    assert(multi.filter(_.getAs[Long]("query_id") == 0L)
      .head.getAs[Long]("neighbor_id") == 1L)
  }

  test("k-means IVF recall@3 over all queries beats the single-cell floor") {
    val k = 3
    val brute = Similarity.bruteForceTopK(emb, numQueries = 8, k = k).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val ann = Similarity.ivfKmeansTopK(spark, emb, numQueries = 8, k = k).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = brute.map { case (q, truth) =>
      ann.get(q).map(found => (found intersect truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.5, s"mean recall@3 $meanRecall below floor; per-query $recalls")
  }

  test("recall report: all twelve methods, integer hits bounded by truth, multi-probe >= single-probe") {
    val rows = Similarity.recallReport(spark, emb, numQueries = 8, k = 3)
      .collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hits"), r.getAs[Double]("recall")))
      .toMap
    assert(rows.keySet == Set("beam_graph", "graph_pq", "ivf_kmeans_nprobe2",
      "ivf_nprobe1", "ivf_pq", "lsh_multiprobe", "lsh_single", "matryoshka",
      "onebit", "pq", "rq", "sq8"))
    rows.values.foreach { case (truth, hits, recall) =>
      assert(truth == 24L)
      assert(hits >= 0L && hits <= truth)
      assert(recall == hits.toDouble / truth)
    }
    // the recall lever: extra probes can only widen the candidate set, so
    // the multi-probe hits dominate the single-probe hits on the same index
    assert(rows("lsh_multiprobe")._2 >= rows("lsh_single")._2)
  }

  test("multi-arm beam sweep equals the independent per-arm walks (exact and PQ families)") {
    import org.apache.spark.sql.functions.col
    val nq = 8; val k = 3; val degree = 4; val rounds = 3
    val truth = Similarity.bruteForceTopK(emb, nq, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def hitsOf(df: org.apache.spark.sql.DataFrame): Long = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .count(truth.contains).toLong
    val report = Similarity.beamWidthReport(spark, emb, numQueries = nq, k = k,
        degree = degree, rounds = rounds, widths = Seq(2, 6), pqWidths = Seq(6))
      .collect()
      .map(r => r.getAs[String]("method") -> r.getAs[Long]("n_hits")).toMap
    assert(report.keySet == Set("beam_02", "beam_06", "graphpq_06"))
    // the sweep walks all arms in ONE round loop; each arm must equal
    // the standalone single-arm walk over the same graph parameters
    assert(report("beam_02") ==
      hitsOf(Similarity.beamSearchTopK(spark, emb, nq, k, degree, 2, rounds)))
    assert(report("beam_06") ==
      hitsOf(Similarity.beamSearchTopK(spark, emb, nq, k, degree, 6, rounds)))
    assert(report("graphpq_06") ==
      hitsOf(Similarity.graphPqTopK(spark, emb, nq, k, degree, 6, rounds)))
  }

  test("LSH top-k returns a subset consistent with brute force when bucketed together") {
    val brute = Similarity.bruteForceTopK(emb, numQueries = 1, k = 40)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val ann = Similarity.lshTopK(spark, emb, numQueries = 1, k = 5).collect()
    // every ANN result must carry the exact brute-force cosine for that neighbor
    ann.foreach { r =>
      assert(brute(r.getAs[Long]("neighbor_id")) == r.getAs[Double]("cosine"))
    }
  }

  test("SQ8: codes are bytes, reconstruction error bounded by half a cell, twin still ranks first") {
    import org.apache.spark.sql.functions._
    val q = Similarity.withSq8(emb)
    // every code is an 8-bit value
    val codeRange = q.select(explode(col("sq8_code")).as("c"))
      .agg(min("c"), max("c")).collect().head
    assert(codeRange.getInt(0) >= 0 && codeRange.getInt(1) <= 255)
    // |x - deq(x)| <= scale/2 per dimension: with 64 dims spanning ~2 units,
    // scale ~ 2/255, so max abs error < 0.005
    val maxErr = q.select(explode(arrays_zip(col("embedding"), col("deq"))).as("z"))
      .select(abs(col("z.embedding").cast("double") - col("z.deq")).as("e"))
      .agg(max("e")).collect().head.getDouble(0)
    assert(maxErr < 0.005, s"reconstruction error $maxErr exceeds half a quantization cell")
    // quantized search still finds the planted twin, and flags it as an exact hit
    val top = Similarity.sq8TopK(emb, numQueries = 1, k = 3)
      .orderBy(col("rank")).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Int]("exact_hit") == 1)
  }

  test("PQ: codes index the codebook, reconstruction is codeword-exact, twin ranks first") {
    import org.apache.spark.sql.functions._
    val m = 8; val ksub = 16; val subDim = 8
    val q = Similarity.withPq(emb, m = m, ksub = ksub, dim = 64)
    // m codes per vector, each in [0, ksub)
    val codeStats = q.select(explode(col("pq_code")).as("c"))
      .agg(min("c"), max("c"), count(lit(1))).collect().head
    assert(codeStats.getInt(0) >= 0 && codeStats.getInt(1) < ksub)
    assert(codeStats.getLong(2) == q.count() * m)
    // a codebook vector reconstructs to ITSELF: its own subvectors are at
    // distance 0 in every subspace, so PQ is lossless on codebook members
    val self = q.filter(col("vec_id") < ksub)
      .select(explode(arrays_zip(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("x"),
        col("pq_recon").as("r"))).as("z"))
      .agg(max(abs(col("z.x") - col("z.r")))).collect().head.getDouble(0)
    assert(self == 0.0, s"codebook member reconstruction drifted by $self")
    // the planted twin of vec 0 (a codebook member) encodes to vec 0's
    // codewords, so asymmetric search must rank it first and flag the hit
    val top = Similarity.pqTopK(emb, numQueries = 1, k = 3)
      .orderBy(col("rank")).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Int]("exact_hit") == 1)
  }

  test("matryoshka rerank: degenerate full-prefix form equals brute force exactly") {
    // prefixDims = dim and candidates >= corpus: the coarse pass IS the
    // exact ranking, so the rerank must reproduce brute force bit-for-bit
    // and every hit must be flagged exact
    val full = Similarity.matryoshkaTopK(emb, numQueries = 4, k = 3,
        prefixDims = 64, candidates = 64)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    val brute = Similarity.bruteForceTopK(emb, numQueries = 4, k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.map(t => (t._1, t._2, t._3, t._4)).toSeq == brute.toSeq)
    assert(full.forall(_._5 == 1), "full-prefix hits must all be exact")
    // a short prefix still finds the planted twin for query 0: the twin
    // differs in ONE coordinate, so even the 8-dim prefix ranks it first
    val short0 = Similarity.matryoshkaTopK(emb, numQueries = 1, k = 1,
        prefixDims = 8, candidates = 8).collect().head
    assert(short0.getLong(2) == 1L && short0.getInt(4) == 1)
  }

  test("hard negatives: planted cross-label twin is rank 1 and semi-hard") {
    import spark.implicits._
    // vec 2 (same label as anchor 0) is the hardest positive, slightly
    // closer than the cross-label twin 1 — so 1 is a semi-hard negative
    // (below pos_cos but inside the 0.05 margin); all negatives cross-label
    val pos = vec(0).zipWithIndex.map { case (v, i) => if (i == 5) v + 0.005f else v }
    val twin = vec(0).zipWithIndex.map { case (v, i) => if (i == 3) v + 0.02f else v }
    val labeled = (Seq((0L, vec(0), 0), (1L, twin, 1), (2L, pos, 0)) ++
        (3L to 20L).map(s => (s, vec(s.toInt * 7 + 2), 2)))
      .toDF("vec_id", "embedding", "label")
    val negs = Similarity.hardNegatives(labeled, numQueries = 1, k = 3, margin = 0.05)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(3), r.getBoolean(5)))
    assert(negs.head._2 == 1L, s"rank-1 negative must be the cross-label twin: ${negs.toSeq}")
    assert(negs.head._4, "twin sits inside the semi-hard margin band")
    assert(negs.forall(_._3 != 0), "no same-label vector may appear as a negative")
  }

  test("MMR: redundant near-copy is displaced by a diverse candidate") {
    import spark.implicits._
    // hand-computable geometry: q = e0; 1 and 2 are the SAME (e0+e1)/√2
    // (rel .707, mutual sim 1.0); 3 = (e0+e2)/√2 (rel .707, sim .5 to 1);
    // fillers are pure off-axis basis vectors (rel 0, sim 0). Round 2:
    // score(2) = .5·.707 − .5·1 ≈ −.146 < score(filler) = 0 <
    // score(3) = .5·.707 − .5·.5 ≈ .104 — the diverse 3 must win.
    def basis(i: Int, j: Int = -1): Array[Float] =
      Array.tabulate(64)(d => if (d == i || d == j) 0.70710677f
        else 0.0f).updated(i, if (j == -1) 1.0f else 0.70710677f)
    val emb3 = (Seq(
        (0L, basis(0)), (1L, basis(0, 1)), (2L, basis(0, 1)), (3L, basis(0, 2))) ++
        (4L to 8L).map(s => (s, basis(s.toInt))))
      .toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb3, numQueries = 1, k = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSet
    assert(brute == Set(1L, 2L), s"plain top-2 is the redundant pair: $brute")
    val mmr = Similarity.mmrSelect(emb3, queryId = 0L, poolSize = 8, k = 2)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(mmr.head == 1L && mmr(1) == 3L,
      s"MMR must keep the best and swap its near-copy for diversity: ${mmr.toSeq}")
  }

  test("MMR exhaustion: k beyond the candidate pool returns the pool, not an exception") {
    import spark.implicits._
    val tiny = Seq((0L, vec(0)), (1L, vec(9)), (2L, vec(21)))
      .toDF("vec_id", "embedding")
    // pool = the 2 non-query vectors; k = 5 must stop at 2 picks
    val picks = Similarity.mmrSelect(tiny, queryId = 0L, poolSize = 8, k = 5)
      .orderBy("rank").collect()
    assert(picks.length == 2, s"expected the exhausted pool's 2 picks, got ${picks.length}")
    assert(picks.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("label noise: planted mislabel recovered by the bucketed census; fidelity reads bucketed == truth") {
    import spark.implicits._
    // two tight clusters of 8 (tiny per-member perturbations keep each
    // cluster in one LSH bucket, multi-probe covers any single sign flip);
    // member 0 of cluster A carries cluster B's label — the planted noise
    def near(v: Array[Float], d: Int): Array[Float] = v.updated(d, v(d) + 0.001f)
    val a = vec(1); val b = vec(50)
    val df = ((0 until 8).map(i => (i.toLong, near(a, i), if (i == 0) 1 else 0)) ++
        (0 until 8).map(i => (8L + i, near(b, i), 1)))
      .toDF("vec_id", "embedding", "label")
    val census = Similarity.labelNoiseCensusBucketed(df, k = 5).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(census(0).getAs[Long]("n_disagree") == 0L,
      "clean cluster-A members all vote their own label")
    assert(census(1).getAs[Long]("n_disagree") == 1L,
      "the planted mislabel's 5-NN (all cluster A, label 0) must out-vote its stored label")
    val fid = Similarity.labelNoiseFidelity(df, numQueries = 16, k = 5).collect()
    assert(fid.map(_.getAs[Long]("n_truth_disagree")).sum == 1L,
      "exact truth finds exactly the one planted mislabel")
    fid.foreach { r =>
      assert(r.getAs[Long]("n_covered") == r.getAs[Long]("n_sample"),
        "co-located clusters leave no query uncovered")
      assert(r.getAs[Long]("n_maj_agree") == r.getAs[Long]("n_covered"),
        "bucketed vote must equal the exact vote when clusters share buckets")
    }
  }

  test("graph-ANN beam search finds the planted twin at rank 1 with a truth flag") {
    val res = ops.Similarity.beamSearchTopK(spark, emb, numQueries = 2, k = 2,
        degree = 4, beam = 4, rounds = 3, centroids = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("exact_hit")))
    val q0top = res.find(t => t._1 == 0L && t._2 == 1).get
    assert(q0top._3 == 1L && q0top._4 == 1,
      s"query 0's rank-1 must be the planted twin with exact_hit=1, got $q0top")
    // output contract: k rows per query, ranks contiguous from 1
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $q ranks must be contiguous from 1")
    }
  }

  private def embLabeled = {
    import spark.implicits._
    emb.withColumn("label",
      org.apache.spark.sql.functions.expr("CAST(vec_id % 3 AS INT)"))
  }

  test("anisotropy/ABTT identities: retained + pc1_before == 1e4 (±1 truncation), after-shares in range") {
    val r = ops.Similarity.abttCensus(embLabeled).collect().head
    val before = r.getAs[Long]("pc1_share_before_e4")
    val retained = r.getAs[Long]("tr_retained_e4")
    // tr(C') = tr(C) − vᵀCv/vᵀv exactly, so the two shares tile the trace;
    // each is independently truncated, so allow 2 ulps at the 1e4 scale
    assert(math.abs(before + retained - 10000L) <= 2,
      s"pc1_before=$before + retained=$retained must tile 1e4")
    val after = r.getAs[Long]("pc1_share_after_e4")
    assert(after >= 0 && after <= 10000, s"after share out of range: $after")
  }

  test("ABTT-corrected vectors are orthogonal to the removed direction (exact up to final renorm)") {
    // Before the last ≤1e6 renorm, wpᵀy = den·(wpᵀzr) − (wpᵀzr)·den = 0
    // EXACTLY; the final truncating division reintroduces at most 1 unit
    // per component, so |wpᵀy| ≤ Σ|wp| ≤ 64·1e4 — vanishing next to the
    // ~1e6-scale components. A wrong projection sign or a dropped term
    // shows up ~1e10 here.
    val corrected = ops.Similarity.abttCorrectedVectors(embLabeled)
    // the visible top direction: pcaPowerTop's v_scaled (≤1e15) is the
    // SAME eigendirection as the internal ≤1e4 wp up to quantization
    // (wp = v_scaled div d with d ≈ 1e11), so |dot(y, v_scaled)| ≤
    // |dot(y, wp)|·d + 64·max|y|·d = 0 + ~6.4e19 from quantization alone —
    // while a wrong/no projection leaves the full overlap, ~|y|·|v| ≈
    // 64·1e6·1e15 = 6.4e22, three orders above the tolerance.
    val dots = corrected.crossJoin(
        ops.Similarity.pcaPowerTop(embLabeled)
          .agg(org.apache.spark.sql.functions.expr(
            "transform(array_sort(collect_list(struct(pos, v_scaled))), t -> CAST(t.v_scaled AS DOUBLE))")
            .as("w")))
      .selectExpr(
        "abs(aggregate(zip_with(embedding, w, (a, b) -> a * b), 0D, (acc, v) -> acc + v)) AS d")
      .collect()
    dots.foreach { r =>
      val d = r.getAs[Double]("d")
      assert(d <= 1e20,
        s"corrected vector not orthogonal to removed direction: dot=$d")
    }
  }

  test("effective rank: isotropic-ish cloud reads high, a planted 1-D cloud reads ~1") {
    val r = ops.Similarity.effectiveRankCensus(embLabeled).collect().head
    val er = r.getAs[Long]("eff_rank_e4")
    assert(er >= 10000 && er <= 640000, s"eff_rank_e4 out of [1e4, 64e4]: $er")
    // rank-1 cloud: every vector a multiple of one direction
    import spark.implicits._
    val rank1 = (0L to 40L).map { s =>
      val a = (s % 7 + 1).toFloat
      (s, Array.tabulate(64)(i => a * (((i * 17) % 97) - 48) / 48.0f))
    }.toDF("vec_id", "embedding")
    val r1 = ops.Similarity.effectiveRankCensus(rank1).collect().head
    assert(r1.getAs[Long]("eff_rank_e4") <= 12000,
      s"rank-1 cloud must read eff rank ~1: ${r1.getAs[Long]("eff_rank_e4")}")
    assert(er > r1.getAs[Long]("eff_rank_e4"),
      "spread cloud must out-rank the collapsed one")
  }

  test("IVF-PQ served from tables == the from-scratch composition (one-pass build, no adds)") {
    import org.apache.spark.sql.functions.col
    val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val asgT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    Similarity.ivfIndexBuild(spark, emb, centT, asgT, centroids = 4, iters = 2)
    Similarity.pqIndexBuild(spark, emb, cbT, codeT, cbIdBound = 16)
    val served = Similarity.ivfPqIndexSearch(spark, emb, centT, asgT, cbT, codeT,
        numQueries = 8, k = 3, nprobe = 2)
      .orderBy(col("query_id"), col("rank")).collect()
    val direct = Similarity.ivfPqTopK(spark, emb, numQueries = 8, k = 3,
        centroids = 4, iters = 2, nprobe = 2)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(served.length == direct.length && served.nonEmpty)
    served.zip(direct).foreach { case (a, b) =>
      assert(a.getAs[Long]("query_id") == b.getAs[Long]("query_id"))
      assert(a.getAs[Long]("neighbor_id") == b.getAs[Long]("neighbor_id"))
      assert(a.getAs[Double]("cosine_pq") == b.getAs[Double]("cosine_pq"))
      assert(a.getAs[Int]("exact_hit") == b.getAs[Int]("exact_hit"))
    }
  }

  test("persisted RQ index: build+add == inline one-pass rung; add replay is idempotent") {
    import org.apache.spark.sql.functions.col
    val all = emb
    val cbT = graft.stages.MergeTable.scratch(Seq("level", "ord"))
    val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    // full-corpus build (init bound == k): the served search must equal
    // the inline rung bit-for-bit — same kernels, frozen vs inline
    Similarity.rqIndexBuild(spark, all, cbT, codeT, k1 = 8, k2 = 8, iters = 2,
      initIdBound = 8)
    def served() = Similarity.rqIndexSearch(spark, all, cbT, codeT,
        numQueries = 6, k = 3, candidates = 16)
      .orderBy(col("query_id"), col("rank")).collect()
    val direct = Similarity.rqTopK(all, numQueries = 6, k = 3,
        k1 = 8, k2 = 8, candidates = 16)
      .orderBy(col("query_id"), col("rank")).collect()
    val first = served()
    assert(first.nonEmpty && first.length == direct.length)
    first.zip(direct).foreach { case (a, b) =>
      assert(a.getAs[Long]("query_id") == b.getAs[Long]("query_id"))
      assert(a.getAs[Long]("neighbor_id") == b.getAs[Long]("neighbor_id"))
      assert(a.getAs[Double]("cosine_rq") == b.getAs[Double]("cosine_rq"))
      assert(a.getAs[Double]("cosine") == b.getAs[Double]("cosine"))
      assert(a.getAs[Int]("exact_hit") == b.getAs[Int]("exact_hit"))
    }
    // encode is a pure function of (vector, frozen codebooks): replaying
    // an add upserts identical rows and the served search cannot move
    Similarity.rqIndexAdd(spark, all.filter(col("vec_id") % 3 === 1), cbT, codeT)
    val replayed = served()
    assert(replayed.length == first.length)
    replayed.zip(first).foreach { case (a, b) =>
      assert(a.getAs[Long]("neighbor_id") == b.getAs[Long]("neighbor_id"))
      assert(a.getAs[Double]("cosine_rq") == b.getAs[Double]("cosine_rq"))
    }
    // a wrong-sized training set must fail BEFORE any commit
    val cbT2 = graft.stages.MergeTable.scratch(Seq("level", "ord"))
    val codeT2 = graft.stages.MergeTable.scratch(Seq("vec_id"))
    intercept[IllegalArgumentException] {
      Similarity.rqIndexBuild(spark, all.filter(col("vec_id") % 2 === 0),
        cbT2, codeT2, k1 = 8, k2 = 8, iters = 2, initIdBound = 8) // 4 even seeds ≠ 8
    }
    assert(cbT2.currentVersion.isEmpty && codeT2.currentVersion.isEmpty,
      "failed validation must leave no committed version")
  }

  test("nprobe report: recall monotone in nprobe, all-cells arm is the exact ceiling") {
    val rows = Similarity.ivfNprobeReport(spark, emb, numQueries = 8, k = 3,
        centroids = 4, iters = 2, nprobes = Seq(1, 2, 4))
      .orderBy(org.apache.spark.sql.functions.col("method")).collect()
    assert(rows.length == 3)
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.sliding(2).forall { case Array(a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.mkString(",")}")
    assert(recalls.last == 1.0,
      s"probing all 4 cells is an exact scan: ${recalls.last}")
    assert(rows.forall(r => r.getAs[Long]("n_hits") <= r.getAs[Long]("n_truth")))
  }

  test("nprobe report filtered arms: graded vs filtered truth, monotone, all-cells arm exact") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.ivfNprobeReport(spark, embLabeled, numQueries = 8, k = 2,
        centroids = 4, iters = 2, nprobes = Seq(1, 4),
        filteredLabel = Some(1), filteredNprobes = Seq(1, 2, 4))
      .orderBy(col("method")).collect()
    assert(rows.length == 5)
    val f = rows.filter(_.getAs[String]("method").startsWith("filtered_"))
    assert(f.length == 3)
    // the filtered family grades against ITS OWN truth (exact top-k over
    // the label-filtered corpus), sized by what that corpus can supply
    assert(f.map(_.getAs[Long]("n_truth")).distinct.length == 1)
    assert(f.forall(r => r.getAs[Long]("n_hits") <= r.getAs[Long]("n_truth")))
    val fr = f.map(_.getAs[Double]("recall"))
    assert(fr.sliding(2).forall { case Array(a, b) => a <= b },
      s"filtered recall must be monotone in nprobe: ${fr.mkString(",")}")
    assert(fr.last == 1.0,
      s"probing all cells over the filtered corpus is the pre-filter exact scan: ${fr.last}")
  }

  test("nprobe report filtered arms: a label with no matching rows fails naming the label") {
    // labels are vec_id % 3, so 7 matches nothing: every filtered arm would
    // grade 0 hits against 0 truth rows (NaN recall) without the guard
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfNprobeReport(spark, embLabeled, numQueries = 8, k = 2,
        centroids = 4, iters = 2, nprobes = Seq(1),
        filteredLabel = Some(7), filteredNprobes = Seq(1, 4))
    }
    assert(e.getMessage.contains("filteredLabel=7 matches no corpus row"), e.getMessage)
  }

  test("PQ index-pair coherence: desync detected at row AND cell grain, reconcile heals") {
    import org.apache.spark.sql.functions.col
    val all = emb
    val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    Similarity.pqIndexBuild(spark, all, cbT, codeT, cbIdBound = 16)
    val (c1, f1) = Similarity.pqIndexReconcileWithCensus(spark, all, cbT, codeT,
      sampleMod = 4)
    assert(c1.getLong(3) == 0L && c1.getLong(4) == 0L && !f1,
      "fresh build must census coherent")
    // crash: a retrained codebook (vectors 16..31) lands; codes do not
    Similarity.pqIndexBuild(spark,
      all.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .withColumn("vec_id", col("vec_id") - 16),
      cbT, graft.stages.MergeTable.scratch(Seq("vec_id")), cbIdBound = 16)
    val (c2, f2) = Similarity.pqIndexReconcileWithCensus(spark, all, cbT, codeT,
      sampleMod = 4)
    assert(c2.getLong(3) > 0L && f2, "desynced pair must recommend + fire")
    assert(c2.getLong(4) >= c2.getLong(3),
      "every mismatched row contributes at least one mismatched cell")
    val (c3, f3) = Similarity.pqIndexReconcileWithCensus(spark, all, cbT, codeT,
      sampleMod = 4)
    assert(c3.getLong(3) == 0L && c3.getLong(4) == 0L && !f3,
      "reconcile must re-derive the codes to coherence")
  }

  test("graph index coherence: census localizes the crashed replace, reconcile heals") {
    import org.apache.spark.sql.functions.col
    val all = emb
    def scr(k: String) = graft.stages.MergeTable.scratch(Seq(k))
    val centT = scr("c_id"); val nodeT = scr("vec_id")
    val adjT = scr("src"); val metaT = scr("key")
    Similarity.graphIndexBuild(spark, all, centT, nodeT, adjT, metaT,
      centroidIdBound = 6, degree = 3)
    def census() = Similarity.graphIndexReconcileWithCensus(
      spark, centT, nodeT, adjT, metaT, sampleMod = 1, cellMod = 1)
    val (c1, f1) = census()
    assert(c1.getLong(4) == 0L && c1.getLong(6) == 0L &&
      c1.getBoolean(7) && !f1, "fresh build must census coherent")
    // centroid-only crash: node link + meta bound break, adjacency link
    // stays coherent (nodes and adjacency stale together)
    Similarity.graphIndexBuild(spark, all, centT, scr("vec_id"), scr("src"),
      scr("key"), centroidIdBound = 8, degree = 3)
    val (c2, f2) = census()
    assert(c2.getLong(4) > 0L, "node link must break under a centroid crash")
    assert(c2.getLong(6) == 0L,
      "adjacency link must stay coherent under a centroid-only crash")
    assert(!c2.getBoolean(7) && f2, "stale meta bound must be detected")
    val (c3, f3) = census()
    assert(c3.getLong(4) == 0L && c3.getLong(6) == 0L &&
      c3.getBoolean(7) && !f3, "reconcile must heal all three arms")
    // node-side crash: both content links break, the bound stays intact
    Similarity.graphIndexBuild(spark, all, scr("c_id"), nodeT, scr("src"),
      scr("key"), centroidIdBound = 4, degree = 3)
    val (c4, f4) = census()
    assert(c4.getLong(4) > 0L && c4.getLong(6) > 0L,
      "both content links must break under a node-side crash")
    assert(c4.getBoolean(7) && f4,
      "the meta bound alone cannot see a node-side crash — content links must")
    val (c5, f5) = census()
    assert(c5.getLong(4) == 0L && c5.getLong(6) == 0L && !f5,
      "second reconcile must heal the node-side crash")
  }

  test("IVF index-pair coherence: probe and repair run off the index's own tables") {
    import org.apache.spark.sql.functions.col
    val all = emb
    val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
    val assignT = graft.stages.MergeTable.scratch(Seq("vec_id"))
    Similarity.ivfIndexBuild(spark, all.filter(col("vec_id") < 20),
      centT, assignT, centroids = 4, iters = 2)
    Similarity.ivfIndexAdd(spark, all.filter(col("vec_id") >= 20), centT, assignT)
    val (c1, f1) = Similarity.ivfIndexReconcileWithCensus(spark, centT, assignT,
      sampleMod = 2)
    assert(c1.getLong(3) == 0L && !f1, "build+add must census coherent")
    // crash: a full-corpus retrain's centroid replace lands, its
    // assignment replace never becomes current
    Similarity.ivfIndexBuild(spark, all, centT,
      graft.stages.MergeTable.scratch(Seq("vec_id")), centroids = 4, iters = 2)
    val (c2, f2) = Similarity.ivfIndexReconcileWithCensus(spark, centT, assignT,
      sampleMod = 2)
    assert(c2.getLong(3) > 0L && f2, "desynced pair must recommend + fire")
    val (c3, f3) = Similarity.ivfIndexReconcileWithCensus(spark, centT, assignT,
      sampleMod = 2)
    assert(c3.getLong(3) == 0L && !f3,
      "repair from stored vectors must re-assign to coherence")
  }

  // ---- the walk kernel against a plain-Scala reference walk ----

  /** 120 deterministic 64-d vectors around 6 centres; labels vec_id % 3. */
  private lazy val walkVecs: IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(11)
    val centres = IndexedSeq.fill(6)(Array.fill(64)(rnd.nextGaussian()))
    IndexedSeq.fill(120)(centres(rnd.nextInt(6)).map(c => (c + 0.7 * rnd.nextGaussian()).toFloat))
  }

  private def walkEmb = {
    import spark.implicits._
    walkVecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
      .toDF("vec_id", "embedding", "label")
  }

  /** The walk as the DuckDB mirrors define it (`beamGraphSql`,
    * `filteredArmCtes`), in plain Scala over the collected vectors: the
    * first ⌈√n⌉ ids as cells, within-cell top-`degree` edges plus the id
    * chain (and, stitched, the same-label edges and per-label chain), and
    * every round unrolled — no early stop. */
  private final class RefWalk(val vecs: IndexedSeq[Array[Double]], degree: Int) {
    val n: Int = vecs.size
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norm: IndexedSeq[Double] = vecs.map(v => math.sqrt(dot(v, v)))
    def cos(a: Int, b: Int): Double = dot(vecs(a), vecs(b)) / (norm(a) * norm(b))
    def best(score: Int => Double, ids: Iterable[Int], w: Int): Seq[Int] =
      ids.toSeq.sortBy(i => (-score(i), i)).take(w)
    val nCents: Int = math.ceil(math.sqrt(n.toDouble)).toInt
    val cell: IndexedSeq[Int] = (0 until n).map(i => best(cos(i, _), 0 until nCents, 1).head)
    private def knn(same: (Int, Int) => Boolean): Map[Int, Seq[Int]] =
      (0 until n).map(s => s -> best(cos(s, _), (0 until n).filter(d => d != s && same(s, d)), degree)).toMap
    private def union(a: Map[Int, Seq[Int]], b: Map[Int, Seq[Int]]) =
      (a.keySet ++ b.keySet).map(s => s -> (a.getOrElse(s, Nil) ++ b.getOrElse(s, Nil)).distinct).toMap
    val plain: Map[Int, Seq[Int]] =
      union(knn((s, d) => cell(s) == cell(d)), (0 until n - 1).map(s => s -> Seq(s + 1)).toMap)
    def stitched(label: Int => Int): Map[Int, Seq[Int]] =
      union(union(plain, knn((s, d) => cell(s) == cell(d) && label(s) == label(d))),
        (0 until n).flatMap(s => (s + 1 until n).find(d => label(d) == label(s)).map(s -> Seq(_))).toMap)

    /** (final frontier, pool) of one query's walk scored by `score`. */
    def walk(score: Int => Double, entry: Seq[Int], entries: Int, beam: Int, rounds: Int,
             adj: Map[Int, Seq[Int]], matches: Int => Boolean = _ => false): (Seq[Int], Set[Int]) = {
      var b = best(score, entry, entries)
      var pool = Set.empty[Int]
      for (_ <- 1 to rounds) {
        val f = b ++ best(score, pool, beam)
        val e = (f ++ f.flatMap(adj.getOrElse(_, Nil))).distinct
        pool ++= e.filter(matches)
        b = best(score, e, beam)
      }
      (b, pool)
    }

    /** (query, rank, neighbour, cosine) of the exact top k of `found`,
      * self excluded. */
    def topK(q: Int, found: Iterable[Int], k: Int): Seq[(Long, Int, Long, Double)] =
      best(cos(q, _), found.filter(_ != q), k).zipWithIndex
        .map { case (nb, r) => (q.toLong, r + 1, nb.toLong, cos(q, nb)) }
  }

  private def refOf(degree: Int) = new RefWalk(walkVecs.map(_.map(_.toDouble)), degree)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().toSeq.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).sorted

  test("walk kernel equals the reference walk: beamSearchTopK, graphIndexSearch, graphPqTopK, filteredGraphTopK") {
    val nq = 8; val k = 3; val degree = 4; val beam = 4; val rounds = 3
    val ref = refOf(degree)
    val truth = (0 until nq).flatMap(q => ref.topK(q, 0 until ref.n, k).map(t => (t._1, t._3))).toSet
    def plainRef(rounds: Int) = (0 until nq).flatMap { q =>
      ref.topK(q, ref.walk(ref.cos(q, _), Seq(ref.cell(q)), 1, beam, rounds, ref.plain)._1, k)
    }.sorted
    def flagged(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().toSeq
      rows.foreach(r => assert(r.getAs[Int]("exact_hit") ==
        (if (truth((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))) 1 else 0)))
      rowsOf(df)
    }
    val want = plainRef(rounds)
    assert(want.size == nq * k)
    assert(flagged(Similarity.beamSearchTopK(spark, walkEmb, nq, k, degree, beam, rounds)) == want)

    // the persisted index built over the whole fixture is the same graph
    def scr(key: String) = graft.stages.MergeTable.scratch(Seq(key))
    val (centT, nodeT, adjT, metaT) = (scr("c_id"), scr("vec_id"), scr("src"), scr("key"))
    Similarity.graphIndexBuild(spark, walkEmb, centT, nodeT, adjT, metaT,
      centroidIdBound = ref.nCents, degree = degree)
    assert(flagged(Similarity.graphIndexSearch(spark, walkEmb, centT, nodeT, adjT, metaT,
      nq, k, beam, rounds)) == want)

    // PQ-scored walk on the collected reconstructions, exact rerank
    val recon = Similarity.pqReconSide(walkEmb).collect()
      .map(r => r.getLong(0).toInt -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    def pqScore(q: Int)(nd: Int) = ref.dot(recon(nd)._1, ref.vecs(q)) / (recon(nd)._2 * ref.norm(q))
    val pqWant = (0 until nq).flatMap { q =>
      ref.topK(q, ref.walk(pqScore(q), Seq(ref.cell(q)), 1, beam, rounds, ref.plain)._1, k)
    }.sorted
    val pq = Similarity.graphPqTopK(spark, walkEmb, nq, k, degree, beam, rounds)
    assert(flagged(pq) == pqWant)
    pq.collect().foreach(r => assert(r.getAs[Double]("cosine_pq") ==
      pqScore(r.getAs[Long]("query_id").toInt)(r.getAs[Long]("neighbor_id").toInt)))

    // filtered: multi-entry over the centroid nodes, matched-pool frontier
    val label = 1; val entries = 3
    val stitched = ref.stitched(_ % 3)
    val fTruth = (0 until nq).flatMap(q => ref.topK(q, (0 until ref.n).filter(_ % 3 == label), k)
      .map(t => (t._1, t._3))).toSet
    def filteredRef(rounds: Int) = (0 until nq).flatMap { q =>
      ref.topK(q, ref.walk(ref.cos(q, _), 0 until ref.nCents, entries, beam, rounds,
        stitched, _ % 3 == label)._2, k)
    }.sorted
    val filtered = Similarity.filteredGraphTopK(spark, walkEmb, label, nq, k, degree, beam,
      rounds, entries)
    filtered.collect().foreach(r => assert(r.getAs[Int]("exact_hit") ==
      (if (fTruth((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))) 1 else 0)))
    assert(rowsOf(filtered) == filteredRef(rounds))

    // rounds = 50: the per-key stop must not change the answer, and 50
    // rounds is the fixed point the reference reaches on its own
    val plain50 = plainRef(50)
    assert(plain50 == plainRef(51))
    assert(rowsOf(Similarity.beamSearchTopK(spark, walkEmb, nq, k, degree, beam, 50)) == plain50)
    val filtered50 = filteredRef(50)
    assert(filtered50 == filteredRef(51))
    assert(rowsOf(Similarity.filteredGraphTopK(spark, walkEmb, label, nq, k, degree, beam,
      50, entries)) == filtered50)
  }

  test("walk kernel equals the reference walk on every beamSweepOnGraph arm") {
    import org.apache.spark.sql.functions.col
    val nq = 8; val k = 3; val degree = 4; val rounds = 3
    val ref = refOf(degree)
    val recon = Similarity.pqReconSide(walkEmb)
    val reconRows = recon.collect()
      .map(r => r.getLong(0).toInt -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    def pqScore(q: Int)(nd: Int) =
      ref.dot(reconRows(nd)._1, ref.vecs(q)) / (reconRows(nd)._2 * ref.norm(q))
    val arms = Seq(("x2", "x", 2), ("x6", "x", 6), ("q6", "q", 6), ("q12", "q", 12))
    val (base, adj) = Similarity.cellKnnGraph(walkEmb, degree, 0)
    val swept = Similarity.beamSweepOnGraph(spark, base, adj, recon, arms, nq, k, rounds)
    arms.foreach { case (method, fam, beam) =>
      val want = (0 until nq).flatMap { q =>
        val score: Int => Double = if (fam == "x") ref.cos(q, _) else pqScore(q)
        ref.topK(q, ref.walk(score, Seq(ref.cell(q)), 1, beam, rounds, ref.plain)._1, k)
      }.sorted
      assert(rowsOf(swept.filter(col("method") === method)) == want, method)
    }
  }

  test("walk order equals Spark's row_number order: NaN, signed zeros, null, id ties") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val cands: Seq[(Long, Option[Double])] = Seq(5L -> Some(0.5), 3L -> Some(Double.NaN),
      9L -> None, 2L -> Some(-0.0), 1L -> Some(0.0), 7L -> Some(0.5), 4L -> Some(-1.0),
      8L -> Some(Double.NaN), 6L -> None, 0L -> Some(0.5), 10L -> Some(Double.NegativeInfinity))
    val bySpark = cands.toDF("node", "cosine")
      .withColumn("r", row_number().over(Window.orderBy(col("cosine").desc, col("node"))))
      .orderBy("r").collect().map(_.getLong(0)).toSeq
    val byDriver = cands
      .map { case (n, c) => (c.map(java.lang.Double.valueOf).orNull, n) }
      .sorted(Similarity.walkOrder).map(_._2)
    assert(byDriver == bySpark)
    assert(byDriver == Seq(3L, 8L, 0L, 5L, 7L, 1L, 2L, 4L, 10L, 6L, 9L))
  }

  test("graphIndexSearch job budget: one scoring job per round, every job inside a SQL execution") {
    val nq = 8; val k = 3; val degree = 4; val beam = 4; val rounds = 3
    def scr(key: String) = graft.stages.MergeTable.scratch(Seq(key))
    val (centT, nodeT, adjT, metaT) = (scr("c_id"), scr("vec_id"), scr("src"), scr("key"))
    Similarity.graphIndexBuild(spark, walkEmb, centT, nodeT, adjT, metaT,
      centroidIdBound = 11, degree = degree)
    def search(rounds: Int) = Measure.during(spark, "graphIndexSearch")(
      Similarity.graphIndexSearch(spark, walkEmb, centT, nodeT, adjT, metaT,
        nq, k, beam, rounds).collect())._2.jobs
    // the scoring collect is the one Similarity collect site that repeats
    def scoringJobs(jobs: Seq[Measure.Job]) =
      jobs.filter(_.callSite.startsWith("collect at Similarity.scala"))
        .groupBy(_.callSite).values.map(_.size).max
    val jobs = search(rounds)
    assert(jobs.forall(_.executionId.isDefined),
      s"jobs outside a SQL execution: ${jobs.filter(_.executionId.isEmpty)}")
    assert(scoringJobs(jobs) <= rounds + 1, jobs.map(_.callSite))
    // 14 jobs measured on this fixture; the budget is that + 25%
    assert(jobs.size <= 17, s"${jobs.size} jobs: ${jobs.map(_.callSite)}")
    // every key reaches its fixed point within 3 rounds here, so a
    // 50-round walk stops as early and submits no extra scoring job
    assert(scoringJobs(search(50)) == scoringJobs(jobs))
  }
}
