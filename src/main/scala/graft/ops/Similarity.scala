package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`embeddings.embedding:
  * array<float>`): brute-force cosine top-k as the correctness baseline and
  * a random-hyperplane LSH bucketing as the scale path.
  *
  * Determinism contract: dot products are sequential left-to-right folds of
  * double-widened floats (`aggregate(zip_with(...))`), which both Spark and
  * DuckDB evaluate identically bit-for-bit (verified empirically on the
  * corpus) — so raw cosine doubles can be hash-compared with the oracle.
  * Hyperplanes are integer weight vectors derived from md5, not RNG state,
  * so the bucketing is reproducible everywhere.
  *
  * Scale: brute force is O(queries × corpus) with a broadcast query side —
  * fine for few queries, linear scans at 100 TB. LSH buckets cut the
  * candidate set to one bucket per query (expected corpus/2^planes), at the
  * cost of recall; both shapes shuffle nothing but the final top-k window,
  * which is partitioned by query id.
  */
object Similarity {

  /** Sequential double fold of x·y — the one dot-product definition used
    * everywhere (see determinism contract above).
    */
  def dotExpr(a: String, b: String): String =
    s"graft_dot(CAST($a AS ARRAY<DOUBLE>), CAST($b AS ARRAY<DOUBLE>))"

  /** vectors + their L2 norm. */
  def withNorm(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("norm", expr(s"sqrt(${dotExpr("embedding", "embedding")})"))
  }

  // ---------------------------------------------------------------------
  // Centroid assignment kernel (r17 optimization round).
  //
  // Every IVF-family operator used to assign rows to centroids as
  //   rows.crossJoin(broadcast(cents)) + row_number() over
  //   Window.partitionBy(vec_id).orderBy(_c_cos desc, c_id)
  // — an n×k exploded exchange whose rows CARRY THE EMBEDDING ARRAYS,
  // plus a per-vector sort, just to pick each row's best (or top-nprobe)
  // centroids. The centroid side is bounded by construction (it was
  // already collected to the driver by the broadcast), so the argmax is
  // computable as a PURE PER-ROW PROJECTION over a literal centroid
  // array: zero exchange, zero sort, same doubles (guide §2.3/§2.4 —
  // shuffle fewer bytes / remove shuffles outright).
  //
  // Determinism contract: the per-element score is the SAME expression
  // text as the old `_c_cos` (graft_dot sequential fold, same operand
  // order), and ordering uses struct(negate(score), c_id) ascending —
  // IEEE negation is exact, so (negcos asc, c_id asc) == the old
  // (_c_cos desc, c_id asc) tie-break bit-for-bit. The corpus carries no
  // null or zero-norm embeddings (checked across all SFs), so the NaN /
  // null orderings, where the two forms could differ, are unreachable.
  //
  // Scale posture: the literal form holds up to `graft.sim.centroidLitMax`
  // (default 8192) centroids — beyond that (e.g. ⌈√n⌉ at n ≥ 64M) a plan
  // literal would bloat every task binary, so the kernel falls back to
  // the broadcast-join argmax (crossJoin + max_by-shaped aggregation was
  // measured strictly worse than the old window at small k, so the
  // fallback keeps the audited window form verbatim).
  // ---------------------------------------------------------------------

  /** One collected centroid: id, double-widened vector, and (when the
    * call site's formula divides by a STORED norm column) its norm.
    * `cn` is 0.0 and unused when the formula computes
    * sqrt(graft_dot(c,c)) in-expression.
    */
  private[ops] case class CentRow(c_id: Long, c: Seq[Double], cn: Double)

  /** Bounded collect of a centroid relation — the same rows the old path
    * shipped through `broadcast(...)`, so the memory ceiling is unchanged;
    * they are now materialized once on the driver and inlined as a plan
    * literal instead of joined.
    */
  private def collectCentRows(cents: DataFrame, idCol: String, vecCol: String,
                              normCol: Option[String]): Seq[CentRow] = {
    val sel = Seq(col(idCol).cast("long"),
      expr(s"CAST($vecCol AS ARRAY<DOUBLE>)")) ++ normCol.map(c => col(c).cast("double"))
    cents.select(sel: _*).collect().toSeq.map { r =>
      CentRow(r.getLong(0), r.getSeq[Double](1),
        if (normCol.isDefined) r.getDouble(2) else 0.0)
    }.sortBy(_.c_id)
  }

  private def centroidLitMax(df: DataFrame): Int =
    df.sparkSession.conf.getOption("graft.sim.centroidLitMax")
      .map(_.toInt).getOrElse(8192)

  /** `-(score)` of a row against lambda variable `ct` — the negated twin
    * of the old `_c_cos` column expression (same graft_dot folds, same
    * operand order; negation restores the exact value at the end).
    */
  private def negCosExpr(embCol: String, rowNormCol: Option[String],
                         storedNorm: Boolean): String = {
    val centNorm = if (storedNorm) "ct.cn" else "sqrt(graft_dot(ct.c, ct.c))"
    val denom = (rowNormCol.toSeq :+ centNorm).mkString(" * ")
    s"-(graft_dot(CAST($embCol AS ARRAY<DOUBLE>), ct.c) / ($denom))"
  }

  /** The >litMax fallback: rebuild the centroid relation and run the
    * original broadcast-join + assignment-window form (kept verbatim so
    * the giant-quantizer path stays the audited one).
    */
  private def rankedByCentFallback(df: DataFrame, cents: Seq[CentRow],
                                   maxRank: Int, embCol: String,
                                   rowNormCol: Option[String],
                                   storedNorm: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centsDf = cents.map(cr => (cr.c_id, cr.c, cr.cn)).toDF("_f_cid", "_f_c", "_f_cn")
    val centNorm = if (storedNorm) "_f_cn" else "sqrt(graft_dot(_f_c, _f_c))"
    val denom = (rowNormCol.toSeq :+ centNorm).mkString(" * ")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("_c_cos").desc, col("_f_cid"))
    df.crossJoin(broadcast(centsDf))
      .withColumn("_c_cos",
        expr(s"graft_dot(CAST($embCol AS ARRAY<DOUBLE>), _f_c) / ($denom)"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= maxRank)
      .withColumn("c_id", col("_f_cid"))
      .drop("_f_cid", "_f_c", "_f_cn")
  }

  /** Map-only argmax over a bounded centroid list — replaces the
    * crossJoin(broadcast) + row_number()==1 assignment: appends
    * (`c_id`, `_c_cos`) for each row's nearest centroid, adds NO exchange.
    */
  private def withNearestCent(df: DataFrame, cents: Seq[CentRow],
                              embCol: String, rowNormCol: Option[String],
                              storedNorm: Boolean): DataFrame = {
    require(cents.nonEmpty, "withNearestCent: empty centroid list")
    graft.functions.GraftFunctions.register(df.sparkSession)
    if (cents.size > centroidLitMax(df))
      return rankedByCentFallback(df, cents, 1, embCol, rowNormCol, storedNorm)
        .drop("_r")
    df.withColumn("_cents", typedLit(cents))
      .withColumn("_best", expr(
        s"""array_min(transform(_cents, ct -> struct(
           |${negCosExpr(embCol, rowNormCol, storedNorm)} AS negcos,
           |ct.c_id AS c_id)))""".stripMargin))
      .withColumn("c_id", col("_best.c_id"))
      .withColumn("_c_cos", -col("_best.negcos"))
      .drop("_cents", "_best")
  }

  /** Map-only top-`maxRank` centroid ranking — replaces the
    * crossJoin(broadcast) + row_number() <= nprobe ladder: per input row,
    * emits one row per centroid rank with (`c_id`, `_c_cos`, `_r`); the
    * only exploded rows are the ≤maxRank survivors, and no exchange is
    * added (the old form exploded all k and shuffled them to rank).
    */
  private def withCentRanks(df: DataFrame, cents: Seq[CentRow], maxRank: Int,
                            embCol: String, rowNormCol: Option[String],
                            storedNorm: Boolean): DataFrame = {
    require(cents.nonEmpty, "withCentRanks: empty centroid list")
    graft.functions.GraftFunctions.register(df.sparkSession)
    if (cents.size > centroidLitMax(df))
      return rankedByCentFallback(df, cents, maxRank, embCol, rowNormCol, storedNorm)
    df.withColumn("_cents", typedLit(cents))
      .withColumn("_ranked", expr(
        s"""slice(array_sort(transform(_cents, ct -> struct(
           |${negCosExpr(embCol, rowNormCol, storedNorm)} AS negcos,
           |ct.c_id AS c_id))), 1, $maxRank)""".stripMargin))
      .drop("_cents")
      .select(col("*"), posexplode(col("_ranked")).as(Seq("_p", "_sc")))
      .withColumn("_r", (col("_p") + 1).cast("int"))
      .withColumn("c_id", col("_sc.c_id"))
      .withColumn("_c_cos", -col("_sc.negcos"))
      .drop("_ranked", "_p", "_sc")
  }

  /** Exact top-k neighbors for the query set (vec_id < numQueries), cosine
    * similarity, self excluded, ties broken by neighbor id.
    */
  def bruteForceTopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val base = withNorm(emb)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = base.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** [[bruteForceTopK]] with the single-pass [[graft.functions.TopKAggregator]]
    * instead of a window: partial aggregation bounds every shuffle buffer at
    * k rows per group — the scale path when the candidate set is huge.
    * Output contract (and values) identical to the window form.
    */
  def bruteForceTopKAgg(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    import graft.functions.TopKAggregator
    val spark = emb.sparkSession
    import spark.implicits._
    val base = withNorm(emb)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = base.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        col("vec_id").as("id"),
        (expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm"))).as("score"))
      .as[(Long, Long, Double)]
    scored
      .map { case (q, id, s) => (q, TopKAggregator.Scored(id, s)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKAggregator.topK(k).toColumn)
      .flatMap { case (q, top) => top.zipWithIndex.map { case (s, i) => (q, i + 1, s.id, s.score) } }
      .toDF("query_id", "rank", "neighbor_id", "cosine")
      .withColumn("rank", col("rank").cast("int"))
  }

  /** sign-bucket per vector: bit m = [v·w_m >= 0], bucket = Σ bit<<m, where
    * w_m are the deterministic md5-derived hyperplanes inlined into
    * [[graft.functions.LshBandKeys]]. A pure per-row projection — zero
    * shuffles (the round-1/2 formulation spent two corpus-scale exchanges
    * computing the same value via crossJoin + groupBy).
    */
  def withLshBucket(emb: DataFrame, planes: Int, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("bucket", expr(s"graft_lsh_bands(embedding, 1, $planes, $dim)[0]"))
  }

  /** ANN top-k: neighbors restricted to the query's LSH bucket. Queries whose
    * bucket holds no other vector produce no rows (documented LSH recall
    * trade-off; raise `planes` bands or multi-probe for higher recall).
    */
  def lshTopK(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
              planes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = withNorm(withLshBucket(emb, planes, dim))
    val queries = bucketed.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
    val scored = bucketed.join(queries, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Graph-based ANN (the NSW/HNSW family) as bounded Pregel rounds: a
    * degree-capped kNN graph is built once (IVF same-cell candidates →
    * top-`degree` by cosine per node, plus the id-chain edge so the graph
    * is connected), then each query greedily BEAM-SEARCHES it starting
    * from its OWN IVF cell's centroid node — `rounds` rounds of: expand
    * the frontier through its neighbour lists, union the current beam, keep
    * the top `beam` by cosine. (A fixed global entry node was the r13
    * formulation; it measured 0.58 recall because distant queries spent
    * their round budget traversing the id-chain — entering at the
    * query's own cell is the NSW entry heuristic and restores the recall
    * the candidate generator supports.)
    *
    * Scale shape: the index is the adjacency — n·(degree+1) neighbour
    * ids resident, the HNSW memory contract; build is a cell EQUI-join
    * (never global n²) + one per-src window over cell-bounded
    * candidates, and the cell count GROWS WITH THE CORPUS as ⌈√n⌉
    * (default, overridable via `centroids`), so expected per-cell
    * population is √n and the build join is Σ|cell|² ≈ n^1.5 total —
    * at a fixed cell count it would be n²/cells, a scale-killer.
    * Serving is at most R rounds of the walk kernel, each one job that
    * scores only the (queries×beam)-bounded candidates — no query ever
    * scores the corpus, the property that separates graph ANN from every
    * quantization rung. Deterministic:
    * first-⌈√n⌉-ids quantizer, cosine ties to the smaller id, per-query
    * cell entry; the oracle unrolls the identical rounds. Output carries
    * brute-truth flags (the [[matryoshkaTopK]] convention) so recall is
    * measured, not assumed.
    */
  def beamSearchTopK(spark: SparkSession, emb: DataFrame, numQueries: Int,
                     k: Int, degree: Int = 4, beam: Int = 4, rounds: Int = 4,
                     centroids: Int = 0): DataFrame = {
    val (base, adj) = cellKnnGraph(emb, degree, centroids)
    beamSearchTopKOnGraph(spark, emb, base, adj, numQueries, k, beam, rounds)
  }

  /** [[beamSearchTopK]] over a PREBUILT `(base, adj)` graph (the
    * [[cellKnnGraph]] outputs) — callers that already hold the index
    * walk it without rebuilding the n^1.5 build join.
    */
  def beamSearchTopKOnGraph(spark: SparkSession, emb: DataFrame,
                            base: DataFrame, adj: DataFrame,
                            numQueries: Int, k: Int,
                            beam: Int, rounds: Int): DataFrame =
    beamTopKWithTruth(exactGraphWalk(base, adj, numQueries, beam, rounds),
      emb, numQueries, k)

  /** The exact-scored walk over a [[cellKnnGraph]] graph. NSW entry
    * heuristic: each query starts at its own cell's centroid node (cell
    * ids ARE node ids — the quantizer is the first ⌈√n⌉ vectors), not at
    * one global fixed node. */
  private def exactGraphWalk(base: DataFrame, adj: DataFrame, numQueries: Int,
                             beam: Int, rounds: Int): DataFrame =
    cellEntryWalk(walkSide(nodeSideOf(base), adj), graphQueries(base, numQueries),
      beam, rounds)

  /** (node, n_emb, n_norm) of cell-assigned or node-table rows. */
  private def nodeSideOf(base: DataFrame): DataFrame =
    base.select(col("vec_id").as("node"), col("embedding").as("n_emb"),
      col("norm").as("n_norm"))

  /** The query rows of a [[cellKnnGraph]] graph: (query_id, q_emb,
    * q_norm, cell). */
  private def graphQueries(base: DataFrame, numQueries: Int): DataFrame =
    base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cell"))

  /** Multi-arm beam sweep over ONE prebuilt graph — the walk-parameter
    * sweeps ([[beamWidthReport]], [[recallReport]]) price every
    * (scoring family, beam width) arm in the SAME walk: keys are
    * (arm, query), each round is still one scoring job for all arms, and
    * each arm keeps its own beam width. Walking arms jointly instead of
    * sequentially divides the fixed-cost round count by the arm count —
    * and at scale a sweep that re-walks the graph per parameter is a
    * repeated-lineage bug, not a tuning card. Family 'x' arms score on
    * exact vectors; family 'q' arms score on the PQ `recon` side and get
    * the exact final-beam rerank (the DiskANN serving path). Output
    * (method, query_id, rank, neighbor_id, cosine), checkpointed —
    * per-arm filters are row-bounded reads, not replays.
    */
  def beamSweepOnGraph(spark: SparkSession, base: DataFrame, adj: DataFrame,
                       recon: DataFrame, arms: Seq[(String, String, Int)],
                       numQueries: Int, k: Int, rounds: Int): DataFrame = {
    require(arms.nonEmpty && arms.forall(a => a._2 == "x" || a._2 == "q"),
      s"arm families must be x (exact) or q (pq-recon), got $arms")
    val nodeSide = nodeSideOf(base)
    val queriesLite = graphQueries(base, numQueries)
    val fams = arms.map(_._2).distinct
    val sides = fams.map(f => walkSide(if (f == "x") nodeSide else recon, adj))
    val qs = collectQueries(queriesLite)
    val out = walk(sides.toIndexedSeq, qs.map(_._2),
      arms.map { case (_, f, b) => WalkArm(fams.indexOf(f), b, 1) }.toIndexedSeq,
      q => Seq(qs(q)._3), rounds, None)
    val beamDf = hitFrame(spark, Seq("method", "fam"),
      for (((a, q), hits) <- out.toSeq; h <- hits)
        yield Row(arms(a)._1, arms(a)._2, qs(q)._1, h.node, h.cosine))
    val wK = Window.partitionBy(col("method"), col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    val exact = beamDf.filter(col("fam") === "x" && col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("method"), col("query_id"), col("rank").cast("int").as("rank"),
        col("node").as("neighbor_id"), col("cosine"))
    // PQ-family arms: exact rerank of the final beam only (≤beam
    // full-vector reads per query — the DiskANN serving contract); the
    // bounded final beam broadcasts, the full-vector side streams
    val pq = broadcast(
        beamDf.filter(col("fam") === "q" && col("node") =!= col("query_id"))
          .select(col("method"), col("query_id"), col("node")))
      .join(nodeSide, Seq("node"))
      .join(broadcast(queriesLite.drop("cell")), Seq("query_id"))
      .withColumn("cosine",
        expr(dotExpr("n_emb", "q_emb")) / (col("n_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("method"), col("query_id"), col("rank").cast("int").as("rank"),
        col("node").as("neighbor_id"), col("cosine"))
    exact.unionByName(pq).localCheckpoint(true)
  }

  /** The ⌈√n⌉-cell kNN graph build shared by [[beamSearchTopK]] and
    * [[graphPqTopK]]: returns (cell-assigned corpus, adjacency rows). Graph
    * candidates come from the IVF cell assignment, not LSH sign buckets —
    * the measured recall ladder (sim_recall_report) shows cells carry
    * locality where sign buckets don't (ivf_nprobe1 0.98 vs lsh_single
    * 0.00), and a kNN graph is only as good as its candidate generator.
    * The adjacency rows (src, dsts) are [[cellAdjacency]]'s per-src
    * within-cell top-`degree` by cosine plus the id-chain neighbour for
    * connectivity; both outputs eagerly checkpointed (a sweep builds one
    * score side per family from the same adjacency).
    */
  private[graft] def cellKnnGraph(emb: DataFrame, degree: Int,
                                  centroids: Int): (DataFrame, DataFrame) = {
    val base0 = withNorm(emb).localCheckpoint(true)
    // ⌈√n⌉ cells by default: per-cell candidate joins stay √n-bounded at
    // any corpus size (see scaladoc); explicit `centroids` is a test knob
    val nCents =
      if (centroids > 0) centroids
      else math.ceil(math.sqrt(base0.count().toDouble)).toInt
    // map-only assignment over the collected first-⌈√n⌉ quantizer rows
    // (the rows the old path broadcast; norms ride along so the score is
    // the same `dot / (norm * c_norm)` doubles)
    val centRows = collectCentRows(
      base0.filter(col("vec_id") < nCents), "vec_id", "embedding", Some("norm"))
    val base = withNearestCent(base0, centRows, "embedding",
        rowNormCol = Some("norm"), storedNorm = true)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id").as("cell"))
      .localCheckpoint(true)
    val adj = cellAdjacency(base, degree).unionByName(chainRows(base))
      .localCheckpoint(true)
    (base, adj)
  }

  /** DiskANN-shaped composition (Subramanya et al. 2019, NeurIPS —
    * "DiskANN: Fast Accurate Billion-point Nearest Neighbor Search on a
    * Single Node"): the kNN graph is WALKED scoring candidates by PQ
    * asymmetric cosine — the m-byte codes are the memory-resident index,
    * ~32× smaller than the vectors — and only the FINAL beam is
    * re-scored exactly (DiskANN's "disk read": ≤beam full vectors per
    * query, never a corpus scan). Graph build and entry are
    * [[beamSearchTopK]]'s (⌈√n⌉ IVF cells, own-cell entry, chain edge);
    * the output carries both scores (`cosine_pq` guided the walk,
    * `cosine` ranked the result) plus brute-truth flags, so the price of
    * PQ-guided navigation is measured, not assumed.
    */
  def graphPqTopK(spark: SparkSession, emb: DataFrame, numQueries: Int,
                  k: Int, degree: Int = 6, beam: Int = 8, rounds: Int = 6,
                  m: Int = 8, ksub: Int = 16, dim: Int = 64,
                  centroids: Int = 0): DataFrame = {
    val (base, adj) = cellKnnGraph(emb, degree, centroids)
    graphPqTopKOnGraph(spark, emb, base, adj,
      pqReconSide(emb, m, ksub, dim), numQueries, k, beam, rounds)
  }

  /** The PQ-reconstruction scoring side (node, n_emb, n_norm) — what
    * stays memory-resident in the DiskANN composition. */
  def pqReconSide(emb: DataFrame, m: Int = 8, ksub: Int = 16,
                  dim: Int = 64): DataFrame =
    withPq(emb, m, ksub, dim)
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
      .select(col("vec_id").as("node"), col("pq_recon").as("n_emb"),
        col("recon_norm").as("n_norm"))

  /** [[graphPqTopK]] over a PREBUILT graph and recon side — the
    * [[beamSearchTopKOnGraph]] convention applied to the PQ-scored
    * walk. */
  def graphPqTopKOnGraph(spark: SparkSession, emb: DataFrame,
                         base: DataFrame, adj: DataFrame, recon: DataFrame,
                         numQueries: Int, k: Int,
                         beam: Int, rounds: Int): DataFrame = {
    val queries = graphQueries(base, numQueries)
    exactRerankWithTruth(cellEntryWalk(walkSide(recon, adj), queries, beam, rounds),
      base, queries, numQueries, k)
  }

  /** The DiskANN finish of a PQ-scored walk: exact rerank of the FINAL
    * beam only — ≤beam full-vector reads per query, read from `vectors`
    * (vec_id, embedding, norm) — with brute-truth flags over the same
    * vectors. The bounded beam broadcasts, the full-vector side streams.
    */
  private def exactRerankWithTruth(beamDf: DataFrame, vectors: DataFrame,
                                   queries: DataFrame, numQueries: Int,
                                   k: Int): DataFrame = {
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    val reranked = broadcast(beamDf
        .select(col("query_id"), col("node"), col("cosine").as("cosine_pq"))
        .filter(col("node") =!= col("query_id")))
      .join(nodeSideOf(vectors), Seq("node"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine",
        expr(dotExpr("n_emb", "q_emb")) / (col("n_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("node").as("neighbor_id"), col("cosine_pq"), col("cosine"))
    val truth = bruteForceTopK(vectors.select(col("vec_id"), col("embedding")),
        numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    reranked
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  // ---------------------------------------------------------------------
  // The walk kernel — every graph walk (plain, PQ-scored, multi-arm
  // sweep, filtered) runs through `walk`.
  //
  // Contract: a walk key is (arm, query). Round 0 scores each key's entry
  // candidates and keeps the top `entries` as the first frontier; each of
  // `rounds` rounds then expands the frontier one hop (frontier ∪ its
  // neighbours), scores the expanded set and keeps the top `beam` by
  // (cosine desc, node asc). A filtered walk also keeps every scored node
  // whose label matches in a pool, and expands the pool's top `beam` as a
  // second frontier from round 2 on. That is the definition the DuckDB
  // mirrors unroll (`beamGraphSql`, `filteredArmCtes`).
  //
  // Each round is ONE Spark job: the checkpointed score side
  // (node, n_emb, n_norm, nbrs[, n_label]) is filtered to the round's
  // candidate nodes, every candidate is scored with the walk's one cosine
  // expression against the collected query literal, and (node, nbrs,
  // [label], cosines) come back to the driver, which ranks with
  // `walkOrder` — Spark's own double and null ordering, so each cut
  // equals `row_number() OVER (ORDER BY cosine DESC, node)`. The driver
  // holds only the frontiers (and a filtered walk's pool), at most
  // |keys|·beam·(degree+2) candidate rows per round; the corpus-sized
  // side streams map-only and is never collected.
  //
  // Per-key stop: a round is a deterministic function of the frontier
  // and pool before it, so a key whose frontier and pool did not change
  // has reached its fixed point — it is frozen and no longer scored. The
  // loop ends when every key is frozen or after `rounds` rounds.
  // ---------------------------------------------------------------------

  /** One collected walk query: its double-widened vector and its norm. */
  private[ops] final case class WalkQuery(q: Seq[Double], qn: Double)

  /** One walked arm: the score side it reads, its frontier width, and
    * how many of its scored entry candidates open the walk. */
  private final case class WalkArm(side: Int, beam: Int, entries: Int)

  /** A node scored for one key; `cosine` is null where Spark's is. */
  private final case class Hit(node: Long, cosine: java.lang.Double,
                               nbrs: Array[Long], matched: Boolean)

  /** `ORDER BY cosine DESC, node` as Spark sorts it: SQL double
    * comparison (NaN above every number, -0.0 equal to 0.0), a null
    * cosine last, ties to the smaller node. */
  private[graft] val walkOrder: Ordering[(java.lang.Double, Long)] =
    new Ordering[(java.lang.Double, Long)] {
      def compare(a: (java.lang.Double, Long), b: (java.lang.Double, Long)): Int = {
        val c =
          if (a._1 == null) { if (b._1 == null) 0 else 1 }
          else if (b._1 == null) -1
          else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  private val hitOrder: Ordering[Hit] = walkOrder.on(h => (h.cosine, h.node))

  /** The walk (see the kernel contract above). `entries(query)` are a
    * query's entry candidates; `label` makes it a filtered walk. Returns
    * each key's final frontier, or its pool when filtered. */
  private def walk(sides: IndexedSeq[DataFrame], queries: IndexedSeq[WalkQuery],
                   arms: IndexedSeq[WalkArm], entries: Int => Seq[Long],
                   rounds: Int, label: Option[Int]): Map[(Int, Int), Seq[Hit]] = {
    graft.functions.GraftFunctions.register(sides.head.sparkSession)
    val qLit = typedLit(queries)
    // one job: score each key's candidate nodes on its arm's side
    def score(want: Seq[((Int, Int), Seq[Long])]): Map[(Int, Int), Seq[Hit]] = {
      val scans = want.groupBy { case ((a, _), _) => arms(a).side }.toSeq.map {
        case (s, ws) =>
          val queriesOf = ws.flatMap { case ((_, q), nodes) => nodes.map(_ -> q) }
            .groupBy(_._1).map { case (n, nq) => n -> nq.map(_._2).distinct.toArray }
          val wanted = udf((n: Long) => queriesOf.getOrElse(n, null))
          sides(s).withColumn("_qi", wanted(col("node")))
            .filter(col("_qi").isNotNull)
            .withColumn("_q", qLit)
            .select(lit(s).as("side"), col("node"), col("nbrs"),
              label.fold(lit(false))(l => coalesce(col("n_label") === l, lit(false)))
                .as("matched"),
              col("_qi"),
              expr("transform(_qi, i -> graft_dot(CAST(n_emb AS ARRAY<DOUBLE>), " +
                "_q[i].q) / (n_norm * _q[i].qn))").as("cos"))
      }
      val rows = scans.reduceOption(_ unionByName _).fold(Array.empty[Row])(_.collect())
      val hits = rows.iterator.flatMap { r =>
        val (node, nbrs) = (r.getLong(1), r.getSeq[Long](2).toArray)
        r.getSeq[Int](4).zip(r.getSeq[java.lang.Double](5)).map { case (q, c) =>
          (r.getInt(0), q, node) -> Hit(node, c, nbrs, r.getBoolean(3))
        }
      }.toMap
      want.map { case (k @ (a, q), nodes) =>
        k -> nodes.flatMap(n => hits.get((arms(a).side, q, n)))
      }.toMap
    }
    def top(hits: Iterable[Hit], n: Int): Seq[Hit] = hits.toSeq.sorted(hitOrder).take(n)
    val keys = for (a <- arms.indices; q <- queries.indices) yield (a, q)
    val opened = score(keys.map(k => k -> entries(k._2)))
    var front = keys.map(k => k -> top(opened(k), arms(k._1).entries)).toMap
    var pool = keys.map(k => k -> Map.empty[Long, Hit]).toMap
    var live = keys
    var round = 0
    while (round < rounds && live.nonEmpty) {
      round += 1
      val scored = score(live.map { k =>
        val from = front(k) ++ top(pool(k).values, arms(k._1).beam)
        k -> (from.map(_.node) ++ from.flatMap(_.nbrs)).distinct
      })
      live = live.filter { k =>
        val next = top(scored(k), arms(k._1).beam)
        val grown = pool(k) ++ scored(k).filter(_.matched).map(h => h.node -> h)
        val moved = next.map(_.node).toSet != front(k).map(_.node).toSet ||
          grown.size != pool(k).size
        front += k -> next
        pool += k -> grown
        moved
      }
    }
    if (label.isEmpty) front else pool.map { case (k, p) => k -> p.values.toSeq }
  }

  /** The walk's query rows (query_id, q_emb, q_norm, cell), collected
    * once as (query_id, literal vector, cell). */
  private def collectQueries(queries: DataFrame): IndexedSeq[(Long, WalkQuery, Long)] =
    queries.select(col("query_id"), expr("CAST(q_emb AS ARRAY<DOUBLE>)"),
        col("q_norm"), col("cell"))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), WalkQuery(r.getSeq[Double](1), r.getDouble(2)), r.getLong(3)))
      .sortBy(_._1)

  /** Walk rows as a local DataFrame: the string `keyCols`, then
    * (query_id, node, cosine). */
  private def hitFrame(spark: SparkSession, keyCols: Seq[String],
                       rows: Seq[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(
      keyCols.map(StructField(_, StringType)) ++ Seq(
        StructField("query_id", LongType), StructField("node", LongType),
        StructField("cosine", DoubleType))))
  }

  /** The chain neighbour of every indexed id as adjacency rows
    * (id - 1 → [id]). A src that is not itself indexed finds no score
    * row and drops out, so each node gains vec_id + 1 exactly when that
    * id is indexed — the connectivity fallback, derived at serve time and
    * never persisted (a later id + 1 insert would invalidate it). */
  private def chainRows(ids: DataFrame): DataFrame =
    ids.select((col("vec_id") - 1).as("src"), array(col("vec_id")).as("dsts"))

  /** A walk's score side: `score` (node, n_emb, n_norm[, n_label]) with
    * each node's neighbour list gathered from adjacency rows
    * (src, dsts). Checkpointed: every round scans it. */
  private def walkSide(score: DataFrame, adj: DataFrame): DataFrame = {
    val nbrs = adj.groupBy(col("src"))
      .agg(array_distinct(flatten(collect_list(col("dsts")))).as("nbrs"))
    score.join(nbrs, col("node") === col("src"), "left")
      .withColumn("nbrs", coalesce(col("nbrs"), typedLit(Seq.empty[Long])))
      .drop("src")
      .localCheckpoint(true)
  }

  /** The plain walk of every query from its own cell's node, on one
    * score side: the final frontier as (query_id, node, cosine) rows. */
  private def cellEntryWalk(side: DataFrame, queries: DataFrame,
                            beam: Int, rounds: Int): DataFrame = {
    val qs = collectQueries(queries)
    val out = walk(IndexedSeq(side), qs.map(_._2), IndexedSeq(WalkArm(0, beam, 1)),
      q => Seq(qs(q)._3), rounds, None)
    hitFrame(side.sparkSession, Nil, for (((_, q), hits) <- out.toSeq; h <- hits)
      yield Row(qs(q)._1, h.node, h.cosine))
  }

  /** Final-beam top-k WITHOUT flags — the sweep-side finisher (the
    * sweeps grade against their own collected truth). */
  private def beamTopKOnly(beamDf: DataFrame, k: Int): DataFrame = {
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    beamDf.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("node").as("neighbor_id"), col("cosine"))
  }

  /** Final-beam top-k with brute-truth flags over `emb` (the
    * [[matryoshkaTopK]] convention) — the shared finisher of the graph
    * searches. */
  private def beamTopKWithTruth(beamDf: DataFrame, emb: DataFrame,
                                numQueries: Int, k: Int): DataFrame = {
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    beamTopKOnly(beamDf, k)
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  /** SQ8 scalar quantization: per-dimension [min, max] over the corpus,
    * each float mapped to an 8-bit code `floor((x - lo) / scale)` with
    * `scale = (hi - lo) / 255` — a 4× memory cut (critical at 100 TB: the
    * quantized corpus is what stays resident for search; full floats live
    * only in cold storage). Scoring is ASYMMETRIC (ADC): queries keep
    * their exact vectors, corpus vectors are reconstructed from codes at
    * the cell midpoint `lo + (code + 0.5) * scale`, so the only error is
    * one-sided corpus rounding.
    *
    * Scale shape: the stats pass is a map-side-combining per-dimension
    * min/max (64 groups — no skew possible); the dim-sized stats array is
    * collected and broadcast as a literal, exactly like IVF centroids.
    * Quantize + reconstruct are per-row `transform`s — zero shuffles.
    * Determinism: subtraction/division/floor on identical doubles are
    * IEEE-exact in both engines, so codes — and therefore reconstructed
    * values and cosines — hash-compare with the oracle.
    */
  def withSq8(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .orderBy(col("i"))
      .collect()   // dim rows — bounded, same contract as IVF centroids
    val los = stats.map(_.getDouble(1)).toSeq
    val scales = stats.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq
    emb
      .withColumn("lo_arr", typedLit(los))
      .withColumn("scale_arr", typedLit(scales))
      .withColumn("sq8_code", expr(
        """transform(embedding, (x, i) ->
             CASE WHEN element_at(scale_arr, i + 1) = 0D THEN 0
                  ELSE CAST(least(floor((CAST(x AS DOUBLE) - element_at(lo_arr, i + 1))
                                        / element_at(scale_arr, i + 1)), 255L) AS INT) END)"""))
      .withColumn("deq", expr(
        """transform(sq8_code, (c, i) ->
             CASE WHEN element_at(scale_arr, i + 1) = 0D THEN element_at(lo_arr, i + 1)
                  ELSE element_at(lo_arr, i + 1)
                       + (CAST(c AS DOUBLE) + 0.5D) * element_at(scale_arr, i + 1) END)"""))
      .drop("lo_arr", "scale_arr")
  }

  /** Top-k over the QUANTIZED corpus (asymmetric cosine), with each hit
    * flagged against the exact brute-force top-k — the query output is its
    * own recall report: `sum(exact_hit) / (numQueries * k)` is SQ8 recall.
    */
  def sq8TopK(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val quant = withSq8(emb)
      .withColumn("deq_norm", expr(s"sqrt(${dotExpr("deq", "deq")})"))
    val queries = withNorm(emb).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sq8").desc, col("vec_id"))
    val ranked = quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_sq8",
        expr(dotExpr("deq", "q_emb")) / (col("deq_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    ranked
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_sq8"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_sq8"), col("exact_hit"))
  }

  /** Matryoshka prefix-rerank ANN: candidates are coarse-scored on only
    * the FIRST `prefixDims` dimensions (matryoshka-trained embeddings
    * front-load their information, so the prefix is itself a usable
    * embedding), the top `candidates` per query survive, and only the
    * survivors are re-scored on the full vector. The memory/bandwidth
    * story differs from SQ8/PQ's codes: the coarse pass reads
    * `prefixDims/dim` of the bytes, and at scale the prefix lives as its
    * own narrow column (or leading parquet column chunk) so COLUMN
    * PRUNING delivers the cut — full vectors are fetched for C
    * candidates per query, never the corpus. Output carries per-hit
    * exact-truth flags (the [[sq8TopK]] convention), so the query doubles
    * as its own recall report.
    */
  /** Matryoshka COARSE rank: every (query, candidate) pair scored on the
    * first `prefixDims` dims only, ranked per query — the family's
    * candidate generator, shared by [[matryoshkaTopK]] and the rerank
    * card (which derives every C arm from ONE coarse pass: the top-C
    * survivors are a prefix of this ranking). */
  private def matryoshkaCoarse(emb: DataFrame, numQueries: Int,
                               prefixDims: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    def pdot(a: String, b: String) =
      dotExpr(s"slice($a, 1, $prefixDims)", s"slice($b, 1, $prefixDims)")
    val base = withNorm(emb)
      .withColumn("pnorm", expr(s"sqrt(${pdot("embedding", "embedding")})"))
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("pnorm").as("q_pnorm"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    base.select(col("vec_id"), col("embedding"), col("pnorm"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("pcos",
        expr(pdot("embedding", "q_emb")) / (col("pnorm") * col("q_pnorm")))
      .withColumn("crank", row_number().over(wC))
      .select(col("query_id"), col("vec_id"), col("crank"))
  }

  /** Exact rerank of coarse survivors + per-query top-k — the shared
    * second stage of every rerank-family rung ([[oneBitTopK]],
    * [[matryoshkaTopK]], [[rqTopK]], and the rerank card). `surv` is
    * (query_id, vec_id, …extras); extras ride through to the output.
    */
  private def exactRerankTopK(surv: DataFrame, emb: DataFrame,
                              numQueries: Int, k: Int): DataFrame = {
    val base = withNorm(emb)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    surv.join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("embedding", "norm", "q_emb", "q_norm")
  }

  /** Brute-truth flag join — the shared finisher of every truth-flagged
    * rung. */
  private def withTruthFlags(ranked: DataFrame, emb: DataFrame,
                             numQueries: Int, k: Int): DataFrame = {
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    ranked.join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  def matryoshkaTopK(emb: DataFrame, numQueries: Int, k: Int,
                     prefixDims: Int = 16, candidates: Int = 32): DataFrame = {
    val surv = matryoshkaCoarse(emb, numQueries, prefixDims)
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("vec_id"))
    val ranked = exactRerankTopK(surv, emb, numQueries, k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
    withTruthFlags(ranked, emb, numQueries, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("exact_hit"))
  }

  /** One-bit (binary) quantization top-k — the 64× memory rung of the
    * quantization ladder (PQ's 32×, SQ8's 4×): each vector collapses to a
    * 60-bit SIGN signature (bit i = embedding[i] > 0; 60 not 64 — the
    * graft_simhash60 packing convention keeps every shift inside the
    * positive int64 range on both engines). Coarse rank = Hamming
    * distance between signatures (symmetric binary scoring — one xor +
    * popcount per candidate against bit-packed residents, the cheapest
    * scan the ladder offers), top `candidates` survivors reranked by
    * exact cosine, truth-flagged against the brute-force top-k (the
    * [[matryoshkaTopK]] convention). All-integer coarse phase: the
    * signature, xor and popcount are bit-exact cross-engine.
    */
  /** One-bit COARSE rank: per-query Hamming ranking of the 60-bit sign
    * signatures — the family's candidate generator, shared by
    * [[oneBitTopK]] and the rerank card. */
  private def oneBitCoarse(emb: DataFrame, numQueries: Int): DataFrame = {
    val sigBits = 60
    val sigExpr =
      s"""aggregate(sequence(0, ${sigBits - 1}), 0L, (acc, i) ->
         |  acc + CASE WHEN element_at(CAST(embedding AS ARRAY<DOUBLE>),
         |                             CAST(i AS INT) + 1) > 0D
         |             THEN shiftleft(1L, CAST(i AS INT)) ELSE 0L END)""".stripMargin
    val sigs = emb.select(col("vec_id"), expr(sigExpr).as("sig"))
    val queries = sigs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("q_sig"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id"))
    sigs.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", expr("CAST(bit_count(sig ^ q_sig) AS INT)"))
      .withColumn("crank", row_number().over(wC))
      .select(col("query_id"), col("vec_id"), col("hamming"), col("crank"))
  }

  def oneBitTopK(emb: DataFrame, numQueries: Int, k: Int,
                 candidates: Int = 12): DataFrame = {
    val surv = oneBitCoarse(emb, numQueries)
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val ranked = exactRerankTopK(surv, emb, numQueries, k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("hamming"), col("cosine"))
    withTruthFlags(ranked, emb, numQueries, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming"), col("cosine"), col("exact_hit"))
  }

  /** Product quantization (PQ): the embedding is cut into `m` subspaces of
    * `dim/m` dims; each subvector is replaced by the id of its nearest
    * codeword in a per-subspace `ksub`-entry codebook — `m` small codes
    * per vector (here 8 bytes vs 256, a 32× resident-memory cut; SQ8's 4×
    * is the gentler rung of the same ladder). Scoring is asymmetric
    * (ADC): the query keeps its exact vector, corpus vectors are
    * reconstructed codeword-by-codeword.
    *
    * Codebooks here are the first `ksub` vectors' subvectors — the same
    * deterministic-quantizer stance as [[ivfTopK]] (a production build
    * trains them with [[kmeansCentroids]] per subspace; the encode/search
    * shapes are identical and that is what the oracle must pin).
    * Assignment is squared-L2 via the dot identity
    * `|x−c|² = x·x + c·c − 2·x·c` — every term a [[dotExpr]]-style
    * sequential fold, so both engines compute bit-identical distances —
    * with ties to the lower codeword id (`array_position` finds the FIRST
    * minimum).
    *
    * Scale shape: the codebook is m×ksub rows, collected once and baked
    * into the projection as a literal (the IVF-centroid contract); encode
    * and reconstruct are per-row expressions — zero shuffles, nothing but
    * the final top-k window touches an exchange.
    */
  def withPq(emb: DataFrame, m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = dim / m
    require(subDim * m == dim, s"dim $dim must split evenly into $m subspaces")
    val cbRows = emb.filter(col("vec_id") < ksub).orderBy(col("vec_id"))
      .select(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v")).collect()
      .map(_.getSeq[Double](0).toSeq)
    require(cbRows.length == ksub, s"codebook needs vec_id 0..${ksub - 1}")
    encodePq(emb, pqCodebookOf(cbRows.toSeq, m, subDim), m, subDim)
  }

  /** Per-subspace codebook from c_id-ordered full codeword vectors — the
    * slicing both [[withPq]] and the persisted PQ index share. Codeword
    * index = rank in id order (ties in the encode distance break to the
    * FIRST minimum == the lowest codeword id, mirroring the oracle). */
  private def pqCodebookOf(cbRows: Seq[Seq[Double]],
                           m: Int, subDim: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(s => cbRows.map(_.slice(s * subDim, (s + 1) * subDim)))

  /** PQ encode + reconstruct projections against a FROZEN codebook
    * literal (the IVF-centroid contract: m×ksub values baked into the
    * plan, zero shuffles) — shared by [[withPq]] (self-trained codebook)
    * and the persisted index lifecycle ([[pqIndexBuild]]/[[pqIndexAdd]]).
    */
  private def encodePq(emb: DataFrame, cb: Seq[Seq[Seq[Double]]],
                       m: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val d2 = "graft_dot(sub, sub) + graft_dot(cw, cw) - 2 * graft_dot(sub, cw)"
    emb
      .withColumn("_cb", typedLit(cb))
      .withColumn("_subs", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(sequence(1, $subDim),
                i -> CAST(element_at(embedding, s * $subDim + i) AS DOUBLE)))"""))
      // distances materialized ONCE: Spark does not CSE inside
      // higher-order-function lambda bodies, so inlining the distance
      // transform into both array_position and array_min would run every
      // m × ksub subspace distance twice per row
      .withColumn("_dists", expr(
        s"transform(_subs, (sub, s) -> transform(element_at(_cb, s + 1), cw -> $d2))"))
      .withColumn("pq_code", expr(
        "transform(_dists, ds -> CAST(array_position(ds, array_min(ds)) AS INT) - 1)"))
      .withColumn("pq_recon", expr(
        "flatten(transform(pq_code, (c, s) -> element_at(element_at(_cb, s + 1), c + 1)))"))
      .drop("_cb", "_subs", "_dists")
  }

  /** Top-k over the PQ-reconstructed corpus (asymmetric cosine), each hit
    * flagged against exact brute-force truth — same self-grading output
    * contract as [[sq8TopK]], one rung further down the memory/recall
    * ladder.
    */
  def pqTopK(emb: DataFrame, numQueries: Int, k: Int,
             m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    val quant = withPq(emb, m, ksub, dim)
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
    val queries = withNorm(emb).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("vec_id"))
    val ranked = quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_pq",
        expr(dotExpr("pq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    ranked
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_pq"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_pq"), col("exact_hit"))
  }

  /** Residual (2-level) vector quantization — the ADDITIVE-quantizer
    * family production ANN stacks run beside PQ (FAISS ResidualQuantizer,
    * ScaNN's AH trees): level 1 quantizes the vector, level 2 quantizes
    * the RESIDUAL, reconstruction is the SUM of the two codewords. Two
    * codes per vector (vs PQ's m) and the codewords span the FULL space,
    * capturing rotated/global structure an axis-split PQ structurally
    * cannot. BOTH codebook levels are trained with the deterministic
    * [[kmeansCentroids]] Lloyd pass (id-ordered init, fixed `iters`,
    * scaled-integer means — the oracle unrolls the identical rounds);
    * level 2 trains on the level-1 residuals. Encode is squared-L2 via
    * the dot identity (sequential folds — bit-identical cross-engine),
    * ties to the lower codeword ordinal. Serving follows the rerank
    * convention every lossy rung uses ([[oneBitTopK]] reranks 12,
    * [[matryoshkaTopK]] 32): the 2-byte codes COARSE-rank by asymmetric
    * (ADC) cosine, the top-`candidates` survivors are re-scored on their
    * exact vectors — ≤C cold full-vector reads per query (the DiskANN
    * trade), never a corpus scan — and the result carries both scores
    * plus brute-truth flags. C defaults to 128 because two 4-bit codes
    * carry only 8 bits of rank signal — the widest rerank on the ladder
    * is exactly what the 256× resident-memory cut costs, measured
    * (recall 0.95 at sf0.01/sf0.1 in the query's own truth flags; raw
    * untrained codebooks measured 0.20 in r14). Scale shape: both
    * codebooks are bounded collects baked as literals (the IVF-centroid
    * contract); encode/reconstruct are per-row projections — zero
    * shuffles before the coarse top-C window; the rerank is a
    * C·numQueries-row join.
    */
  private def rqL2Expr(x: String, c: String) =
    s"graft_dot($x, $x) + graft_dot($c, $c) - 2 * graft_dot($x, $c)"

  /** Level-1 assignment + residual: (vec_id, c1, cw1, res) against a
    * frozen level-1 codebook — the shared first half of RQ training,
    * encoding, and the inline rung. */
  private def rqResiduals(emb: DataFrame, cb1: Seq[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb
      .withColumn("_cb1", typedLit(cb1))
      .withColumn("_v", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("_d1", expr(s"transform(_cb1, c -> ${rqL2Expr("_v", "c")})"))
      .withColumn("c1", expr("CAST(array_position(_d1, array_min(_d1)) AS INT) - 1"))
      .withColumn("cw1", expr("element_at(_cb1, c1 + 1)"))
      .withColumn("res", expr("zip_with(_v, cw1, (a, b) -> a - b)"))
  }

  /** Train both RQ codebook levels with the deterministic Lloyd pass
    * (level 2 on the level-1 residuals). `initIdBound` is the id bound of
    * the Lloyd init rows — equal to k1/k2 when training on the full
    * id-dense corpus; wider when the training set is an id-filtered
    * subset (an even-half build passes 2k so exactly k even ids seed).
    * Counts are validated HERE, before any caller commits a codebook.
    */
  private[graft] def rqTrainCodebooks(embTrain: DataFrame, k1: Int, k2: Int,
                                      iters: Int, initIdBound1: Int,
                                      initIdBound2: Int)
      : (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val cb1 = kmeansCentroids(embTrain, initIdBound1, iters).orderBy(col("c_id"))
      .select(col("c")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    require(cb1.length == k1, s"level-1 training produced ${cb1.length} centroids, need $k1")
    val cb2 = kmeansCentroids(
        rqResiduals(embTrain, cb1).select(col("vec_id"), col("res").as("embedding")),
        initIdBound2, iters)
      .orderBy(col("c_id")).select(col("c")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    require(cb2.length == k2, s"level-2 training produced ${cb2.length} centroids, need $k2")
    (cb1, cb2)
  }

  /** Encode against frozen codebooks: the 2-byte code pair per vector —
    * a pure function of (vector, codebooks), so build + incremental adds
    * == one full encode pass. Codes are ORDINALS into the c_id-sorted
    * codebook lists. */
  private def rqEncode(emb: DataFrame, cb1: Seq[Seq[Double]],
                       cb2: Seq[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    rqResiduals(emb, cb1)
      .withColumn("_cb2", typedLit(cb2))
      .withColumn("_d2", expr(s"transform(_cb2, c -> ${rqL2Expr("res", "c")})"))
      .withColumn("c2", expr("CAST(array_position(_d2, array_min(_d2)) AS INT) - 1"))
      .select(col("vec_id"), col("c1"), col("c2"))
  }

  /** Decode codes to summed reconstructions (+ norm) — the ADC scoring
    * side's resident view: two table lookups and one vector add. */
  private def rqDecode(codes: DataFrame, cb1: Seq[Seq[Double]],
                       cb2: Seq[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    codes
      .withColumn("_cb1", typedLit(cb1))
      .withColumn("_cb2", typedLit(cb2))
      .withColumn("rq_recon",
        expr("zip_with(element_at(_cb1, c1 + 1), element_at(_cb2, c2 + 1), (a, b) -> a + b)"))
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("rq_recon", "rq_recon")})"))
      .select(col("vec_id"), col("rq_recon"), col("recon_norm"))
  }

  /** Coarse-rank reconstructions for `numQueries` queries by ADC cosine —
    * the shared scoring tail of the inline rung and the served index. */
  private def rqCoarseRank(quant: DataFrame, emb: DataFrame,
                           numQueries: Int): DataFrame = {
    val queries = withNorm(emb).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_rq").desc, col("vec_id"))
    quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_rq",
        expr(dotExpr("rq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("crank", row_number().over(wC))
      .select(col("query_id"), col("vec_id"), col("cosine_rq"), col("crank"))
  }

  /** RQ COARSE rank: train both codebooks (deterministic Lloyd), encode,
    * reconstruct, rank every candidate per query by ADC cosine — the
    * family's candidate generator, shared by [[rqTopK]] and the rerank
    * card. Composed from the same train/encode/decode kernels the
    * persisted index uses, so the inline rung and the served index can
    * never drift. */
  private def rqCoarse(emb: DataFrame, numQueries: Int,
                       k1: Int, k2: Int, dim: Int, iters: Int): DataFrame = {
    val (cb1, cb2) = rqTrainCodebooks(emb, k1, k2, iters, k1, k2)
    rqCoarseRank(rqDecode(rqEncode(emb, cb1, cb2), cb1, cb2), emb, numQueries)
  }

  def rqTopK(emb: DataFrame, numQueries: Int, k: Int,
             k1: Int = 16, k2: Int = 16, dim: Int = 64,
             candidates: Int = 128, iters: Int = 2): DataFrame = {
    val surv = rqCoarse(emb, numQueries, k1, k2, dim, iters)
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("vec_id"), col("cosine_rq"))
    val ranked = exactRerankTopK(surv, emb, numQueries, k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine_rq"), col("cosine"))
    withTruthFlags(ranked, emb, numQueries, k)
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer (the first
    * `centroids` vectors serve as cell centers) assigns every vector to its
    * nearest cell by cosine; search visits only the query's cell
    * (nprobe=1). Against real data the centroids would come from k-means —
    * the engine shape (assignment pass + cell-restricted search, both
    * single-shuffle) is identical, and a deterministic quantizer is what
    * keeps the oracle reproducible.
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
              centroids: Int = 16): DataFrame = {
    val base = withNorm(emb)
    // map-only assignment over the collected first-`centroids` quantizer
    // rows (r17: the old crossJoin+window shuffled n×k embedding rows)
    val centRows = collectCentRows(
      base.filter(col("vec_id") < centroids), "vec_id", "embedding", Some("norm"))
    val assigned = withNearestCent(base, centRows, "embedding",
        rowNormCol = Some("norm"), storedNorm = true)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id").as("cell"))
    val queries = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Multi-probe [[lshTopK]]: each query searches its own sign bucket AND
    * every bucket at Hamming distance 1 (one plane's sign flipped) — the
    * standard LSH recall lever. A near-miss neighbor differs from the query
    * on the few planes whose hyperplane falls between them, so probing
    * 1-flip buckets recovers most of what single-probe loses, at
    * (planes+1)× the candidate cost — still a tiny fraction of the corpus
    * (expected (planes+1)·corpus/2^planes). The corpus itself stays in ONE
    * bucket; only the query side fans out, so the index is unchanged.
    */
  def lshMultiProbeTopK(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
                        planes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = withNorm(withLshBucket(emb, planes, dim))
    val queries = bucketed.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
      .withColumn("probe", explode(expr(
        s"concat(array(bucket), transform(sequence(0, ${planes - 1}), m -> bucket ^ shiftleft(CAST(1 AS BIGINT), m)))")))
      .drop("bucket")
    val scored = bucketed.join(queries, col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** All-corpus kNN at scale: multi-probe LSH candidate generation (each
    * query reads its own sign bucket + every Hamming-1 bucket, the corpus
    * stays in ONE bucket) with the per-query top-k taken by the bounded
    * [[graft.functions.TopKAggregator]] instead of a whole-group window.
    *
    * This is the shape [[bruteForceTopKAgg]] cannot survive at 100 TB when
    * the query set IS the corpus: brute broadcasts the entire query side and
    * computes n² dots. Here the candidate pairing is an EQUI-join on
    * bucket == probe — a plain shuffle hash join with no broadcast at all —
    * and expected candidate volume is (planes+1)·n²/2^planes (9/256 of n²
    * at the defaults), each per-query group bounded to k rows per map
    * partition through the shuffle. Bucket skew is the one risk; AQE
    * skew-join splitting covers it (buckets are md5-hyperplane-balanced).
    *
    * Queries whose probe set holds no other vector produce no rows — the
    * documented LSH recall trade-off; [[labelNoiseFidelity]] measures the
    * resulting census error against the exact truth on a query sample.
    */
  def multiProbeTopKAgg(emb: DataFrame, numQueries: Int, k: Int,
                        planes: Int = 8, dim: Int = 64): DataFrame =
    multiProbeTopKAggImpl(emb, Some(numQueries), k, planes, dim)

  /** All-corpus form: EVERY vector is a query (the label-noise /
    * hubness / mutual-kNN serving shape). A dedicated overload, not an
    * `Int.MaxValue` sentinel — the sentinel silently excluded any
    * vec_id ≥ 2³¹−1 and baked the magic literal into the oracles.
    */
  def multiProbeTopKAggAll(emb: DataFrame, k: Int,
                           planes: Int = 8, dim: Int = 64): DataFrame =
    multiProbeTopKAggImpl(emb, None, k, planes, dim)

  private def multiProbeTopKAggImpl(emb: DataFrame, numQueries: Option[Int],
                                    k: Int, planes: Int, dim: Int): DataFrame = {
    import graft.functions.TopKAggregator
    val spark = emb.sparkSession
    import spark.implicits._
    val bucketed = withNorm(withLshBucket(emb, planes, dim))
    val querySide = numQueries.fold(bucketed)(n => bucketed.filter(col("vec_id") < n))
    val probes = querySide
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
      .withColumn("probe", explode(expr(
        s"concat(array(bucket), transform(sequence(0, ${planes - 1}), m -> bucket ^ shiftleft(CAST(1 AS BIGINT), m)))")))
      .drop("bucket")
    val scored = bucketed.join(probes, col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        (expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm"))).as("score"))
      .as[(Long, Long, Double)]
    scored
      .map { case (q, id, s) => (q, TopKAggregator.Scored(id, s)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKAggregator.topK(k).toColumn)
      .flatMap { case (q, top) => top.zipWithIndex.map { case (s, i) => (q, i + 1, s.id, s.score) } }
      .toDF("query_id", "rank", "neighbor_id", "cosine")
      .withColumn("rank", col("rank").cast("int"))
  }

  /** kNN majority-label vote: each query's neighbors' labels counted, the
    * winner is the highest count with ties to the LOWER label (the
    * max(struct(c, -label)) trick keeps the argmax order-independent).
    * Output: (vec_id, maj_label) — one row per query that had neighbors.
    */
  def labelMajorityVote(knn: DataFrame, emb: DataFrame): DataFrame =
    knn
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("c"),
        (-col("n_label")).cast("long").as("neg"))).as("b"))
      .select(col("query_id").as("vec_id"),
        (-col("b.neg")).cast("int").as("maj_label"))

  /** Label-noise census, SCALE form (the shipping deliverable): every
    * vector's 5-NN majority label vs its own, with the neighbor search
    * bucketed through [[multiProbeTopKAgg]] — no corpus broadcast, no n²
    * kernel; candidate volume is ~(planes+1)/2^planes of all-pairs and the
    * only shuffles are the bucket equi-join and the bounded top-k
    * aggregation. Per-label output: vector count, votes received (bucketed
    * coverage), disagreements, disagreement rate ×10⁴ over the covered set.
    *
    * The exact-truth error of this census is itself measured by
    * [[labelNoiseFidelity]] (the sim_recall_report convention: ship the
    * bucketed path, grade it against a sampled brute truth).
    */
  def labelNoiseCensusBucketed(emb: DataFrame, k: Int = 5,
                               planes: Int = 8, dim: Int = 64): DataFrame = {
    val vote = labelMajorityVote(
      multiProbeTopKAggAll(emb, k = k, planes, dim), emb)
    emb.join(vote, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("maj_label")).as("n_voted"),
        count(when(col("maj_label") =!= col("label"), lit(1))).as("n_disagree"))
      .select(col("label"), col("n_vecs"), col("n_voted"), col("n_disagree"),
        when(col("n_voted") === 0, lit(null).cast("long"))
          .otherwise(expr("n_disagree * 10000 div n_voted")).as("disagree_e4"))
      .orderBy(col("label"))
  }

  /** Truth grader for [[labelNoiseCensusBucketed]]: on a bounded query
    * sample (vec_id < numQueries — the broadcast side is the SAMPLE, never
    * the corpus) run BOTH the exact brute kNN vote and the bucketed vote,
    * and report per-label deltas: how often each method disagrees with the
    * stored label, and how often the two methods' majority labels agree
    * with each other. The e4 rates are integer-exact; uncovered sampled
    * queries (empty probe set) surface in n_sample − n_covered.
    */
  def labelNoiseFidelity(emb: DataFrame, numQueries: Int, k: Int = 5,
                         planes: Int = 8, dim: Int = 64): DataFrame = {
    val truthVote = labelMajorityVote(
        bruteForceTopKAgg(emb, numQueries, k), emb)
      .withColumnRenamed("maj_label", "truth_maj")
    val buckVote = labelMajorityVote(
        multiProbeTopKAgg(emb, numQueries, k, planes, dim), emb)
      .withColumnRenamed("maj_label", "bucketed_maj")
    emb.filter(col("vec_id") < numQueries)
      .join(truthVote, Seq("vec_id"))
      .join(buckVote, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_sample"),
        count(col("bucketed_maj")).as("n_covered"),
        count(when(col("truth_maj") =!= col("label"), lit(1))).as("n_truth_disagree"),
        count(when(col("bucketed_maj") =!= col("label"), lit(1))).as("n_bucketed_disagree"),
        count(when(col("bucketed_maj") === col("truth_maj"), lit(1))).as("n_maj_agree"))
      .select(col("label"), col("n_sample"), col("n_covered"),
        col("n_truth_disagree"), col("n_bucketed_disagree"), col("n_maj_agree"),
        expr("n_truth_disagree * 10000 div n_sample").as("truth_disagree_e4"),
        when(col("n_covered") === 0, lit(null).cast("long"))
          .otherwise(expr("n_maj_agree * 10000 div n_covered")).as("maj_agree_e4"))
      .orderBy(col("label"))
  }

  /** Schema of the persisted LSH index table: one row per vector with its
    * sign bucket and norm precomputed (what stays resident for search).
    */
  val lshIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("norm", DoubleType),
      StructField("bucket", LongType)))
  }

  private def lshIndexRows(emb: DataFrame, planes: Int, dim: Int): DataFrame =
    withNorm(withLshBucket(emb, planes, dim))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))

  /** Persisted-LSH index lifecycle — [[ivfIndexBuild]]'s sibling for the
    * hyperplane path: the bucket (and norm) are PURE per-row functions of
    * the vector, so building on one half and incrementally adding the
    * rest equals one full bucketing pass, and a search served from the
    * table matches the direct multi-probe query verbatim (shared oracle).
    * At 100 TB the table is the resident index (id, bucket, norm + the
    * vectors the reranker reads); adds are id-keyed upserts, no rebuild.
    */
  def lshIndexBuild(spark: SparkSession, embTrain: DataFrame,
                    table: graft.stages.MergeTable,
                    planes: Int = 8, dim: Int = 64): Unit =
    table.replace(lshIndexRows(embTrain, planes, dim))

  def lshIndexAdd(spark: SparkSession, embNew: DataFrame,
                  table: graft.stages.MergeTable,
                  planes: Int = 8, dim: Int = 64): Unit =
    table.upsert(lshIndexRows(embNew, planes, dim))

  /** Multi-probe top-k served FROM the persisted index: candidates come
    * off the table alone; `emb` supplies only the query vectors.
    */
  def lshIndexSearch(spark: SparkSession, emb: DataFrame,
                     table: graft.stages.MergeTable,
                     numQueries: Int, k: Int,
                     planes: Int = 8, dim: Int = 64): DataFrame = {
    val corpus = table.read(spark, lshIndexSchema)
    val queries = withNorm(withLshBucket(emb, planes, dim))
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
      .withColumn("probe", explode(expr(
        s"concat(array(bucket), transform(sequence(0, ${planes - 1}), m -> bucket ^ shiftleft(CAST(1 AS BIGINT), m)))")))
      .drop("bucket")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(queries, col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer.
    *
    * Determinism contract (what makes the oracle reproducible):
    *   - init: the first `k` vectors by id — no RNG;
    *   - fixed iteration count — no convergence test on floats;
    *   - assignment ties broken by centroid id;
    *   - centroid means are computed over SCALED INTEGER components
    *     (`floor(x·10⁶)` as BIGINT): integer sums are order-independent, so
    *     the partition/merge order of the aggregation cannot change a single
    *     bit, and the one final double division is deterministic everywhere.
    *     (A naive `avg(double)` would float-drift between engines/runs.)
    *
    * Scale: per iteration, the assignment pass is a crossJoin against the
    * broadcast k-row centroid table + one window keyed by vec_id, and the
    * update pass is a posexplode → groupBy(cell, pos) whose group count is
    * k×dim — map-side partial aggregation collapses each partition to that
    * many rows before the exchange. Empty cells keep their previous center.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    kmeansCentroidsLocal(emb, k, iters).toDF("c_id", "c")
  }

  /** Lloyd iterations with DRIVER-resident centroids (r17 optimization):
    * per iteration, ONE map-only nearest-cell assignment
    * ([[withNearestCent]] — the old form shuffled the n×k exploded
    * (v, sv) rows through a row_number window) and ONE bounded means
    * aggregate collected as k rows (the k-row collect replaces the k-row
    * broadcast the next iteration did anyway — same driver ceiling).
    * Bit-identical to the window form: seeds are the same first-k rows,
    * assignment scores the same graft_dot folds with the same
    * (score desc, c_id asc) tie-break, and the means are
    * order-independent scaled-integer sums (Σ floor(10⁶x) BIGINT), so no
    * partitioning or collection order can move a double.
    */
  private[ops] def kmeansCentroidsLocal(emb: DataFrame, k: Int,
                                        iters: Int): Seq[(Long, Seq[Double])] = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col("vec_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000) AS BIGINT))").as("sv"))
    var cents: Seq[(Long, Seq[Double])] = base.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    (1 to iters).foreach { _ =>
      val assigned = withNearestCent(base,
        cents.map(c => CentRow(c._1, c._2, 0.0)),
        "v", rowNormCol = None, storedNorm = false)
      // collect the k·dim (cell, pos, Σsv, n) grid directly — bounded —
      // and finish the mean + repack on the driver (one exchange fewer
      // than a second collect_list aggregation)
      val grid = assigned
        .select(col("c_id").as("cell"), posexplode(col("sv")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val means: Map[Long, Seq[Double]] = grid
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_._2).toSeq.map(t => t._3.toDouble / (1000000.0 * t._4.toDouble))
        }
      cents = cents.map { case (id, c) => (id, means.getOrElse(id, c)) }
    }
    cents
  }

  /** IVF ANN with a real (deterministic) k-means quantizer and multi-probe:
    * the corpus is assigned to its single nearest cell, but each QUERY
    * searches its `nprobe` nearest cells — the standard recall lever (a
    * query near a cell boundary still sees its neighbors across it) at
    * `nprobe×` the candidate cost, still a tiny fraction of the corpus.
    */
  def ivfKmeansTopK(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
                    centroids: Int = 8, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    val base = withNorm(emb)
    // k driver-resident Lloyd centroids (bounded at any corpus scale);
    // corpus assignment and query nprobe-ranking are map-only (r17 — the
    // old form shuffled the n×k exploded embedding rows through a window)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    val corpus = withNearestCent(base, cents, "embedding",
        rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id").as("cell"))
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        cents, nprobe, "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Filtered ANN — predicate-constrained vector search, the retrieval
    * shape production vector stores serve constantly ("nearest documents
    * WHERE lang = X"): top-k restricted to candidates matching a scalar
    * predicate, here `label = labelValue`. Strategy is SINGLE-STAGE
    * filtering on the shared IVF index (the Qdrant/Vespa design): the
    * quantizer is trained on the FULL corpus once — one index serves
    * every predicate — and the filter applies AT the inverted-list scan,
    * so each probe reads |cell ∩ predicate| candidates, never the cell
    * then a post-filter of k already-truncated hits (post-filtering
    * top-k is the classic filtered-search bug: selective predicates
    * empty the result). At 100 TB the label rides the cell-partitioned
    * index as a stored column and the predicate PUSHES into that scan
    * (one columnar filter, no second index); for very selective
    * predicates the planner flips to exact search over the filtered
    * corpus — which is precisely the brute truth this output's
    * `exact_hit` flags measure against, so the card prices the flip
    * point. Queries whose nprobe cells hold no matching vector emit no
    * rows (the documented IVF recall trade, now predicate-conditional).
    */
  def filteredIvfKmeansTopK(spark: SparkSession, emb: DataFrame,
                            labelValue: Int, numQueries: Int, k: Int,
                            centroids: Int = 8, iters: Int = 2,
                            nprobe: Int = 7): DataFrame = {
    val base = withNorm(emb)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    // the filter applies at the inverted-list scan: candidates are the
    // predicate-matching members of the probed cells; assignment and
    // nprobe-ranking are map-only (r17)
    val corpus = withNearestCent(base, cents, "embedding",
        rowNormCol = Some("norm"), storedNorm = false)
      .filter(col("label") === labelValue)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id").as("cell"))
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        cents, nprobe, "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val res = corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
    res.join(filteredTruth(emb, labelValue, numQueries, k),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  /** Filtered search on the QUANTIZED serve path — [[ivfPqTopK]]'s
    * memory rung with [[filteredIvfKmeansTopK]]'s predicate placement,
    * completing the filtered family across all three deployment shapes
    * (exact IVF, graph walk, and this compressed-codes serve). ONE PQ
    * index is trained over the whole corpus (per-label codebooks would
    * multiply index memory by |labels| and defeat the single-index
    * property); the label filter applies at the inverted-list scan, so
    * candidates are the predicate-matching members of the probed cells
    * scored by ADC on their reconstructions. Because quantization error
    * compounds with predicate thinning (the survivors' true ranks
    * scatter wider than the codes resolve), the coarse top-`rerank` per
    * query is exactly reranked against the true vectors — the
    * rung-serving convention ([[rqTopK]], [[oneBitTopK]]) at the same
    * bounded C·numQueries row cost. Graded against the exact
    * pre-filtered truth shared by the whole filtered family.
    */
  def filteredIvfPqTopK(spark: SparkSession, emb: DataFrame,
                        labelValue: Int, numQueries: Int, k: Int,
                        centroids: Int = 8, iters: Int = 2, nprobe: Int = 7,
                        m: Int = 8, ksub: Int = 16, dim: Int = 64,
                        rerank: Int = 32): DataFrame = {
    val base = withNorm(emb)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    val corpus = withPq(
        withNearestCent(base, cents, "embedding",
            rowNormCol = Some("norm"), storedNorm = false)
          .select(col("vec_id"), col("embedding"), col("c_id").as("cell")),
        m, ksub, dim)
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .filter(col("label") === labelValue)
      .select(col("vec_id"), col("cell"), col("pq_recon"), col("recon_norm"))
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        cents, nprobe, "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    // narrow-shuffle coarse (the rung-serving convention): the ADC rank
    // window carries (query_id, vec_id, crank) only; the ≤C survivors
    // rejoin both vector sides at the rerank
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("vec_id"))
    val coarse = corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_pq",
        expr(dotExpr("pq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val res = exactRerankTopK(coarse, emb, numQueries, k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
    res.join(filteredTruth(emb, labelValue, numQueries, k),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  /** Exact top-k over the predicate-filtered corpus — the pre-filter
    * strategy a selective predicate would run outright, and therefore
    * THE truth every filtered search grades against — as
    * (query_id, neighbor_id, _hit = 1) rows. Shared by the IVF and
    * graph filtered families so their recall numbers are comparable by
    * construction.
    */
  private def filteredTruth(emb: DataFrame, labelValue: Int,
                            numQueries: Int, k: Int): DataFrame = {
    val base = withNorm(emb)
    val fcand = base.filter(col("label") === labelValue)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val fq = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val wT = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    fcand.crossJoin(broadcast(fq))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wT))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), lit(1).as("_hit"))
  }

  /** Filtered graph-ANN — the filtered-DiskANN convention (Gollapudi et
    * al. 2023, "Filtered-DiskANN: Graph Algorithms for Approximate
    * Nearest Neighbor Search with Filters", WWW '23) applied to the
    * [[beamSearchTopK]] family: the predicate-constrained search walks
    * the UNFILTERED graph — non-matching nodes keep ROUTING (dropping
    * them from the frontier would disconnect the walk exactly when the
    * predicate is selective) — while every matching node the walk scores
    * is COLLECTED as a result candidate; top-k is taken over the
    * collected pool and graded against the exact top-k of the
    * predicate-filtered corpus (the pre-filter flip,
    * [[filteredIvfKmeansTopK]]'s truth). One graph serves every
    * predicate — the single-index property that makes filtered search
    * deployable — and the only extra serving cost is a label test on
    * rows the walk already scored (the label rides the score side as a
    * stored column, no extra join). Collecting EN ROUTE instead of
    * filtering the final beam is what makes a thin predicate workable: a
    * final-beam filter surfaces ~beam/|labels| matches, the en-route
    * pool holds every match the walk ever touched. The default beam is
    * measured off [[graphFilteredBeamReport]]'s curve.
    */
  def filteredGraphTopK(spark: SparkSession, emb: DataFrame,
                        labelValue: Int, numQueries: Int, k: Int,
                        degree: Int = 6, beam: Int = 8, rounds: Int = 6,
                        entries: Int = 8, centroids: Int = 0): DataFrame = {
    val pool = filteredPools(emb, labelValue, numQueries, degree, centroids,
      Seq(("", entries, beam)), rounds)
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    val res = pool.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("node").as("neighbor_id"), col("cosine"))
    res.join(filteredTruth(emb, labelValue, numQueries, k),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  /** The filtered walk — the Filtered-DiskANN search shape — of every
    * query, one walk arm per (method, entries, beam), over the
    * label-stitched graph: each arm's pool as (method, query_id, node,
    * cosine) rows.
    *
    * Each round expands TWO frontiers: the unfiltered routing beam
    * (exactly the plain walk's, so navigation toward the query never
    * degrades), and the top-`beam` MATCHED nodes collected so far, whose
    * neighbourhoods are where further matches cluster. A routing-only
    * walk converges to the query's top unfiltered neighbours and stalls
    * near recall ~0.8 on a 10%-selective predicate (measured): the k-th
    * best MATCH sits at global rank ~k/selectivity, outside the greedy
    * basin. The pool is bounded by rounds · |queries| · 2·beam·(degree+2)
    * rows before label thinning — frontier-sized, never corpus-sized.
    *
    * MULTI-ENTRY (the walk-side analogue of filtered IVF's widened
    * nprobe, and Filtered-DiskANN's filter-aware start points): a single
    * own-cell entry finds the query's top UNFILTERED neighbourhood, but
    * the k-th best match is spread across the query's top few cells,
    * beyond one cell's greedy basin (beam widening alone saturates
    * ~0.83). Round 0 scores every centroid node (the first ⌈√n⌉ ids, by
    * [[cellKnnGraph]]'s quantizer) and each arm opens at its `entries`
    * best; entries is the measured knob ([[graphFilteredBeamReport]]),
    * exactly as nprobe is for the IVF filtered family.
    */
  private def filteredPools(emb: DataFrame, labelValue: Int, numQueries: Int,
                            degree: Int, centroids: Int,
                            arms: Seq[(String, Int, Int)],
                            rounds: Int): DataFrame = {
    val (base, adj) = cellKnnGraph(emb, degree, centroids)
    val baseL = base.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val side = walkSide(
      baseL.select(col("vec_id").as("node"), col("embedding").as("n_emb"),
        col("norm").as("n_norm"), col("label").as("n_label")),
      adj.unionByName(labelStitchedAdjacency(baseL, degree)))
    val qs = collectQueries(graphQueries(base, numQueries))
    val nCents = math.ceil(math.sqrt(base.count().toDouble)).toLong
    val out = walk(IndexedSeq(side), qs.map(_._2),
      arms.map { case (_, e, b) => WalkArm(0, b, e) }.toIndexedSeq,
      _ => 0L until nCents, rounds, Some(labelValue))
    hitFrame(emb.sparkSession, Seq("method"),
      for (((a, q), hits) <- out.toSeq; h <- hits)
        yield Row(arms(a)._1, qs(q)._1, h.node, h.cosine))
  }

  /** Label-stitched adjacency (Filtered-DiskANN's StitchedVamana,
    * Gollapudi et al. WWW '23 — per-filter subgraph edges unioned into
    * one index): on top of the UNFILTERED routing edges, each node of
    * `baseL` (cell-assigned rows with their label) gets (a) its
    * top-`degree` same-label neighbours within its cell — so one found
    * match leads directly to the nearby matches, which is where the
    * remaining truths are — and (b) a per-label id-chain edge, keeping
    * every label class globally connected the way the plain chain keeps
    * the whole graph connected. Without these, a selective predicate's
    * walk has to reach each match through unfiltered territory and
    * recall plateaus (~0.83 measured at 10% selectivity, any beam); with
    * them the matched-pool frontier CRAWLS the label subgraph. Build cost
    * is per-(cell, label) candidates — Σ|cell ∩ label|² ≈
    * n^1.5/|labels| — cheaper than the unfiltered build; memory is
    * +degree edges per node, the same contract. One stitched graph
    * serves every label.
    */
  private def labelStitchedAdjacency(baseL: DataFrame, degree: Int): DataFrame = {
    // (cell, label) is the candidate grain: cellAdjacency over that key
    val labelCell = cellAdjacency(
      baseL.withColumn("cell", struct(col("cell"), col("label"))), degree)
    val wChain = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val labelChain = baseL
      .withColumn("nxt", lead(col("vec_id"), 1).over(wChain))
      .filter(col("nxt").isNotNull)
      .select(col("vec_id").as("src"), array(col("nxt")).as("dsts"))
    labelCell.unionByName(labelChain)
  }

  /** The filtered walk's tuning card — [[ivfNprobeReport]]'s filtered
    * arms translated to the graph family: every ENTRIES arm walks ONE
    * shared graph JOINTLY (keys (arm, query), the [[beamSweepOnGraph]]
    * shape) at the family's serving beam, each arm's entry set a
    * rank-prefix of ONE query-to-centroids ranking, and every arm graded
    * against the SAME predicate-filtered exact truth. Entries is the
    * knob that moves filtered recall (the beam saturates: a
    * 10%-selective predicate's top-k matches live across the query's
    * top FEW CELLS, not deeper in one cell), and the shipped
    * [[filteredGraphTopK]] default is read off this curve, not assumed.
    */
  def graphFilteredBeamReport(spark: SparkSession, emb: DataFrame,
                              labelValue: Int, numQueries: Int, k: Int,
                              degree: Int = 6,
                              arms: Seq[(Int, Int)] =
                                Seq((1, 8), (4, 16), (8, 32), (16, 64)),
                              rounds: Int = 6): DataFrame = {
    import spark.implicits._
    val named = arms.map { case (e, b) => (f"filtered_e$e%02d_b$b%03d", e, b) }
    val pool = filteredPools(emb, labelValue, numQueries, degree, 0, named, rounds)
    val wK = Window.partitionBy(col("method"), col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    val topk = pool
      .filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
    val truth = filteredTruth(emb, labelValue, numQueries, k)
      .select(col("query_id"), col("neighbor_id").as("node"))
      .localCheckpoint(true)
    val nTruth = truth.count()
    // a predicate matching no corpus row has no truth to grade against —
    // fail loudly naming the label (the ivfNprobeReport guard)
    require(nTruth > 0,
      s"graphFilteredBeamReport: label=$labelValue yields no filtered truth")
    val hits = topk.join(truth, Seq("query_id", "node"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    named.map(_._1).toDF("method").join(hits, Seq("method"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("method"), lit(nTruth).as("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / nTruth.toDouble).as("recall"))
      .orderBy(col("method"))
  }

  /** IVF-PQ: the production ANN composition (the FAISS `IVFx,PQy` shape)
    * — the deterministic-k-means coarse quantizer restricts each query to
    * its `nprobe` nearest cells ([[ivfKmeansTopK]]) while candidates are
    * scored on their PQ reconstruction ([[withPq]]) instead of the full
    * vector. Memory = codes only; compute = nprobe cells × ADC; the two
    * recall levers (nprobe, codebook size) compose independently. Output
    * contract matches [[sq8TopK]]/[[pqTopK]]: per-hit exact-truth flags
    * make the result its own recall report.
    */
  def ivfPqTopK(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
                centroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
                m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    val base = withNorm(emb)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    val corpus = withPq(
        withNearestCent(base, cents, "embedding",
            rowNormCol = Some("norm"), storedNorm = false)
          .select(col("vec_id"), col("embedding"), col("c_id").as("cell")),
        m, ksub, dim)
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
      .select(col("vec_id"), col("cell"), col("pq_recon"), col("recon_norm"))
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        cents, nprobe, "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("vec_id"))
    val hits = corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_pq",
        expr(dotExpr("pq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    hits
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_pq"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_pq"), col("exact_hit"))
  }

  /** Measured ANN recall: for every approximate index, the EXACT integer
    * count of (query, neighbor) pairs it shares with the brute-force
    * ground truth on the same query set — recall as a driver-checkable
    * query output rather than a spec-only assertion. The methods cover
    * both recall levers the engine exposes: probing (single- vs
    * multi-probe LSH; nprobe=1 vs nprobe=2 IVF) and quantization (SQ8,
    * PQ, and the IVF-PQ composition) — one table quantifies what each
    * extra probe buys and what each memory rung costs.
    *
    * All counts are integers and the one recall division is the final
    * double op, so the output is bit-stable across engines and
    * partitionings. The truth table is numQueries×k rows — collecting it
    * to a local relation is bounded at any corpus scale, keeps the
    * brute-force crossJoin from re-running once per method, and leaves no
    * cache behind (a cached DataFrame returned from here would pin
    * executor storage with no one responsible for releasing it).
    */
  /** One recall row per named method against the COLLECTED brute-truth
    * set (bounded numQueries·k rows — collected once so the truth lineage
    * never replays per method) — shared by [[recallReport]] and
    * [[beamWidthReport]].
    */
  /** Public face of [[truthHits]] for ad-hoc tuning cards (e.g. the PQ
    * m sweep): one recall row per named method against the shared
    * collected brute truth.
    */
  def truthHitsCard(spark: SparkSession, emb: DataFrame,
                    numQueries: Int, k: Int)
                   (methods: Seq[(String, DataFrame)]): DataFrame =
    truthHits(spark, emb, numQueries, k)(methods)

  private def truthHits(spark: SparkSession, emb: DataFrame,
                        numQueries: Int, k: Int)
                       (methods: Seq[(String, DataFrame)]): DataFrame = {
    val truthRows = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id")).collect().toSeq
    val truth = spark.createDataFrame(
      spark.sparkContext.parallelize(truthRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType))))
    val nTruth = numQueries.toLong * k
    def hits(method: String, approx: DataFrame): DataFrame =
      approx.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"),
          lit(nTruth).as("n_truth"),
          col("n_hits"),
          (col("n_hits").cast("double") / nTruth.toDouble).as("recall"))
    methods.map { case (m, df) => hits(m, df) }.reduce(_ unionByName _)
  }

  /** Beam-width tuning card: measured recall of the graph walk at each
    * beam width, same graph/degree/round budget — THE serving knob of
    * graph ANN (DiskANN's L, HNSW's ef): wider beams cost linearly per
    * query and buy recall; this card prices the curve so the knob is set
    * from data, not folklore. Two walk families share ONE ⌈√n⌉-cell
    * graph build (rebuilding the n^1.5 index per walk parameter was the
    * r14 perf defect): `beam_*` rungs walk scoring exact vectors,
    * `graphpq_*` rungs walk scoring PQ reconstructions with an exact
    * final-beam rerank — the DiskANN composition, whose own lever is a
    * WIDER code-scored beam (search lists 50–100) until the rerank
    * recovers recall; the card measures where that happens.
    */
  def beamWidthReport(spark: SparkSession, emb: DataFrame,
                      numQueries: Int = 16, k: Int = 3,
                      degree: Int = 6, rounds: Int = 6,
                      widths: Seq[Int] = Seq(2, 8, 24),
                      pqWidths: Seq[Int] = Seq(24, 48, 96),
                      m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    val (base, adj) = cellKnnGraph(emb, degree, centroids = 0)
    val recon =
      if (pqWidths.isEmpty) null else pqReconSide(emb, m, ksub, dim)
    val arms = widths.map(w => (f"beam_$w%02d", "x", w)) ++
      pqWidths.map(w => (f"graphpq_$w%02d", "q", w))
    val swept = beamSweepOnGraph(spark, base, adj, recon, arms,
      numQueries, k, rounds)
    truthHits(spark, emb, numQueries, k)(arms.map { case (name, _, _) =>
      name -> swept.filter(col("method") === name) })
  }

  /** Rerank-candidates tuning card — the SECOND serving knob of the
    * quantization rungs, the sibling of [[beamWidthReport]]'s beam knob:
    * every rerank-family rung (one-bit, matryoshka, RQ) coarse-ranks on
    * its compressed form and exactly re-scores the top C survivors, so C
    * trades cold full-vector reads per query against recall. Each
    * family's coarse rank is computed ONCE (checkpointed at its largest
    * C) and every C arm is a prefix of that one ranking — the
    * [[beamSweepOnGraph]] share-the-expensive-stage convention; the
    * rerank stages are C·numQueries-row joins.
    */
  def rerankWidthReport(spark: SparkSession, emb: DataFrame,
                        numQueries: Int = 16, k: Int = 3,
                        onebitCs: Seq[Int] = Seq(4, 12, 32),
                        matryCs: Seq[Int] = Seq(8, 32),
                        rqCs: Seq[Int] = Seq(32, 128)): DataFrame = {
    val ob = oneBitCoarse(emb, numQueries)
      .filter(col("crank") <= onebitCs.max)
      .select(col("query_id"), col("vec_id"), col("crank"))
      .localCheckpoint(true)
    val ma = matryoshkaCoarse(emb, numQueries, prefixDims = 16)
      .filter(col("crank") <= matryCs.max)
      .select(col("query_id"), col("vec_id"), col("crank"))
      .localCheckpoint(true)
    val rq = rqCoarse(emb, numQueries, k1 = 16, k2 = 16, dim = 64, iters = 2)
      .filter(col("crank") <= rqCs.max)
      .select(col("query_id"), col("vec_id"), col("crank"))
      .localCheckpoint(true)
    def arm(coarse: DataFrame, c: Int): DataFrame =
      exactRerankTopK(coarse.filter(col("crank") <= c)
        .select(col("query_id"), col("vec_id")), emb, numQueries, k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
    truthHits(spark, emb, numQueries, k)(
      onebitCs.map(c => f"onebit_c$c%03d" -> arm(ob, c)) ++
      matryCs.map(c => f"matry_c$c%03d" -> arm(ma, c)) ++
      rqCs.map(c => f"rq_c$c%03d" -> arm(rq, c)))
  }

  /** nprobe tuning card — the THIRD serving knob next to the graph walk's
    * beam ([[beamWidthReport]]) and the rerank rungs' candidate count
    * ([[rerankWidthReport]]): an IVF query probes its `nprobe` nearest
    * cells, trading candidate-scan cost linearly for recall. The quantizer
    * is trained ONCE and the corpus/query assignments are materialized
    * once (exactly what the persisted IVF index is — at 100 TB this card
    * reads [[ivfIndexBuild]]'s tables instead); every arm is a prefix of
    * the one query-side cell ranking, so the card costs one assignment
    * pass + |arms| cell-joined scoring stages, never |arms| Lloyd runs.
    * The top arm probes ALL cells — the exact-scan ceiling (recall 1.0)
    * that prices what the last probe is worth.
    *
    * With `filteredLabel` set, the card grows `filtered_nprobe_*` arms:
    * the SAME query-side cell ranking, the corpus side thinned to the
    * predicate (the single-stage filtered scan of
    * [[filteredIvfKmeansTopK]]), each arm graded against the exact
    * top-k over the predicate-filtered corpus — so predicate-constrained
    * recall gets its own measured curve, not the unfiltered family's.
    * Predicate thinning shifts the whole curve right (each probe yields
    * |cell ∩ predicate| candidates), which is why the filtered default
    * must be read off THIS curve; the all-cells filtered arm is the
    * pre-filter-exact flip (recall 1.0) the strategy trades against.
    */
  def ivfNprobeReport(spark: SparkSession, emb: DataFrame,
                      numQueries: Int = 16, k: Int = 3,
                      centroids: Int = 8, iters: Int = 2,
                      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                      filteredLabel: Option[Int] = None,
                      filteredNprobes: Seq[Int] = Nil): DataFrame = {
    val base = withNorm(emb)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    // the corpus assignment IS the IVF index — materialize it once so the
    // arms share one map-only assignment pass (the persisted-index
    // stand-in); with filtered arms, the label rides along as the stored
    // filter column
    val corpusCols = Seq(col("vec_id"), col("embedding"), col("norm"),
      col("c_id").as("cell")) ++ filteredLabel.map(_ => col("label"))
    val corpus = withNearestCent(base, cents, "embedding",
        rowNormCol = Some("norm"), storedNorm = false)
      .select(corpusCols: _*)
      .localCheckpoint(true)
    // one query-side cell ranking at the overall max nprobe; each arm
    // (filtered or not) is a prefix
    val maxProbe = (nprobes ++ filteredNprobes).max
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        cents, maxProbe, "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"),
        col("_r").as("probe_rank"))
      .localCheckpoint(true)
    def arm(w: Int, side: DataFrame): DataFrame = {
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      side.join(queries.filter(col("probe_rank") <= w), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
    }
    val unfiltered = truthHits(spark, emb, numQueries, k)(
      nprobes.map(w => f"nprobe_$w%02d" -> arm(w, corpus)))
    val withFiltered = filteredLabel.fold(unfiltered) { lv =>
      val fcorpus = corpus.filter(col("label") === lv)
      // filtered truth = exact top-k over the predicate-filtered corpus
      // (what the pre-filter flip would return); bounded collect of
      // ≤ numQueries·k rows, same shape as truthHits' shared truth
      val fq = base.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("norm").as("q_norm"))
      val wT = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val fTruthRows = base.filter(col("label") === lv)
        .select(col("vec_id"), col("embedding"), col("norm"))
        .crossJoin(broadcast(fq))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
        .withColumn("rank", row_number().over(wT))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .collect().toSeq
      val fTruth = spark.createDataFrame(
        spark.sparkContext.parallelize(fTruthRows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("neighbor_id",
            org.apache.spark.sql.types.LongType))))
      val nFTruth = fTruthRows.size.toLong
      // a predicate matching zero corpus rows would make every filtered
      // arm 0/0 — fail loudly naming the label instead of emitting NaN
      require(nFTruth > 0,
        s"ivfNprobeReport: filteredLabel=$lv matches no corpus row within " +
          s"the first $numQueries queries' reach — no filtered truth to grade against")
      val fRows = filteredNprobes.map { w =>
        arm(w, fcorpus)
          .join(fTruth, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(f"filtered_nprobe_$w%02d").as("method"),
            lit(nFTruth).as("n_truth"), col("n_hits"),
            (col("n_hits").cast("double") / nFTruth.toDouble).as("recall"))
      }
      (unfiltered +: fRows).reduce(_ unionByName _)
    }
    withFiltered
  }

  /** Matryoshka prefix-dimension sweep — the family's OWN sizing knob
    * (the rerank card prices its C; this prices the d that matryoshka
    * training exists to provide): arms at prefix dims 8/16/32 coarse-rank
    * on d-dim prefixes (memory d/64 of full vectors resident) with the
    * SAME exact-rerank width, graded against one shared brute truth. The
    * whole point of MRL embeddings is choosing d from a measured curve
    * instead of shipping the full vector — this card is that curve.
    */
  def matryoshkaDimReport(spark: SparkSession, emb: DataFrame,
                          numQueries: Int, k: Int,
                          dims: Seq[Int] = Seq(8, 16, 32),
                          candidates: Int = 32): DataFrame = {
    import spark.implicits._
    val arms = dims.map { d =>
      val surv = matryoshkaCoarse(emb, numQueries, d)
        .filter(col("crank") <= candidates)
        .select(col("query_id"), col("vec_id"))
      f"matry_d$d%02d" -> exactRerankTopK(surv, emb, numQueries, k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
    }
    val census = dims.map(d => (f"matry_d$d%02d", d.toLong))
      .toDF("method", "prefix_dims")
    census.join(truthHitsCard(spark, emb, numQueries, k)(arms), Seq("method"))
      .select(col("method"), col("prefix_dims"), col("n_truth"),
        col("n_hits"), col("recall"))
      .orderBy(col("method"))
  }

  /** Cell-count sweep for the GRAPH index — the build-sizing knob the
    * ⌈√n⌉ rule fixes by fiat, priced from data (the graph sibling of
    * [[ivfKReport]]): arms at ⌈√n⌉/2, ⌈√n⌉ and 2·⌈√n⌉ cells each build
    * their own graph (cell count is a build knob — nothing shareable
    * across arms beyond the input scan, the k-report convention), walk
    * it with identical (degree, beam, rounds), and report measured
    * recall against ONE shared brute truth next to the measured build
    * cost `build_pairs` = Σ|cell|·(|cell|−1) — the exact candidate-join
    * row count, the n^1.5 term the √n rule bounds. Fewer cells buy
    * recall quadratically in build cost (denser candidate pools, better
    * edges); more cells cheapen the build but starve the per-cell kNN.
    * The card shows where the knee sits so ⌈√n⌉ is a measured choice.
    */
  def graphCellsReport(spark: SparkSession, emb: DataFrame,
                       numQueries: Int, k: Int,
                       degree: Int = 6, beam: Int = 8,
                       rounds: Int = 6): DataFrame = {
    import spark.implicits._
    val n = emb.count()
    val c0 = math.ceil(math.sqrt(n.toDouble)).toInt
    val arms = Seq(("cells_half", math.ceil(c0 / 2.0).toInt),
      ("cells_sqrt", c0), ("cells_double", 2 * c0))
    val walks = arms.map { case (name, nc) =>
      val (base, adj) = cellKnnGraph(emb, degree, nc)
      // the build-cost census: candidate-join rows actually paid
      val pairs = base.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
        .agg(sum(expr("cn * (cn - 1)")).cast("long")).collect()(0).getLong(0)
      // walk WITHOUT the per-arm truth join: the card grades every arm
      // against truthHitsCard's ONE shared truth below
      val hits = beamTopKOnly(exactGraphWalk(base, adj, numQueries, beam, rounds), k)
        .select(col("query_id"), col("neighbor_id"))
      (name, nc.toLong, pairs, hits)
    }
    val census = walks.map { case (m, nc, p, _) => (m, nc, p) }
      .toDF("method", "cells", "build_pairs")
    val card = truthHitsCard(spark, emb, numQueries, k)(
      walks.map { case (m, _, _, w) => m -> w })
    census.join(card, Seq("method"))
      .select(col("method"), col("cells"), col("build_pairs"),
        col("n_truth"), col("n_hits"), col("recall"))
      .orderBy(col("method"))
  }

  /** k sweep card — the quantizer-SIZING knob (how many cells should the
    * IVF have), the sibling of [[ivfNprobeReport]]'s serving knob: per
    * candidate k, train the deterministic Lloyd quantizer and measure
    * mean assignment cosine (floor(10⁴·cos) integer sums, sign-split
    * mean — the same metric [[graphIndexStalenessCensus]] grades with,
    * so sizing and staleness read the same scale) plus the max cell
    * population (the probe-cost tail). Each arm's Lloyd run IS the
    * priced cost — k is a training-time knob, nothing shareable across
    * arms beyond the input scan. Elbow reading: mean cosine rises with
    * k, the knee is where another doubling stops paying.
    */
  def ivfKReport(spark: SparkSession, emb: DataFrame,
                 ks: Seq[Int] = Seq(2, 4, 8, 16), iters: Int = 2): DataFrame = {
    val base = withNorm(emb)
    def arm(k: Int): DataFrame = {
      val cents = kmeansCentroidsLocal(emb, k, iters)
        .map(c => CentRow(c._1, c._2, 0.0))
      val assigned = withNearestCent(base, cents, "embedding",
          rowNormCol = Some("norm"), storedNorm = false)
        .select(col("vec_id"), col("c_id").as("cell"),
          expr("CAST(floor(10000 * _c_cos) AS BIGINT)").as("cos_e4"))
      val cells = assigned.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
        .agg(max(col("cn")).as("max_cell"))
      assigned
        .agg(count(lit(1)).as("n_vectors"), sum(col("cos_e4")).as("cs"))
        .crossJoin(cells)
        .select(lit(k.toLong).as("k"), col("n_vectors"),
          expr("""CAST(CASE WHEN cs < 0 THEN -((-cs) div n_vectors)
                 |     ELSE cs div n_vectors END AS BIGINT)""".stripMargin)
            .as("mean_cos_e4"),
          col("max_cell"))
    }
    ks.map(arm).reduce(_ unionByName _).orderBy(col("k"))
  }

  /** Per-label centroid drift census — the embedding-version QA check a
    * re-embedding pipeline runs before swapping models/checkpoints: split
    * the corpus (even/odd ids stand in for old/new batches), compare each
    * label's centroid across the halves by cosine. Centroids are exact
    * scaled-integer means (Σ floor(10⁶x) div n — order-independent
    * BIGINT sums, one truncating div), so the three final IEEE ops
    * (sqrt·sqrt, one divide) are bit-stable cross-engine. A healthy
    * corpus reads ~1.0 everywhere; a label whose halves disagree is the
    * drift signal. One posexplode aggregate — k·dim·2 group rows.
    */
  def centroidDriftCensus(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val sums = emb.select(col("label"), (col("vec_id") % 2).as("parity"),
        posexplode(expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000) AS BIGINT))"))
          .as(Seq("pos", "sv")))
      .groupBy(col("label"), col("parity"), col("pos"))
      .agg(sum(col("sv")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "CAST(CASE WHEN s < 0 THEN -((-s) div n) ELSE s div n END AS BIGINT)"))
      .groupBy(col("label"), col("parity"))
      .agg(max(col("n")).as("n"),
        expr("transform(sort_array(collect_list(struct(pos, m))), t -> CAST(t.m AS DOUBLE))")
          .as("mv"))
    val even = sums.filter(col("parity") === 0)
      .select(col("label"), col("n").as("n_even"), col("mv").as("me"))
    val odd = sums.filter(col("parity") === 1)
      .select(col("label"), col("n").as("n_odd"), col("mv").as("mo"))
    even.join(odd, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        (expr(dotExpr("me", "mo")) /
          (expr(s"sqrt(${dotExpr("me", "me")})") * expr(s"sqrt(${dotExpr("mo", "mo")})")))
          .as("drift_cos"))
  }

  /** THE one ladder: every approximate method the engine ships, priced
    * in one card against the same collected brute truth — probing
    * (single/multi-probe LSH, nprobe 1 vs 2 IVF), quantization (SQ8,
    * matryoshka, PQ, IVF-PQ, RQ, one-bit) and both graph walks (exact-
    * scored and the DiskANN PQ-scored composition, riding ONE shared
    * graph build through [[beamSweepOnGraph]]). Each rung runs at its
    * shipping defaults, so the card prices the configurations users
    * actually get.
    */
  def recallReport(spark: SparkSession, emb: DataFrame,
                   numQueries: Int = 16, k: Int = 3): DataFrame = {
    val (base, adj) = cellKnnGraph(emb, degree = 6, centroids = 0)
    val swept = beamSweepOnGraph(spark, base, adj, pqReconSide(emb),
      Seq(("beam_graph", "x", 8), ("graph_pq", "q", 96)),
      numQueries, k, rounds = 6)
    truthHits(spark, emb, numQueries, k)(Seq(
      "beam_graph" -> swept.filter(col("method") === "beam_graph"),
      "graph_pq" -> swept.filter(col("method") === "graph_pq"),
      "ivf_kmeans_nprobe2" ->
        ivfKmeansTopK(spark, emb, numQueries, k, centroids = 8, iters = 2, nprobe = 2),
      "ivf_nprobe1" -> ivfTopK(spark, emb, numQueries, k),
      "ivf_pq" -> ivfPqTopK(spark, emb, numQueries, k),
      "lsh_multiprobe" -> lshMultiProbeTopK(spark, emb, numQueries, k),
      "lsh_single" -> lshTopK(spark, emb, numQueries, k),
      "matryoshka" -> matryoshkaTopK(emb, numQueries, k,
        prefixDims = 16, candidates = 32),
      "onebit" -> oneBitTopK(emb, numQueries, k, candidates = 12),
      "pq" -> pqTopK(emb, numQueries, k),
      "rq" -> rqTopK(emb, numQueries, k, candidates = 128),
      "sq8" -> sq8TopK(emb, numQueries, k)))
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    * (`bandsOfPlanes` bands, each `planesPerBand` sign bits; candidates match
    * on any whole band) verified by exact cosine ≥ tau.
    */
  def embeddingNearDupPairs(spark: SparkSession, emb: DataFrame, tau: Double,
                            bandsOfPlanes: Int = 2, planesPerBand: Int = 12,
                            dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // per-row band keys (zero shuffles); posexplode position == band index
    val bits = emb.select(col("vec_id"),
      posexplode(expr(s"graft_lsh_bands(embedding, $bandsOfPlanes, $planesPerBand, $dim)"))
        .as(Seq("band", "band_key")))
    val cand = bits.as("a")
      .join(bits.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val vecs = withNorm(emb).select(col("vec_id"), col("embedding"), col("norm"))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
        col("norm").as("n_a")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
        col("norm").as("n_b")), Seq("vec_b"))
      .withColumn("cosine", expr(dotExpr("e_a", "e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Persisted IVF index: build / extend / serve as three separate moments
    * — the index-maintenance story a 100 TB ANN deployment actually runs,
    * where training the quantizer is a rare heavy job and ingest is a
    * steady stream of new vectors that must NOT retrain it.
    *
    *   - [[ivfIndexBuild]]: train the deterministic k-means quantizer on
    *     the initial corpus and persist BOTH tables — `centroids(c_id, c)`
    *     and `assignments(vec_id, cell)` — as versioned [[MergeTable]]s
    *     (crash-safe pointer-flip commits, time travel for index audits).
    *   - [[ivfIndexAdd]]: assign a NEW batch against the FROZEN persisted
    *     centroids (one broadcast of k rows, no shuffle of the batch
    *     beyond the per-vector window) and upsert the assignments —
    *     incremental, idempotent on replay (same ids → same cells).
    *   - [[ivfIndexSearch]]: serve nprobe-bounded top-k from the persisted
    *     tables alone — no training lineage in the query plan.
    *
    * Because assignment against the final centroids is a pure function of
    * (vector, centroids), build+add assignments equal a single-pass
    * assignment of the full corpus — which is what the SQL oracle mirrors.
    * Doubles round-trip parquet bit-exactly, so served cosines
    * hash-compare with the oracle.
    */
  val centroidSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))

  /** The index stores the VECTORS, cell-assigned — like a real IVF
    * inverted list — so the serve path never joins back to the source
    * corpus: candidates, embeddings, and norms all come off the index
    * table alone.
    */
  val assignSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("norm",
        org.apache.spark.sql.types.DoubleType)))

  /** Nearest persisted cell per vector (cosine score, ties to lower c_id)
    * — the one assignment definition build, add, and the oracle share.
    */
  private def assignToCentroids(emb: DataFrame, cents: DataFrame): DataFrame = {
    val base = withNorm(emb)
    // bounded collect of the centroid table (the rows the old path
    // broadcast), then a map-only argmax (r17)
    val centRows = collectCentRows(cents, "c_id", "c", None)
    withNearestCent(base, centRows, "embedding",
        rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id"), col("c_id").as("cell"), col("embedding"), col("norm"))
  }

  def ivfIndexBuild(spark: SparkSession, embTrain: DataFrame,
                    centroidTable: graft.stages.MergeTable,
                    assignTable: graft.stages.MergeTable,
                    centroids: Int, iters: Int): Unit = {
    val cents = kmeansCentroids(embTrain, centroids, iters).cache()
    centroidTable.replace(cents)
    assignTable.replace(assignToCentroids(embTrain, cents))
  }

  def ivfIndexAdd(spark: SparkSession, embNew: DataFrame,
                  centroidTable: graft.stages.MergeTable,
                  assignTable: graft.stages.MergeTable): Unit = {
    val cents = centroidTable.read(spark, centroidSchema)
    assignTable.upsert(assignToCentroids(embNew, cents))
  }

  def ivfIndexSearch(spark: SparkSession, emb: DataFrame,
                     centroidTable: graft.stages.MergeTable,
                     assignTable: graft.stages.MergeTable,
                     numQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val cents = centroidTable.read(spark, centroidSchema)
    // candidates come off the index table ALONE — `emb` supplies only the
    // query vectors (in production the query side is external anyway)
    val corpus = assignTable.read(spark, assignSchema)
    val base = withNorm(emb)
    val queries = withCentRanks(base.filter(col("vec_id") < numQueries),
        collectCentRows(cents, "c_id", "c", None), nprobe,
        "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Index-pair coherence census for the IVF family —
    * [[rqIndexCoherenceCensus]]'s convention applied to
    * [[ivfIndexBuild]]'s two replaces: a crash between the centroid
    * replace and the assignment replace leaves FRESH centroids over
    * STALE cell assignments, and every probe would walk the wrong
    * inverted lists silently. The probe re-derives content: assignment
    * is a pure function of (vector, frozen centroids), and the assign
    * table STORES each vector, so a sampled re-assignment of the stored
    * embeddings against the CURRENT centroid table must reproduce the
    * stored cells exactly — any difference proves the pair desynced.
    * Unlike the PQ/RQ censuses this one needs NO source corpus at all:
    * probe and repair both run off the index's own tables. One row:
    * codebook_rows (centroids), code_rows (assignments), checked_rows,
    * mismatched_rows, rebuild_recommended. Scale shape: centroids are
    * the bounded broadcast the serve path already does; the probe costs
    * one assignment pass over code_rows/sampleMod stored vectors.
    */
  def ivfIndexCoherenceCensus(spark: SparkSession,
                              centroidTable: graft.stages.MergeTable,
                              assignTable: graft.stages.MergeTable,
                              sampleMod: Int = 8): DataFrame = {
    import spark.implicits._
    val cents = centroidTable.read(spark, centroidSchema)
    val centRows = cents.count()
    val stored = assignTable.read(spark, assignSchema).localCheckpoint(true)
    val codeRows = stored.count()
    val sample = stored.filter(col("vec_id") % sampleMod === 0)
    val expected = assignToCentroids(
        sample.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("cell").as("e_cell"))
    val probe = sample.select(col("vec_id"), col("cell"))
      .join(expected, Seq("vec_id"), "left")
      .select(count(lit(1)).as("checked"),
        sum(when(col("e_cell").isNull || col("cell") =!= col("e_cell"), 1L)
          .otherwise(0L)).as("mismatched"))
      .collect()(0)
    val (checked, mismatched) = (probe.getLong(0), probe.getLong(1))
    Seq((centRows, codeRows, checked, mismatched, mismatched > 0L))
      .toDF("codebook_rows", "code_rows", "checked_rows", "mismatched_rows",
        "rebuild_recommended")
  }

  /** Re-assign the whole assign table against the current centroids iff
    * [[ivfIndexCoherenceCensus]] recommends it, returning the census row
    * the trigger fired on (trigger == census predicate, the convention).
    * The repair reads nothing but the index's own tables: stored vectors
    * re-assigned against the current centroid table.
    */
  def ivfIndexReconcileWithCensus(spark: SparkSession,
                                  centroidTable: graft.stages.MergeTable,
                                  assignTable: graft.stages.MergeTable,
                                  sampleMod: Int = 8)
      : (org.apache.spark.sql.Row, Boolean) = {
    val census = ivfIndexCoherenceCensus(spark, centroidTable, assignTable,
      sampleMod).collect()(0)
    val rec = census.getBoolean(4)
    if (rec) {
      val cents = centroidTable.read(spark, centroidSchema)
      val stored = assignTable.read(spark, assignSchema)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      assignTable.replace(assignToCentroids(stored, cents))
    }
    (census, rec)
  }

  /** Persisted kNN-GRAPH index — [[beamSearchTopK]]'s index artifacts as
    * versioned [[graft.stages.MergeTable]]s, the third index family to
    * get the build / extend / serve lifecycle (after
    * [[ivfIndexBuild]] and the inverted text index). At 100 TB the graph
    * build only amortizes if it persists; a per-query rebuild would
    * dominate every search.
    *
    *   - [[graphIndexBuild]]: freeze the quantizer (vectors under an ID
    *     BOUND — the [[ivfIndexBuild]] fixture convention), persist the
    *     cell-assigned node table and the per-src adjacency rows
    *     (`src, dsts: array` — ONE row per node, so an upsert keyed on
    *     src replaces a node's whole neighborhood atomically).
    *   - [[graphIndexAdd]]: assign the new batch against the FROZEN
    *     centroids, upsert the nodes, and re-derive adjacency for the
    *     TOUCHED CELLS only — new nodes can displace old neighbors, so
    *     correctness requires refreshing every src in an ingesting cell,
    *     and nothing outside one (delta-sized: Σ|touched cell|²).
    *   - [[graphIndexSearch]]: serve the beam search from the three
    *     tables alone. Chain edges (the connectivity fallback) are
    *     DERIVED from the node-id set at serve time, never persisted —
    *     a later insert of id+1 would otherwise invalidate id's stored
    *     row.
    *
    * Because assignment is a pure function of (vector, frozen centroids)
    * and each src's adjacency is a pure function of its cell's final
    * membership, build + adds == one from-scratch build over the union —
    * which is what the SQL oracle mirrors (same-rounds beam search over
    * the full corpus with the same frozen quantizer).
    */
  val graphAdjSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dsts",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))

  /** Index metadata — the build's structural parameters persisted WITH
    * the index (the frozen-quantizer contract made explicit): `degree`
    * and `centroid_id_bound` are written once at build time and read
    * back by add/search/maintain, so a caller can no longer hand
    * [[graphIndexAdd]] a degree that disagrees with the build's and
    * silently produce a mixed-degree index (touched cells refreshed at
    * one degree, untouched cells keeping another — the build+adds ==
    * from-scratch invariant would break with no error).
    */
  val graphMetaSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType)))

  private def writeGraphMeta(metaTable: graft.stages.MergeTable,
                             spark: SparkSession,
                             degree: Int, centroidIdBound: Long): Unit = {
    import spark.implicits._
    metaTable.replace(Seq(
      ("degree", degree.toLong),
      ("centroid_id_bound", centroidIdBound)).toDF("key", "value"))
  }

  private def readGraphMeta(spark: SparkSession,
                            metaTable: graft.stages.MergeTable): Map[String, Long] = {
    val m = metaTable.read(spark, graphMetaSchema).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(m.contains("degree") && m.contains("centroid_id_bound"),
      s"graph index metadata incomplete: $m — was the index built?")
    m
  }

  /** Per-src within-cell top-`degree` adjacency rows over cell-assigned
    * nodes — the one edge definition build and add share. Isolated cells
    * (single member) simply emit no row. */
  private def cellAdjacency(nodes: DataFrame, degree: Int): DataFrame = {
    val a = nodes.select(col("vec_id").as("src"), col("embedding").as("s_emb"),
      col("norm").as("s_norm"), col("cell"))
    val b = nodes.select(col("vec_id").as("dst"), col("embedding").as("d_emb"),
      col("norm").as("d_norm"), col("cell"))
    val wG = Window.partitionBy(col("src")).orderBy(col("ecos").desc, col("dst"))
    a.join(b, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .withColumn("ecos",
        expr(dotExpr("s_emb", "d_emb")) / (col("s_norm") * col("d_norm")))
      .withColumn("grank", row_number().over(wG))
      .filter(col("grank") <= degree)
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
  }

  def graphIndexBuild(spark: SparkSession, embTrain: DataFrame,
                      centroidTable: graft.stages.MergeTable,
                      nodeTable: graft.stages.MergeTable,
                      adjTable: graft.stages.MergeTable,
                      metaTable: graft.stages.MergeTable,
                      centroidIdBound: Int, degree: Int): Unit = {
    val cents = embTrain.filter(col("vec_id") < centroidIdBound)
      .select(col("vec_id").as("c_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("c"))
    centroidTable.replace(cents)
    nodeTable.replace(assignToCentroids(embTrain, cents))
    val nodes = nodeTable.read(spark, assignSchema)
    adjTable.replace(cellAdjacency(nodes, degree))
    writeGraphMeta(metaTable, spark, degree, centroidIdBound.toLong)
  }

  /** Incremental add — `degree` comes from the persisted metadata, never
    * from the caller (a mismatched per-call degree silently yielded a
    * mixed-degree index before r15). */
  def graphIndexAdd(spark: SparkSession, embNew: DataFrame,
                    centroidTable: graft.stages.MergeTable,
                    nodeTable: graft.stages.MergeTable,
                    adjTable: graft.stages.MergeTable,
                    metaTable: graft.stages.MergeTable): Unit = {
    val degree = readGraphMeta(spark, metaTable)("degree").toInt
    val cents = centroidTable.read(spark, centroidSchema)
    val newAssigned = assignToCentroids(embNew, cents).localCheckpoint(true)
    nodeTable.upsert(newAssigned)
    // adjacency refresh is cell-local: only cells the batch lands in can
    // have displaced neighbors; every src in those cells is re-derived
    // against the cell's NEW membership, srcs elsewhere keep their rows
    val touched = newAssigned.select(col("cell")).distinct()
    val cellNodes = nodeTable.read(spark, assignSchema)
      .join(touched, Seq("cell"), "left_semi")
    adjTable.upsert(cellAdjacency(cellNodes, degree))
  }

  /** Index maintenance — the OPTIMIZE story applied to the graph index.
    * The quantizer is FROZEN at build time, so cells grow without bound
    * as adds accumulate and the touched-cell refresh join (Σ|cell|²)
    * creeps back toward the quadratic the ⌈√n⌉ rule exists to prevent —
    * the same failure class one level up. When the largest cell exceeds
    * 2·⌈√n⌉ (≈ twice the balanced expectation), re-quantize: new
    * centroids = the current node set under a fresh ⌈√n⌉ id bound,
    * every node re-assigned, adjacency re-derived at the stored degree,
    * metadata updated — exactly a from-scratch build over the current
    * corpus (which is what the oracle checks), as versioned MergeTable
    * replaces. Returns true iff a rebuild ran; under the threshold the
    * index is left untouched (cheap no-op: one count + one max
    * aggregate over the node table).
    */
  def graphIndexMaintain(spark: SparkSession,
                         centroidTable: graft.stages.MergeTable,
                         nodeTable: graft.stages.MergeTable,
                         adjTable: graft.stages.MergeTable,
                         metaTable: graft.stages.MergeTable): Boolean = {
    val degree = readGraphMeta(spark, metaTable)("degree").toInt
    val nodes = nodeTable.read(spark, assignSchema).localCheckpoint(true)
    val n = nodes.count()
    if (n == 0L) return false
    val bound = math.ceil(math.sqrt(n.toDouble)).toLong
    val maxCell = nodes.groupBy(col("cell"))
      .agg(count(lit(1)).as("c")).agg(max(col("c"))).head.getLong(0)
    if (maxCell <= 2L * bound) return false
    val cents = nodes.filter(col("vec_id") < bound)
      .select(col("vec_id").as("c_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("c"))
    centroidTable.replace(cents)
    nodeTable.replace(
      assignToCentroids(nodes.select(col("vec_id"), col("embedding")), cents))
    adjTable.replace(
      cellAdjacency(nodeTable.read(spark, assignSchema), degree))
    writeGraphMeta(metaTable, spark, degree, bound)
    true
  }

  /** Index staleness census — the monitoring card that tells an
    * operator WHEN to run [[graphIndexMaintain]], priced from the index
    * itself: one row comparing the FROZEN quantizer's state (cells,
    * max/mean population, mean assignment cosine at 1e4) against a
    * hypothetical FRESH ⌈√n⌉ re-quantization of the same node set —
    * how overfull the cells have grown, and how much assignment quality
    * the staleness costs. `rebuild_recommended` is exactly
    * [[graphIndexMaintain]]'s trigger predicate, so the census and the
    * op can never disagree about the threshold. All-integer output
    * (counts + floor(cos·10⁴) means via integer division) — hash-exact.
    * Scale shape: two assignment passes (each a broadcast of a bounded
    * centroid set + one per-vector window) + one global aggregate.
    */
  def graphIndexStalenessCensus(spark: SparkSession,
                                nodeTable: graft.stages.MergeTable): DataFrame = {
    val nodes = nodeTable.read(spark, assignSchema).localCheckpoint(true)
    val n = nodes.count()
    val bound = math.ceil(math.sqrt(n.toDouble)).toLong
    val freshCents = nodes.filter(col("vec_id") < bound)
      .select(col("vec_id").as("c_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("c"))
    val fresh = assignToCentroids(
      nodes.select(col("vec_id"), col("embedding")), freshCents)
    // assignment cosine re-derived from the stored (cell, embedding):
    // the frozen centroid vector is the node with vec_id == cell
    val centSide = nodes.select(col("vec_id").as("cell"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    def census(asg: DataFrame, name: String): DataFrame =
      asg.join(centSide, Seq("cell"))
        .withColumn("cos_e4", expr(
          s"CAST(floor(10000 * (${dotExpr("embedding", "c_emb")}" +
          s" / (norm * c_norm))) AS BIGINT)"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cn"), sum(col("cos_e4")).as("cs"))
        .agg(count(lit(1)).as("n_cells"),
          max(col("cn")).as("max_cell"),
          expr("sum(cs) div sum(cn)").as("mean_cos_e4"))
        .select(lit(name).as("quantizer"), col("n_cells"),
          col("max_cell"), col("mean_cos_e4"))
    val frozenNodes = nodes.select(col("vec_id"), col("cell"),
      col("embedding"), col("norm"))
    val frozenRow = census(frozenNodes, "frozen")
      .withColumn("rebuild_recommended",
        (col("max_cell") > 2L * bound).cast("int"))
    val freshRow = census(
      fresh.select(col("vec_id"), col("cell"), col("embedding"), col("norm")),
      "fresh_sqrt_n")
      .withColumn("rebuild_recommended", lit(0))
    frozenRow.unionByName(freshRow)
      .withColumn("n_vectors", lit(n))
      .withColumn("sqrt_bound", lit(bound))
  }

  /** Index coherence census for the GRAPH family — the two-table census
    * convention ([[rqIndexCoherenceCensus]] et al.) generalized to
    * [[graphIndexBuild]]'s FOUR replaces (centroids, nodes, adjacency,
    * metadata), probing each derivation link independently so the census
    * LOCALIZES which replace a crash split:
    *
    *   - nodes ↔ centroids: sampled stored node vectors re-assigned
    *     against the current centroid table (assignment is pure, and the
    *     node table stores its vectors — no corpus read). Breaks when a
    *     crash lands centroids without nodes.
    *   - adjacency ↔ nodes: the sampled cells' adjacency re-derived from
    *     the CURRENT node membership at the persisted degree and
    *     compared per src (adjacency is a pure function of a cell's
    *     final membership). Breaks when a crash lands nodes without
    *     adjacency — and stays COHERENT under a centroid-only crash
    *     (nodes and adjacency are then both stale together), which is
    *     exactly the localization.
    *   - metadata bound: max(c_id) must stay under the persisted
    *     centroid_id_bound — the structural arm that catches a centroid
    *     replace whose metadata write never landed.
    *
    * `rebuild_recommended` ORs the three arms and is exactly
    * [[graphIndexReconcileWithCensus]]'s trigger. Scale shape: link 1
    * costs one assignment pass over node_rows/sampleMod stored vectors;
    * link 2 costs Σ|sampled cell|² — the build's own cell-local join
    * restricted to cells ≡ 0 mod `cellMod`.
    */
  def graphIndexCoherenceCensus(spark: SparkSession,
                                centroidTable: graft.stages.MergeTable,
                                nodeTable: graft.stages.MergeTable,
                                adjTable: graft.stages.MergeTable,
                                metaTable: graft.stages.MergeTable,
                                sampleMod: Int = 8,
                                cellMod: Int = 4): DataFrame = {
    import spark.implicits._
    val meta = readGraphMeta(spark, metaTable)
    val degree = meta("degree").toInt
    val bound = meta("centroid_id_bound")
    val cents = centroidTable.read(spark, centroidSchema).localCheckpoint(true)
    val centRows = cents.count()
    require(centRows > 0, "graph index has no centroids — build it first")
    val maxCid = cents.agg(max(col("c_id"))).head.getLong(0)
    val nodes = nodeTable.read(spark, assignSchema).localCheckpoint(true)
    val nodeRows = nodes.count()
    val adj = adjTable.read(spark, graphAdjSchema).localCheckpoint(true)
    val adjRows = adj.count()
    val sampleN = nodes.filter(col("vec_id") % sampleMod === 0)
    val expectedCells = assignToCentroids(
        sampleN.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("cell").as("e_cell"))
    val l1 = sampleN.select(col("vec_id"), col("cell"))
      .join(expectedCells, Seq("vec_id"), "left")
      .select(count(lit(1)).as("checked"),
        sum(when(col("e_cell").isNull || col("cell") =!= col("e_cell"), 1L)
          .otherwise(0L)).as("mm"))
      .collect()(0)
    // cell-local probe: adjacency is within-cell, so restricting the
    // re-derivation to the sampled cells is exact, not an approximation
    val sampledCells = nodes.filter(col("cell") % cellMod === 0)
      .localCheckpoint(true)
    val expAdj = cellAdjacency(sampledCells, degree)
      .withColumnRenamed("dsts", "e_dsts")
    val l2 = sampledCells.select(col("vec_id").as("src"))
      .join(adj.withColumnRenamed("dsts", "s_dsts"), Seq("src"), "left")
      .join(expAdj, Seq("src"), "left")
      .select(count(lit(1)).as("checked"),
        sum(when(!(col("s_dsts") <=> col("e_dsts")), 1L).otherwise(0L)).as("mm"))
      .collect()(0)
    val metaOk = maxCid < bound
    val rec = l1.getLong(1) > 0L || l2.getLong(1) > 0L || !metaOk
    Seq((centRows, nodeRows, adjRows, l1.getLong(0), l1.getLong(1),
      l2.getLong(0), l2.getLong(1), metaOk, rec))
      .toDF("centroid_rows", "node_rows", "adj_rows", "checked_nodes",
        "node_mismatch", "checked_srcs", "adj_mismatch", "meta_bound_ok",
        "rebuild_recommended")
  }

  /** Repair the graph index against its current centroid table iff
    * [[graphIndexCoherenceCensus]] recommends it (trigger == census
    * predicate): nodes re-assigned from their own stored vectors,
    * adjacency re-derived at the persisted degree, metadata bound
    * re-pinned to the centroid table — everything downstream of the
    * centroid replace re-derived in dependency order, off the index's
    * own tables alone.
    */
  def graphIndexReconcileWithCensus(spark: SparkSession,
                                    centroidTable: graft.stages.MergeTable,
                                    nodeTable: graft.stages.MergeTable,
                                    adjTable: graft.stages.MergeTable,
                                    metaTable: graft.stages.MergeTable,
                                    sampleMod: Int = 8,
                                    cellMod: Int = 4)
      : (org.apache.spark.sql.Row, Boolean) = {
    val census = graphIndexCoherenceCensus(spark, centroidTable, nodeTable,
      adjTable, metaTable, sampleMod, cellMod).collect()(0)
    val rec = census.getBoolean(8)
    if (rec) {
      val degree = readGraphMeta(spark, metaTable)("degree").toInt
      val cents = centroidTable.read(spark, centroidSchema).localCheckpoint(true)
      val stored = nodeTable.read(spark, assignSchema)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      nodeTable.replace(assignToCentroids(stored, cents))
      adjTable.replace(
        cellAdjacency(nodeTable.read(spark, assignSchema), degree))
      val maxCid = cents.agg(max(col("c_id"))).head.getLong(0)
      writeGraphMeta(metaTable, spark, degree, maxCid + 1L)
    }
    (census, rec)
  }

  def graphIndexSearch(spark: SparkSession, emb: DataFrame,
                       centroidTable: graft.stages.MergeTable,
                       nodeTable: graft.stages.MergeTable,
                       adjTable: graft.stages.MergeTable,
                       metaTable: graft.stages.MergeTable,
                       numQueries: Int, k: Int,
                       beam: Int, rounds: Int): DataFrame = {
    // the metadata read doubles as the "index exists" gate
    readGraphMeta(spark, metaTable)
    val nodes = nodeTable.read(spark, assignSchema)
    val beamDf = cellEntryWalk(
      walkSide(nodeSideOf(nodes), indexAdjacency(spark, nodes, adjTable)),
      indexQueries(spark, emb, centroidTable, numQueries), beam, rounds)
    // truth comes off the index itself — it stores every vector
    beamTopKWithTruth(beamDf, nodes.select(col("vec_id"), col("embedding")),
      numQueries, k)
  }

  /** The persisted adjacency rows (already neighbour lists) plus the
    * chain rows of the CURRENT id set. */
  private def indexAdjacency(spark: SparkSession, nodes: DataFrame,
                             adjTable: graft.stages.MergeTable): DataFrame =
    adjTable.read(spark, graphAdjSchema).unionByName(chainRows(nodes))

  /** Queries assigned against the frozen persisted centroids (in
    * production the query side is external — `emb` supplies vectors
    * only): (query_id, q_emb, q_norm, cell). */
  private def indexQueries(spark: SparkSession, emb: DataFrame,
                           centroidTable: graft.stages.MergeTable,
                           numQueries: Int): DataFrame =
    withNearestCent(
        withNorm(emb).filter(col("vec_id") < numQueries),
        collectCentRows(centroidTable.read(spark, centroidSchema), "c_id", "c", None),
        "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))

  /** DiskANN served FROM TABLES — the full deployment shape of the
    * composition [[graphPqTopK]] demonstrates in one lineage: the WALK
    * reads the persisted kNN-graph index (centroids, nodes, adjacency,
    * metadata — [[graphIndexBuild]]'s family) scored against
    * reconstructions decoded from the persisted PQ code table
    * ([[pqIndexBuild]]'s family), and only the exact final-beam rerank
    * touches full vectors (read from the node table — DiskANN's ≤beam
    * "disk reads" per query). Nothing in the serve plan derives from the
    * source corpus: both indexes were built and incrementally extended
    * at ingest time, which is exactly how a production deployment
    * amortizes them. Two frozen quantizers compose (graph cells for
    * navigation, PQ codewords for resident scoring); build+adds == one
    * from-scratch pass for each family independently, so the served
    * search equals the from-scratch composition — what the oracle runs.
    */
  def graphPqIndexSearch(spark: SparkSession, emb: DataFrame,
                         centroidTable: graft.stages.MergeTable,
                         nodeTable: graft.stages.MergeTable,
                         adjTable: graft.stages.MergeTable,
                         metaTable: graft.stages.MergeTable,
                         codebookTable: graft.stages.MergeTable,
                         codeTable: graft.stages.MergeTable,
                         numQueries: Int, k: Int, beam: Int, rounds: Int,
                         m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    readGraphMeta(spark, metaTable)
    val nodes = nodeTable.read(spark, assignSchema)
    // resident scoring side: reconstructions decoded FROM THE CODES
    // against the broadcast codebook literal (the ADC serving contract)
    val cb = readPqCodebook(spark, codebookTable, m, dim / m)
    val recon = codeTable.read(spark, pqCodeSchema)
      .withColumn("_cb", typedLit(cb))
      .withColumn("pq_recon", expr(
        "flatten(transform(pq_code, (c, s) -> element_at(element_at(_cb, s + 1), c + 1)))"))
      .drop("_cb")
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
      .select(col("vec_id").as("node"), col("pq_recon").as("n_emb"),
        col("recon_norm").as("n_norm"))
    val queries = indexQueries(spark, emb, centroidTable, numQueries)
    val beamDf = cellEntryWalk(
      walkSide(recon, indexAdjacency(spark, nodes, adjTable)), queries, beam, rounds)
    // exact rerank + truth both read the NODE TABLE (it stores every
    // vector) — the serve plan never touches the source corpus
    exactRerankWithTruth(beamDf, nodes, queries, numQueries, k)
  }

  /** Persisted PQ index — the quantization ladder's lifecycle twin of
    * [[ivfIndexBuild]]/[[graphIndexBuild]]: the codebook (trained once,
    * FROZEN) and the m-byte codes (the entire resident memory of a PQ
    * deployment) live as versioned [[graft.stages.MergeTable]]s; ingest
    * is an encode-and-upsert of just the new batch (encode is a pure
    * function of (vector, frozen codebook) — idempotent on replay, and
    * build + adds == one full-corpus pass, which the oracle checks);
    * search reconstructs FROM THE CODES against the broadcast codebook
    * literal and never touches corpus vectors — the query side supplies
    * the only exact vectors, precisely the ADC serving contract.
    */
  val pqCodebookSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))

  val pqCodeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pq_code",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))))

  private def readPqCodebook(spark: SparkSession,
                             codebookTable: graft.stages.MergeTable,
                             m: Int, subDim: Int): Seq[Seq[Seq[Double]]] = {
    val rows = codebookTable.read(spark, pqCodebookSchema)
      .orderBy(col("c_id")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    pqCodebookOf(rows, m, subDim)
  }

  def pqIndexBuild(spark: SparkSession, embTrain: DataFrame,
                   codebookTable: graft.stages.MergeTable,
                   codeTable: graft.stages.MergeTable,
                   cbIdBound: Int, m: Int = 8, ksub: Int = 16,
                   dim: Int = 64): Unit = {
    val subDim = dim / m
    val selected = embTrain.filter(col("vec_id") < cbIdBound)
      .select(col("vec_id").as("c_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .localCheckpoint(true) // validated then committed — one computation
    // validate BEFORE the replace commits: a wrong-sized selection must
    // not leave a broken codebook version durably current
    val nSel = selected.count()
    require(nSel == ksub,
      s"codebook id bound $cbIdBound selected $nSel codewords, need $ksub")
    codebookTable.replace(selected)
    val cb = readPqCodebook(spark, codebookTable, m, subDim)
    codeTable.replace(
      encodePq(embTrain, cb, m, subDim).select(col("vec_id"), col("pq_code")))
  }

  def pqIndexAdd(spark: SparkSession, embNew: DataFrame,
                 codebookTable: graft.stages.MergeTable,
                 codeTable: graft.stages.MergeTable,
                 m: Int = 8, ksub: Int = 16, dim: Int = 64): Unit = {
    val cb = readPqCodebook(spark, codebookTable, m, dim / m)
    codeTable.upsert(
      encodePq(embNew, cb, m, dim / m).select(col("vec_id"), col("pq_code")))
  }

  def pqIndexSearch(spark: SparkSession, emb: DataFrame,
                    codebookTable: graft.stages.MergeTable,
                    codeTable: graft.stages.MergeTable,
                    numQueries: Int, k: Int,
                    m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    graft.functions.GraftFunctions.register(spark)
    val cb = readPqCodebook(spark, codebookTable, m, dim / m)
    val quant = codeTable.read(spark, pqCodeSchema)
      .withColumn("_cb", typedLit(cb))
      .withColumn("pq_recon", expr(
        "flatten(transform(pq_code, (c, s) -> element_at(element_at(_cb, s + 1), c + 1)))"))
      .drop("_cb")
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
    val queries = withNorm(emb).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("vec_id"))
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    quant.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_pq",
        expr(dotExpr("pq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_pq"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_pq"), col("exact_hit"))
  }

  /** Index-pair coherence census for the PQ family —
    * [[rqIndexCoherenceCensus]]'s convention on [[pqIndexBuild]]'s two
    * replaces (codebook, then codes): a crash between them leaves fresh
    * codewords over stale codes, and [[pqIndexSearch]] would silently
    * reconstruct every vector from the wrong codebook. The probe
    * re-encodes a bounded sample of the code table's ids (ids ≡ 0 mod
    * `sampleMod`) from `embSource` against the CURRENT codebook —
    * encoding is a pure function of (vector, frozen codebook), so on a
    * coherent pair every sampled code array matches exactly and ANY
    * mismatch (or a sampled id missing its source vector) proves
    * desync. Output row: the RQ census's plus `mismatched_cells` — the
    * SUBSPACE-level mismatch count (a retrained codebook flips nearly
    * every row's m-array, so the row count saturates; the cell count
    * stays content-dependent and keeps the hash gate sharp; a sampled id
    * missing its source vector counts all m cells). `rebuild_recommended`
    * is exactly the reconcile trigger. Scale shape: the codebook is a
    * ksub-row bounded collect; the probe is one encode pass over
    * code_rows/sampleMod vectors, never the corpus.
    */
  def pqIndexCoherenceCensus(spark: SparkSession, embSource: DataFrame,
                             codebookTable: graft.stages.MergeTable,
                             codeTable: graft.stages.MergeTable,
                             m: Int = 8, ksub: Int = 16, dim: Int = 64,
                             sampleMod: Int = 8): DataFrame = {
    import spark.implicits._
    val subDim = dim / m
    val cb = readPqCodebook(spark, codebookTable, m, subDim)
    val stored = codeTable.read(spark, pqCodeSchema).localCheckpoint(true)
    val codeRows = stored.count()
    val sample = stored.filter(col("vec_id") % sampleMod === 0)
    val expected = encodePq(
        embSource.join(sample.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        cb, m, subDim)
      .select(col("vec_id"), col("pq_code").as("e_code"))
    val probe = sample.join(expected, Seq("vec_id"), "left")
      .select(count(lit(1)).as("checked"),
        sum(when(col("e_code").isNull || col("pq_code") =!= col("e_code"), 1L)
          .otherwise(0L)).as("mismatched"),
        sum(when(col("e_code").isNull, lit(m.toLong)).otherwise(expr(
          """aggregate(zip_with(pq_code, e_code,
             (a, b) -> CASE WHEN a = b THEN 0L ELSE 1L END),
             0L, (acc, x) -> acc + x)"""))).as("cells"))
      .collect()(0)
    val (checked, mismatched, cells) =
      (probe.getLong(0), probe.getLong(1), probe.getLong(2))
    Seq((ksub.toLong, codeRows, checked, mismatched, cells, mismatched > 0L))
      .toDF("codebook_rows", "code_rows", "checked_rows", "mismatched_rows",
        "mismatched_cells", "rebuild_recommended")
  }

  /** Re-encode the code table against the current PQ codebook iff
    * [[pqIndexCoherenceCensus]] recommends it, returning the census row
    * the trigger fired on (trigger == census predicate). The repair is a
    * re-derivation scoped to the ids the code table already holds.
    */
  def pqIndexReconcileWithCensus(spark: SparkSession, embSource: DataFrame,
                                 codebookTable: graft.stages.MergeTable,
                                 codeTable: graft.stages.MergeTable,
                                 m: Int = 8, ksub: Int = 16, dim: Int = 64,
                                 sampleMod: Int = 8)
      : (org.apache.spark.sql.Row, Boolean) = {
    val census = pqIndexCoherenceCensus(spark, embSource, codebookTable,
      codeTable, m, ksub, dim, sampleMod).collect()(0)
    val rec = census.getBoolean(5)
    if (rec) {
      val subDim = dim / m
      val cb = readPqCodebook(spark, codebookTable, m, subDim)
      val ids = codeTable.read(spark, pqCodeSchema).select(col("vec_id"))
      codeTable.replace(encodePq(
          embSource.join(ids, Seq("vec_id"), "left_semi"), cb, m, subDim)
        .select(col("vec_id"), col("pq_code")))
    }
    (census, rec)
  }

  // ---- Persisted RQ index: the 256× rung's lifecycle -----------------
  //
  // RQ's whole value is 2-byte RESIDENT codes, so recomputing codebooks
  // + codes from the corpus per query (what the inline rung does as a
  // fixture) would defeat it in production. The persisted form is the
  // pqIndexBuild shape: BOTH trained codebook levels in one versioned
  // MergeTable (level, ord, c — an atomic replace commits the pair), the
  // code table keyed by vec_id with delta-sized upsert adds against the
  // FROZEN codebooks (encode is a pure function of (vector, codebooks),
  // so build + adds == one full encode pass), and serving = coarse-rank
  // from decoded codes + exact rerank of the top-C off the node table —
  // resident memory is 2 codebooks + 2 bytes/vector, cold reads are ≤C
  // full vectors per query.

  val rqCodeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c1",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c2",
        org.apache.spark.sql.types.IntegerType)))

  val rqCodebookSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("level",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("ord",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))

  private def readRqCodebooks(spark: SparkSession,
                              codebookTable: graft.stages.MergeTable)
      : (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    // bounded collect: k1 + k2 rows, the persisted-codebook contract
    val rows = codebookTable.read(spark, rqCodebookSchema)
      .orderBy(col("level"), col("ord")).collect()
    def level(l: Int) = rows.filter(_.getInt(0) == l)
      .map(_.getSeq[Double](2).toSeq).toSeq
    val (cb1, cb2) = (level(1), level(2))
    require(cb1.nonEmpty && cb2.nonEmpty,
      s"RQ codebook table ${codebookTable.root} holds ${cb1.length}/${cb2.length} " +
        "level-1/level-2 codewords — build the index first")
    (cb1, cb2)
  }

  /** Train on `embTrain`, commit both codebook levels atomically, encode
    * the training set. `initIdBound` is the Lloyd init id bound per level
    * (= k when the training ids are dense from 0; 2k for an even-half
    * training set). Counts are validated BEFORE either commit.
    */
  def rqIndexBuild(spark: SparkSession, embTrain: DataFrame,
                   codebookTable: graft.stages.MergeTable,
                   codeTable: graft.stages.MergeTable,
                   k1: Int = 16, k2: Int = 16, iters: Int = 2,
                   initIdBound: Int = 16): Unit = {
    val (cb1, cb2) = rqTrainCodebooks(embTrain, k1, k2, iters,
      initIdBound, initIdBound)
    import spark.implicits._
    val cbRows = cb1.zipWithIndex.map { case (c, i) => (1, i, c) } ++
      cb2.zipWithIndex.map { case (c, i) => (2, i, c) }
    codebookTable.replace(cbRows.toDF("level", "ord", "c"))
    codeTable.replace(rqEncode(embTrain, cb1, cb2))
  }

  /** Delta-sized incremental encode against the frozen codebooks. */
  def rqIndexAdd(spark: SparkSession, embNew: DataFrame,
                 codebookTable: graft.stages.MergeTable,
                 codeTable: graft.stages.MergeTable): Unit = {
    val (cb1, cb2) = readRqCodebooks(spark, codebookTable)
    codeTable.upsert(rqEncode(embNew, cb1, cb2))
  }

  /** Serve from the persisted tables: decode the code table against the
    * broadcast frozen codebooks, ADC-cosine coarse rank, exact rerank of
    * the top-`candidates` off the node source — [[rqTopK]]'s output
    * contract (both scores + brute-truth flags), with nothing but the
    * queries and the rerank's ≤C cold rows read from `emb`.
    */
  def rqIndexSearch(spark: SparkSession, emb: DataFrame,
                    codebookTable: graft.stages.MergeTable,
                    codeTable: graft.stages.MergeTable,
                    numQueries: Int, k: Int,
                    candidates: Int = 128): DataFrame = {
    val (cb1, cb2) = readRqCodebooks(spark, codebookTable)
    val quant = rqDecode(codeTable.read(spark, rqCodeSchema), cb1, cb2)
    val surv = rqCoarseRank(quant, emb, numQueries)
      .filter(col("crank") <= candidates)
      .select(col("query_id"), col("vec_id"), col("cosine_rq"))
    val ranked = exactRerankTopK(surv, emb, numQueries, k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine_rq"), col("cosine"))
    withTruthFlags(ranked, emb, numQueries, k)
  }

  /** Index-pair coherence census — the monitoring gate for the
    * two-table index families: [[rqIndexBuild]] commits codebooks and
    * codes as two separate replaces, so a crash between them leaves
    * FRESH codebooks over STALE codes and the serve path would silently
    * decode wrong-codebook reconstructions. The census probes ACTUAL
    * coherence, not bookkeeping (the release-gate convention): a bounded
    * sample of the code table (ids ≡ 0 mod `sampleMod`) is re-encoded
    * against the CURRENT codebooks and compared to the stored codes —
    * encoding is a pure function of (vector, frozen codebook), so on a
    * coherent pair every sampled row matches exactly, and ANY mismatch
    * (or a sampled id missing its source vector) proves the pair
    * desynced. One row: codebook_rows, code_rows, checked_rows,
    * mismatched_rows, rebuild_recommended. `rebuild_recommended` is
    * exactly [[rqIndexReconcile]]'s trigger, the census/op
    * single-predicate convention. Scale shape: codebooks are a bounded
    * collect (k1+k2 rows); the probe costs one semi-join + one encode
    * pass over code_rows/sampleMod vectors, never the corpus.
    */
  def rqIndexCoherenceCensus(spark: SparkSession, embSource: DataFrame,
                             codebookTable: graft.stages.MergeTable,
                             codeTable: graft.stages.MergeTable,
                             sampleMod: Int = 8): DataFrame = {
    import spark.implicits._
    val (cb1, cb2) = readRqCodebooks(spark, codebookTable)
    val stored = codeTable.read(spark, rqCodeSchema).localCheckpoint(true)
    val codeRows = stored.count()
    val sample = stored.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("c1"), col("c2"))
    val expected = rqEncode(
        embSource.join(sample.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        cb1, cb2)
      .withColumnRenamed("c1", "e1").withColumnRenamed("c2", "e2")
    val probe = sample.join(expected, Seq("vec_id"), "left")
      .select(count(lit(1)).as("checked"),
        sum(when(col("e1").isNull ||
          col("c1") =!= col("e1") || col("c2") =!= col("e2"), 1L)
          .otherwise(0L)).as("mismatched"))
      .collect()(0)
    val (checked, mismatched) = (probe.getLong(0), probe.getLong(1))
    Seq(((cb1.length + cb2.length).toLong, codeRows, checked, mismatched,
      mismatched > 0L))
      .toDF("codebook_rows", "code_rows", "checked_rows", "mismatched_rows",
        "rebuild_recommended")
  }

  /** Re-encode the code table against the current codebooks iff
    * [[rqIndexCoherenceCensus]] recommends it — the repair is exactly a
    * re-derivation (codes are a pure function of the codebooks, which
    * are the durable artifact), scoped to the ids the code table already
    * holds. Returns whether a rebuild fired.
    */
  def rqIndexReconcile(spark: SparkSession, embSource: DataFrame,
                       codebookTable: graft.stages.MergeTable,
                       codeTable: graft.stages.MergeTable,
                       sampleMod: Int = 8): Boolean =
    rqIndexReconcileWithCensus(spark, embSource, codebookTable, codeTable,
      sampleMod)._2

  /** [[rqIndexReconcile]] exposing the census row it decided on — for
    * monitoring callers that display the census AND run the trigger,
    * without evaluating the sampled re-encode twice. The trigger stays
    * the census's own `rebuild_recommended` by construction.
    */
  def rqIndexReconcileWithCensus(spark: SparkSession, embSource: DataFrame,
                                 codebookTable: graft.stages.MergeTable,
                                 codeTable: graft.stages.MergeTable,
                                 sampleMod: Int = 8)
      : (org.apache.spark.sql.Row, Boolean) = {
    val census = rqIndexCoherenceCensus(spark, embSource, codebookTable,
      codeTable, sampleMod).collect()(0)
    val rec = census.getBoolean(4)
    if (rec) {
      val (cb1, cb2) = readRqCodebooks(spark, codebookTable)
      val ids = codeTable.read(spark, rqCodeSchema).select(col("vec_id"))
      codeTable.replace(rqEncode(
        embSource.join(ids, Seq("vec_id"), "left_semi"), cb1, cb2))
    }
    (census, rec)
  }

  /** IVF-PQ SERVED FROM TABLES — the FAISS `IVFx,PQy` deployment shape
    * with nothing derived from the source corpus at serve time: candidate
    * cells come off the persisted IVF assignment table
    * ([[ivfIndexBuild]]/[[ivfIndexAdd]]), scores decode the persisted PQ
    * code table against the broadcast frozen codebook
    * ([[pqIndexBuild]]/[[pqIndexAdd]]) — resident memory is centroids +
    * m-byte codes, compute is nprobe cells × ADC. `emb` supplies only the
    * query vectors (external at production serve time) and the brute
    * truth for the per-hit `exact_hit` QA flags. Because cell assignment
    * and PQ encoding are both pure functions of (vector, frozen
    * quantizer), each family's build+adds == one from-scratch pass, so
    * the served search equals the from-scratch [[ivfPqTopK]] composition
    * the SQL oracle runs.
    */
  def ivfPqIndexSearch(spark: SparkSession, emb: DataFrame,
                       centroidTable: graft.stages.MergeTable,
                       assignTable: graft.stages.MergeTable,
                       codebookTable: graft.stages.MergeTable,
                       codeTable: graft.stages.MergeTable,
                       numQueries: Int, k: Int, nprobe: Int,
                       m: Int = 8, ksub: Int = 16, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    graft.functions.GraftFunctions.register(spark)
    val cents = centroidTable.read(spark, centroidSchema)
    val cb = readPqCodebook(spark, codebookTable, m, dim / m)
    // candidates: (cell, code) off the two index tables alone — the
    // embedding column of the assignment table is never read (pruned)
    val corpus = assignTable.read(spark, assignSchema)
      .select(col("vec_id"), col("cell"))
      .join(codeTable.read(spark, pqCodeSchema), Seq("vec_id"))
      .withColumn("_cb", typedLit(cb))
      .withColumn("pq_recon", expr(
        "flatten(transform(pq_code, (c, s) -> element_at(element_at(_cb, s + 1), c + 1)))"))
      .drop("_cb")
      .withColumn("recon_norm", expr(s"sqrt(${dotExpr("pq_recon", "pq_recon")})"))
    val queries = withCentRanks(
        withNorm(emb).filter(col("vec_id") < numQueries),
        collectCentRows(cents, "c_id", "c", None), nprobe,
        "embedding", rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("c_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_pq").desc, col("vec_id"))
    val truth = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    corpus.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_pq",
        expr(dotExpr("pq_recon", "q_emb")) / (col("recon_norm") * col("q_norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_pq"))
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_pq"), col("exact_hit"))
  }

  /** IVF cell-balance census — the operational health metric of an
    * inverted-file index: per-cell population, corpus share at 1e4, and
    * the load factor at 1e2 (100 = perfectly balanced; a 300 cell serves
    * 3× the scan work per probe — hot cells are IVF's tail latency, the
    * signal that triggers re-training or cell splitting at scale). Empty
    * cells are reported too (they waste probes). One broadcast assignment
    * pass + one |cells|-group aggregate; integer-only output.
    */
  def ivfBalanceCensus(spark: SparkSession, emb: DataFrame,
                       centroids: Int = 8, iters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(emb, centroids, iters)
    val assigned = assignToCentroids(emb, cents)
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val tot = assigned.agg(count(lit(1)).as("n_total"))
    cents.select(col("c_id").as("cell"))
      .join(counts, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        expr("coalesce(n_vecs, 0L) * 10000 div n_total").as("share_e4"),
        expr(s"coalesce(n_vecs, 0L) * $centroids * 100 div n_total").as("load_e2"))
      .orderBy(col("cell"))
  }

  /** Hubness census — the k-occurrence distribution (how many top-k lists
    * each vector appears in), THE classic high-dimensional-ANN health
    * metric: hubs (vectors appearing in many lists) and anti-hubs
    * (appearing in none) both degrade retrieval quality, and hubness
    * grows with intrinsic dimension (Radovanović et al. 2010, JMLR). The
    * kNN here is the SERVING path's — the bucketed all-corpus
    * [[multiProbeTopKAgg]], the shape that survives the query set being
    * the corpus — so the census measures the hubness users actually see;
    * anti-hubs conflate true anti-hubs with LSH coverage misses, which is
    * the serving truth (the fidelity twin prices that gap). Histogram
    * output (occurrences → vector count), integer-exact.
    */
  def hubnessCensus(emb: DataFrame, k: Int = 5): DataFrame = {
    val knn = multiProbeTopKAggAll(emb, k)
    val occ = knn.groupBy(col("neighbor_id")).agg(count(lit(1)).as("occ"))
    emb.select(col("vec_id").as("neighbor_id"))
      .join(occ, Seq("neighbor_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("k_occurrences"))
      .groupBy(col("k_occurrences")).agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("k_occurrences"))
  }

  /** Mutual (reciprocal) kNN pairs: (a, b) where each is in the OTHER's
    * top-k — the asymmetry-filtered neighbor signal curation stacks use
    * where one-directional kNN over-merges around hubs (a hub lands in
    * thousands of top-k lists; almost none of those land in ITS top-k, so
    * the reciprocal filter removes exactly the hub edges
    * [[hubnessCensus]] counts). Runs over the serving-path bucketed
    * all-corpus kNN; ONE kNN pass checkpointed and joined against itself
    * direction-to-direction — pair-table-sized work after the kNN.
    */
  def mutualKnnPairs(emb: DataFrame, k: Int = 5): DataFrame = {
    val knn = multiProbeTopKAggAll(emb, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(true) // both direction filters read it
    val fwd = knn.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"),
        col("cosine"))
    val rev = knn.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("vec_a"), col("query_id").as("vec_b"))
    fwd.join(rev, Seq("vec_a", "vec_b"), "left_semi")
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the deterministic
    * k-means quantizer, then search for near-duplicates ONLY within a
    * cluster — cross-cluster pairs are structurally excluded, which turns
    * the O(n²) global pairwise search into Σ O(|cell|²) with the cell as
    * the unit of distribution. At 100 TB the plan is one broadcast
    * (k centroids) + one shuffle on the cell id + per-cell pair scans;
    * no global comparison ever materializes, and cell sizes are bounded
    * by raising `centroids` (cells ≈ n/k vectors each).
    *
    * Arbitration is deterministic min-id-wins, the same rule the banded
    * text dedup uses: a vector is DROPPED iff a lower-id vector in its
    * cell is within `tau` cosine (pairwise, not transitive-closure — a
    * dropped vector still shields its own neighbors, so survivors are
    * stable under replay and independent of evaluation order).
    *
    * Returns the per-cell census (`cell, n_vecs, n_dropped, n_kept`) —
    * integer-only output, exactly hash-comparable with the SQL mirror.
    */
  def semDedupCensus(spark: SparkSession, emb: DataFrame,
                     centroids: Int = 8, iters: Int = 2,
                     tau: Double = 0.3): DataFrame = {
    val base = withNorm(emb)
    val cents = kmeansCentroidsLocal(emb, centroids, iters)
      .map(c => CentRow(c._1, c._2, 0.0))
    val corpus = withNearestCent(base, cents, "embedding",
        rowNormCol = Some("norm"), storedNorm = false)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id").as("cell"))
    val a = corpus.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = corpus.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        expr(dotExpr("a_emb", "b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("_d", lit(1))
    corpus.select(col("cell"), col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("_d")).as("n_dropped"),
        (count(lit(1)) - count(col("_d"))).as("n_kept"))
      .select(col("cell").cast("long").as("cell"),
        col("n_vecs"), col("n_dropped"), col("n_kept"))
  }

  /** Maximal Marginal Relevance (Carbonell-Goldstein 1998) diverse top-k:
    * greedy selection maximizing λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s) —
    * the anti-redundancy pick a RAG context builder or a diverse
    * curation sampler ships where plain top-k returns k near-copies.
    * Round 1 scores pure relevance; each later round penalizes by the
    * worst similarity to the already-picked set.
    *
    * Scale shape (the greedyCoverage convention): the candidate pool is
    * ONE corpus scan + TakeOrdered to `poolSize` rows, lineage-cut; each
    * of the k rounds is a pool×selected (≤ poolSize×k) broadcast join +
    * one bounded single-row argmax collect. Ties break by vec_id;
    * doubles are the shared deterministic dot folds, so the greedy
    * trajectory is bit-identical cross-engine.
    */
  def mmrSelect(emb: DataFrame, queryId: Long, poolSize: Int, k: Int,
                lambda: Double = 0.5): DataFrame = {
    val spark = emb.sparkSession
    val base = withNorm(emb)
    val qdf = base.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val pool = base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qdf))
      .withColumn("rel",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
      .select(col("vec_id"), col("embedding"), col("norm"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(poolSize)
      .localCheckpoint(true)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    var r = 1
    while (r <= k) {
      val remaining = pool.filter(!col("vec_id").isInCollection(
        picked.map(p => java.lang.Long.valueOf(p._2))))
      val scored =
        if (picked.isEmpty) remaining.withColumn("score", col("rel"))
        else {
          val sel = pool.filter(col("vec_id").isInCollection(
              picked.map(p => java.lang.Long.valueOf(p._2))))
            .select(col("embedding").as("s_emb"), col("norm").as("s_norm"))
          val pen = remaining.crossJoin(broadcast(sel))
            .withColumn("s",
              expr(dotExpr("embedding", "s_emb")) / (col("norm") * col("s_norm")))
            .groupBy(col("vec_id")).agg(max(col("s")).as("max_sim"))
          remaining.join(pen, Seq("vec_id"))
            .withColumn("score",
              lit(lambda) * col("rel") - lit(1.0 - lambda) * col("max_sim"))
        }
      val top = scored.orderBy(col("score").desc, col("vec_id"))
        .select(col("vec_id"), col("rel"), col("score"))
        .limit(1).collect() // bounded single-row argmax per round
      if (top.isEmpty) r = k + 1 // pool exhausted (k > candidates): return picks so far
      else {
        picked += ((r, top.head.getLong(0), top.head.getDouble(1), top.head.getDouble(2)))
        r += 1
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "vec_id", "rel", "mmr_score")
  }

  /** Contrastive hard-negative mining: for each anchor (vec_id < numQueries)
    * the top-k most-cosine-similar vectors with a DIFFERENT label, flagged
    * `semi_hard` when the negative sits inside the FaceNet margin band
    * (cos_neg < cos_hardest_pos, cos_neg > cos_hardest_pos − margin) — the
    * negatives a triplet-loss batch builder wants first.
    *
    * Scale shape identical to [[bruteForceTopK]]: the anchor set is the
    * broadcast side, the corpus is scanned once, and the only shuffle is the
    * per-anchor top-k (swap in [[graft.functions.TopKAggregator]] or restrict
    * candidates to LSH buckets via [[withLshBucket]] when the anchor set
    * itself is corpus-scale). The hardest-positive table is one row per
    * anchor — broadcast back onto the k·numQueries result.
    */
  /** Top principal direction of the embedding cloud by two power-iteration
    * steps over the EXACT integer covariance — the anisotropy probe
    * (Ethayarajh 2019: contextual embeddings collapse toward a dominant
    * direction; Mu & Viswanath 2018 remove it before similarity search).
    * Pairs with the per-dimension census: that sees axis-aligned drift,
    * this sees the rotated dominant axis.
    *
    * Determinism (the [[kmeansCentroids]] scaled-integer discipline, taken
    * to matrix algebra): components quantize to `floor(x·10⁶)` BIGINT; the
    * unnormalized covariance `C_ij = n·Σxᵢxⱼ − SᵢSⱼ` (same eigenvectors as
    * the covariance) is an exact DECIMAL(38,0); power steps v₁ = C·1,
    * v₂ = C·v₁ stay in exact integer arithmetic. Between steps, magnitudes
    * are renormalized by a data-derived divisor `max|·| div 10^t`
    * (truncating, sign-split so Spark `div` == DuckDB `//` on the positive
    * operand) that bounds every product under DECIMAL(38,0)/HUGEINT at ANY
    * corpus size while keeping ≥15 significant digits. The final
    * components are renormalized into BIGINT range, so the one
    * DOUBLE cast is int64→double — exact in both engines (HUGEINT→DOUBLE
    * would double-round).
    *
    * Scale: the Σxᵢxⱼ pass is the classic outer-product accumulation —
    * dim² = 4096 groups, map-side partial aggregation collapses each
    * partition to 4096 rows before the one shuffle; everything after is
    * 64- or 4096-row bounded algebra with 64-row broadcasts. No windows,
    * no corpus broadcast, no driver collect.
    */
  private def truncDiv(c: String, d: String) =
    expr(s"CASE WHEN $c < 0 THEN -((-$c) div $d) ELSE $c div $d END")
  private def renormDivisor(m: String, t: String) =
    s"(CASE WHEN $m > $t THEN $m div $t ELSE 1L END)"

  /** Exact renorm-scaled integer covariance surrogate C_ij = n·Σxᵢxⱼ − SᵢSⱼ
    * (same eigenvectors as the covariance), entries bounded into ±10¹⁸ by a
    * data-derived truncating divisor — the shared kernel of [[pcaPowerTop]]
    * and [[anisotropyCensus]]. dim²-group outer-product accumulation,
    * map-side combined; everything after is 4096-row bounded algebra.
    */
  private def covScaled(emb: DataFrame): DataFrame = {
    val e18 = "CAST(1000000000000000000 AS DECIMAL(38,0))"
    val sv = emb.select(expr(
      "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000) AS BIGINT))")
      .as("sv"), expr("monotonically_increasing_id() div 4096").as("bkt"))
    // 64-row eager checkpoint: si and sj below both derive from `sums`, so
    // un-persisted it would scan the corpus twice more and double the plan.
    // Same two-stage LONG-then-DECIMAL sum as `prods` below.
    val sums = sv.select(col("bkt"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("i"), col("bkt"))
      .agg(sum(col("x")).as("sb"), count(lit(1)).as("nb"))
      .groupBy(col("i"))
      .agg(sum(expr("CAST(sb AS DECIMAL(38,0))")).as("s"),
        sum(col("nb")).cast("decimal(38,0)").as("n"))
      .localCheckpoint(true)
    // Flat chained posexplode, not nested transform+flatten: generator
    // explodes are whole-stage-codegen'd over primitive longs, while the
    // nested higher-order form materializes dim² structs per row through
    // interpreted HOF eval — measured 8x slower (2.7 s vs 0.35 s) on the
    // same 8M-pair workload. The sum is two-stage: a LONG partial per
    // ≤4096-row bucket (monotonically_increasing_id div 4096 — per-bucket
    // total ≤ 4096·(1e6·|e|max)² ≤ Long.Max requires |e|max ≤ ~47; corpus
    // embeddings are unit-scale (|e| ≤ ~1.2), two decades of headroom, and
    // bucket membership cannot change an associative integer sum), then
    // DECIMAL(38,0) only across the dim²·(n/4096) bucket rows.
    // Skipping per-product BigDecimal accumulation is another measured 5x
    // (0.46 s vs 2.4 s) on 8M pairs — bit-identical results both times.
    val prods = sv
      .select(col("bkt"), posexplode(col("sv")).as(Seq("i", "x")), col("sv"))
      .select(col("bkt"), col("i"), col("x"), posexplode(col("sv")).as(Seq("j", "y")))
      .groupBy(col("i"), col("j"), col("bkt"))
      .agg(sum(expr("x * y")).as("pb"))
      .groupBy(col("i"), col("j"))
      .agg(sum(expr("CAST(pb AS DECIMAL(38,0))")).as("pp"))
    val si = sums.select(col("i"), col("s").as("s_i"), col("n"))
    val sj = sums.select(col("i").as("j"), col("s").as("s_j"))
    // The corpus-scale dim² outer product runs exactly ONCE: `cov` (4,096
    // rows post-shuffle) is eagerly checkpointed, so the max-renorm below
    // and every downstream reference (powerTopVec's two steps, the census's
    // Rayleigh quotient and trace) replay bounded 4,096-row algebra, never
    // the corpus pass — and the physical plan stays flat instead of
    // duplicating the whole lineage per reference.
    val cov = prods.join(broadcast(si), Seq("i")).join(broadcast(sj), Seq("j"))
      .select(col("i"), col("j"), (col("n") * col("pp") - col("s_i") * col("s_j")).as("c"))
      .localCheckpoint(true)
    cov.crossJoin(broadcast(cov.agg(max(abs(col("c"))).as("mc"))))
      .select(col("i"), col("j"),
        truncDiv("c", renormDivisor("mc", e18)).as("c"))
      .localCheckpoint(true)
  }

  /** Two exact-integer power steps over [[covScaled]]: v₁ = C·1, v₂ = C·v₁,
    * renormalized between steps; returns (i, v) with v in int64 range. */
  private def powerTopVec(covS: DataFrame): DataFrame = {
    val e15 = "CAST(1000000000000000 AS DECIMAL(38,0))"
    val v1 = covS.groupBy(col("i"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0))")).as("v"))
    val v1s = v1.crossJoin(broadcast(v1.agg(max(abs(col("v"))).as("mv"))))
      .select(col("i").as("j"), truncDiv("v", renormDivisor("mv", e15)).as("w"))
    val v2 = covS.join(broadcast(v1s), Seq("j"))
      .groupBy(col("i"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))")).as("v"))
    // 64-row eager checkpoint: the census references the vector for both
    // Rayleigh-quotient sides, and pcaPowerTop for value + max — without
    // this each reference replays both power steps over covS.
    v2.crossJoin(broadcast(v2.agg(max(abs(col("v"))).as("mv"))))
      .select(col("i"), truncDiv("v", renormDivisor("mv", e15)).cast("long").as("v"))
      .localCheckpoint(true)
  }

  def pcaPowerTop(emb: DataFrame): DataFrame = {
    val v2s = powerTopVec(covScaled(emb))
    v2s.crossJoin(broadcast(v2s.agg(max(abs(col("v"))).as("m"))))
      .select(col("i").cast("int").as("pos"), col("v").as("v_scaled"),
        (col("v").cast("double") / col("m").cast("double")).as("pc1"))
      .orderBy(col("pos"))
  }

  /** The [[powerTopVec]] direction renormalized to ≤`scale` magnitude —
    * 10⁵ is the share-census scale (vᵀCv under DECIMAL(38,0), see
    * [[anisotropyCensus]]); [[abttCensus]] uses 10⁴ for the projection
    * algebra so the den²-scaled expansion also stays under 10³⁸.
    * 64 rows (i, w). */
  private def topDirV6(covS: DataFrame,
                       scale: String = "100000"): DataFrame = {
    val e = s"CAST($scale AS DECIMAL(38,0))"
    val v2s = powerTopVec(covS)
    v2s.crossJoin(broadcast(v2s.agg(max(abs(col("v"))).as("mv"))))
      .select(col("i"),
        truncDiv("CAST(v AS DECIMAL(38,0))", renormDivisor("CAST(mv AS DECIMAL(38,0))", e))
          .as("w"))
  }

  /** Single-row (n_dims, axis_max_share_e4, pc1_share_e4) over a scaled
    * covariance table and its ≤10⁵ top direction — the Rayleigh-quotient
    * share kernel shared by [[anisotropyCensus]] (before) and
    * [[abttCensus]] (after). */
  private def shareCensus(covS: DataFrame, v6: DataFrame): DataFrame = {
    val wi = v6.select(col("i"), col("w").as("w_i"))
    val wj = v6.select(col("i").as("j"), col("w").as("w_j"))
    // `div` yields LONG, so c and w ride as int64 — every product here must
    // go back through DECIMAL(38,0) (w·c·w peaks near 10²⁸ per term)
    val num = covS.join(broadcast(wi), Seq("i")).join(broadcast(wj), Seq("j"))
      .agg(sum(expr(
        """CAST(w_i AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))
           * CAST(w_j AS DECIMAL(38,0))""")).as("num"))
    val den1 = v6.agg(sum(expr(
      "CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))")).as("den1"))
    val diag = covS.filter(col("i") === col("j"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0))")).as("tr"),
        max(expr("CAST(c AS DECIMAL(38,0))")).as("diag_max"),
        count(lit(1)).as("n_dims"))
    num.crossJoin(den1).crossJoin(diag)
      .select(col("n_dims"),
        expr("CAST(10000 * diag_max div tr AS BIGINT)").as("axis_max_share_e4"),
        truncDiv("(10000 * num)", "(den1 * tr)").cast("long").as("pc1_share_e4"))
  }

  /** Anisotropy census: how much of the embedding cloud's variance the
    * dominant direction explains (the Rayleigh quotient vᵀCv / (vᵀv·tr C)
    * of the [[pcaPowerTop]] vector) next to the best AXIS-ALIGNED share
    * max_i C_ii / tr C. A large gap between the two means the collapse
    * direction is rotated — exactly the case mean-centering alone misses
    * and Mu & Viswanath's all-but-the-top correction targets; pc1 share
    * near 1 means cosine similarities are dominated by one direction and
    * ANN contrast degrades.
    *
    * Exactness: v is renormalized to ≤10⁵ magnitude so every term of
    * vᵀCv stays under DECIMAL(38,0) (10⁵·10¹⁸·10⁵·4096 ≈ 4·10³² and the
    * 1e4 scaling keeps the numerator < 4·10³⁶); shares are truncating
    * cross-multiplied integer divisions — hash-exact cross-engine. All
    * algebra after [[covScaled]] is on ≤4096-row tables with 64-row
    * broadcasts; single-row output.
    */
  def anisotropyCensus(emb: DataFrame): DataFrame = {
    val covS = covScaled(emb)
    shareCensus(covS, topDirV6(covS))
  }

  /** All-but-the-top correction census (Mu & Viswanath 2018, ICLR —
    * "All-but-the-Top: Simple and Effective Postprocessing for Word
    * Representations"): remove the mean and the dominant direction, then
    * re-measure the anisotropy. The consumer of [[anisotropyCensus]] —
    * a pc1 share near 1 says cosine contrast is eaten by one rotated
    * direction; this census reports how much contrast the correction
    * recovers, BEFORE anyone re-embeds a corpus.
    *
    * Scale shape — the whole correction is dim²-bounded algebra, ZERO
    * additional corpus passes: mean-centering is already inside the
    * covariance surrogate (C = n·Σxxᵀ − SSᵀ), and projecting the top
    * direction out of every vector transforms the covariance in closed
    * form, C' = (I − ŵŵᵀ)·C·(I − ŵŵᵀ) — so the after-census runs on C'
    * derived from the one checkpointed 4,096-row C, never on re-projected
    * vectors. (Applying the correction TO vectors at serve time is the
    * same per-row map the IVF/PQ residual paths already demonstrate.)
    *
    * Exactness: all cross-engine-exact integers. C is renormalized to
    * ≤10¹¹ (covT) and the projection direction to ≤10⁴ (wp — one decade
    * below the census direction so den = wpᵀwp ≤ 64·10⁸), making the
    * den²-scaled expansion
    * den²·C' = den²·C − den·(wpᵢuⱼ + uᵢwpⱼ) + q·wpᵢwpⱼ, with u = C·wp
    * and q = wpᵀCwp, peak near 4·10³⁰ per term and 10⁴·trC' near 10³⁷ —
    * under DECIMAL(38,0)/HUGEINT throughout. C' is then renormalized back
    * to ≤10¹⁸ and fed through the SAME power-iteration + Rayleigh kernel
    * as the before-census. tr_retained_e4 = 10⁴·trC'/(den²·trCovT) is the
    * exact variance share the correction keeps
    * (≈ 10⁴ − pc1_share_before).
    */
  def abttCensus(emb: DataFrame): DataFrame = {
    val e11 = "CAST(100000000000 AS DECIMAL(38,0))"
    val e18 = "CAST(1000000000000000000 AS DECIMAL(38,0))"
    val covS = covScaled(emb)
    val v6 = topDirV6(covS).localCheckpoint(true)
    val wp = topDirV6(covS, scale = "10000").localCheckpoint(true)
    val before = shareCensus(covS, v6)
      .select(col("n_dims"), col("pc1_share_e4").as("pc1_share_before_e4"))
    val covT = covS.crossJoin(broadcast(covS.agg(max(abs(col("c"))).as("mc"))))
      .select(col("i"), col("j"),
        truncDiv("CAST(c AS DECIMAL(38,0))",
          renormDivisor("CAST(mc AS DECIMAL(38,0))", e11)).as("c"))
      .localCheckpoint(true)
    val den = wp.agg(sum(expr(
      "CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))")).as("den"))
    val u = covT.join(broadcast(wp.select(col("i").as("j"), col("w"))), Seq("j"))
      .groupBy(col("i"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))")).as("u"))
      .localCheckpoint(true)
    val q = wp.join(u, Seq("i"))
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * u")).as("q"))
    val cp = covT
      .join(broadcast(wp.select(col("i"), col("w").as("w_i"))), Seq("i"))
      .join(broadcast(wp.select(col("i").as("j"), col("w").as("w_j"))), Seq("j"))
      .join(broadcast(u.select(col("i"), col("u").as("u_i"))), Seq("i"))
      .join(broadcast(u.select(col("i").as("j"), col("u").as("u_j"))), Seq("j"))
      .crossJoin(broadcast(den)).crossJoin(broadcast(q))
      .select(col("i"), col("j"),
        expr("""den * den * CAST(c AS DECIMAL(38,0))
               - den * (CAST(w_i AS DECIMAL(38,0)) * u_j
                        + u_i * CAST(w_j AS DECIMAL(38,0)))
               + q * CAST(w_i AS DECIMAL(38,0)) * CAST(w_j AS DECIMAL(38,0))""")
          .as("c"))
      .localCheckpoint(true)
    val cps = cp.crossJoin(broadcast(cp.agg(max(abs(col("c"))).as("mc"))))
      .select(col("i"), col("j"),
        truncDiv("c", renormDivisor("mc", e18)).as("c"))
      .localCheckpoint(true)
    val after = shareCensus(cps, topDirV6(cps))
      .select(col("pc1_share_e4").as("pc1_share_after_e4"),
        col("axis_max_share_e4").as("axis_max_share_after_e4"))
    val retained = cp.filter(col("i") === col("j")).agg(sum(col("c")).as("trp"))
      .crossJoin(broadcast(covT.filter(col("i") === col("j"))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0))")).as("trt"))))
      .crossJoin(broadcast(den))
      .select(truncDiv("(10000 * trp)", "(den * den * trt)")
        .cast("long").as("tr_retained_e4"))
    before.crossJoin(after).crossJoin(retained)
  }

  /** The all-but-the-top correction APPLIED to vectors — the serve-time
    * sibling of [[abttCensus]]: y = den·(n·x − S) − (wpᵀ(n·x − S))·wp over
    * 10⁶-scaled integer components (mean removal via the n·x − S
    * cross-multiplication, so no division ever happens), with data-derived
    * ≤10⁶ renorms before and after the projection so every product stays
    * in int64 and the final int→double cast is EXACT (components ≤10⁶ ≪
    * 2⁵³; cosine numerators are then exact integer-valued doubles both
    * engines). Returns (vec_id, label, embedding: array<double>).
    *
    * Scale shape: the direction comes from the checkpointed [[covScaled]]
    * kernel; the correction itself is a per-row map over three narrow
    * corpus passes (sums, max-renorm, projection) — no joins keyed wider
    * than a 1-row broadcast. The output is eagerly checkpointed: callers
    * (kNN eval) reference the corrected corpus from multiple plan arms,
    * and an un-cut reference would replay the whole correction per arm
    * (the r12 lesson the repeated-scan guard pins).
    */
  def abttCorrectedVectors(emb: DataFrame): DataFrame = {
    val covS = covScaled(emb)
    val wp = topDirV6(covS, scale = "10000").localCheckpoint(true)
    val wpArr = wp.agg(expr(
      "transform(array_sort(collect_list(struct(i, w))), t -> t.w)").as("wp_arr"))
    val den = wp.agg(sum(expr("w * w")).as("den")) // ≤ 64·10⁸, long-safe
    val sv = emb.select(col("vec_id"), col("label"), expr(
      "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000) AS BIGINT))")
      .as("sv"))
    val sums = sv.select(posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val sArr = sums.agg(expr(
        "transform(array_sort(collect_list(struct(i, s))), t -> t.s)").as("s_arr"),
      max(col("n")).as("n_total"))
    val z = sv.crossJoin(broadcast(sArr))
      .withColumn("z", expr("zip_with(sv, s_arr, (x, s) -> n_total * x - s)"))
    val mz = z.agg(max(expr(
      "aggregate(transform(z, v -> abs(v)), 0L, (a, v) -> greatest(a, v))")).as("mz"))
    val zr = z.crossJoin(broadcast(mz))
      .withColumn("dz", expr("CASE WHEN mz > 1000000L THEN mz div 1000000L ELSE 1L END"))
      .withColumn("zr", expr(
        "transform(z, v -> CASE WHEN v < 0 THEN -((-v) div dz) ELSE v div dz END)"))
      .select(col("vec_id"), col("label"), col("zr"))
    val proj = zr.crossJoin(broadcast(wpArr)).crossJoin(broadcast(den))
      .withColumn("p", expr(
        "aggregate(zip_with(zr, wp_arr, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
      .withColumn("y", expr("zip_with(zr, wp_arr, (zv, wv) -> den * zv - p * wv)"))
      .select(col("vec_id"), col("label"), col("y"))
    val my = proj.agg(max(expr(
      "aggregate(transform(y, v -> abs(v)), 0L, (a, v) -> greatest(a, v))")).as("my"))
    proj.crossJoin(broadcast(my))
      .withColumn("dy", expr("CASE WHEN my > 1000000L THEN my div 1000000L ELSE 1L END"))
      .select(col("vec_id"), col("label"), expr(
        """transform(y, v -> CAST(CASE WHEN v < 0 THEN -((-v) div dy)
          |                           ELSE v div dy END AS DOUBLE))""".stripMargin)
        .as("embedding"))
      .localCheckpoint(true)
  }

  /** Before/after kNN quality delta of the ABTT correction — the "did the
    * correction actually buy contrast" readout next to [[abttCensus]]'s
    * spectral shares: brute-force top-k label agreement on raw vs
    * corrected vectors, plus the neighbor-set overlap between the two
    * (how much the correction actually MOVED the kNN graph). Counts are
    * exact integers; the per-method rows union into one bounded output.
    */
  def abttKnnDelta(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val lbl = emb.select(col("vec_id"), col("label"))
    val rawK = bruteForceTopK(emb, numQueries, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val abttK = bruteForceTopK(
        abttCorrectedVectors(emb).select(col("vec_id"), col("embedding")),
        numQueries, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    def row(method: String, kset: DataFrame): DataFrame = {
      val agree = kset
        .join(broadcast(lbl.select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), Seq("query_id"))
        .join(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), Seq("neighbor_id"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("n_label") === col("q_label"), 1)).as("n_label_agree"))
      val overlap = kset.join(rawK, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap_raw"))
      agree.crossJoin(broadcast(overlap))
        .select(lit(method).as("method"), col("n_pairs"),
          col("n_label_agree"), col("n_overlap_raw"))
    }
    row("abtt", abttK).unionByName(row("raw", rawK))
      .orderBy(col("method"))
  }

  /** Effective-rank census: the eigenvalue participation ratio
    * (Σλ)²/Σλ² = tr(C)²/‖C‖²_F — the "how many directions does the cloud
    * actually use" readout (64 = isotropic, →1 = collapsed), computed
    * EXACTLY from the covariance table with no eigendecomposition at all
    * (‖C‖²_F = Σc²ᵢⱼ equals Σλ² for symmetric C). Scale-invariant, so the
    * ≤10¹⁵ renorm (needed to keep 10⁴·tr² under DECIMAL(38,0): tr² ≤
    * 4·10³³, ×10⁴ ≤ 4·10³⁷) does not bias the ratio beyond truncation.
    * One aggregate pass over the checkpointed 4,096-row table.
    */
  def effectiveRankCensus(emb: DataFrame): DataFrame = {
    val e15 = "CAST(1000000000000000 AS DECIMAL(38,0))"
    val covS = covScaled(emb)
    val covR = covS.crossJoin(broadcast(covS.agg(max(abs(col("c"))).as("mc"))))
      .select(col("i"), col("j"),
        truncDiv("CAST(c AS DECIMAL(38,0))",
          renormDivisor("CAST(mc AS DECIMAL(38,0))", e15)).as("c"))
    covR.agg(
        count(when(col("i") === col("j"), 1)).as("n_dims"),
        sum(when(col("i") === col("j"), expr("CAST(c AS DECIMAL(38,0))"))).as("tr"),
        max(when(col("i") === col("j"), col("c"))).as("dmax"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))")).as("frob"))
      .select(col("n_dims"),
        expr("CAST(10000 * CAST(dmax AS DECIMAL(38,0)) div tr AS BIGINT)")
          .as("axis_max_share_e4"),
        truncDiv("(10000 * tr * tr)", "frob").cast("long").as("eff_rank_e4"))
  }

  def hardNegatives(emb: DataFrame, numQueries: Int, k: Int,
                    margin: Double): DataFrame = {
    val base = withNorm(emb)
    val anchors = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val scored = base.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        expr(dotExpr("embedding", "q_emb")) / (col("norm") * col("q_norm")))
    // hardest positive per anchor: max is order-independent — deterministic
    val posBest = scored.filter(col("label") === col("q_label"))
      .groupBy(col("query_id")).agg(max(col("cosine")).as("pos_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.filter(col("label") =!= col("q_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(posBest), Seq("query_id"))
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("label").as("neg_label"),
        col("cosine"),
        (col("cosine") < col("pos_cos") &&
          col("cosine") > col("pos_cos") - lit(margin)).as("semi_hard"))
  }
}
