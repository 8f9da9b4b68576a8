package graft.queries

import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}
import graft.ops.Similarity

/** Similarity search over `embeddings` — cosine doubles are emitted raw:
  * both engines fold the dot product sequentially in double, which is
  * bit-identical (verified; see ops.Similarity determinism contract).
  *
  * The oracle SQL for each index lives in a parameterized builder so the
  * recall report can compose the EXACT same pipelines it grades.
  */
object SimilarityQueries {

  /** DuckDB mirror of Similarity.dotExpr: index-driven sequential product sum. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private val planesSql =
    s"""planes AS (
       |  SELECT m.m, list_transform(range(0, 64),
       |    i -> (CAST('0x' || substr(md5(CAST(m.m AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000) AS w
       |  FROM (SELECT unnest(range(0, 8)) AS m) m)""".stripMargin

  /** DuckDB mirror of Similarity.bruteForceTopK (and its TopKAggregator
    * twin, which shares the oracle).
    */
  private def bruteSql(numQueries: Int, k: Int): String =
    s"""WITH base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
              FROM base WHERE vec_id < $numQueries),
        scored AS (
          SELECT q.query_id, b.vec_id,
                 ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm) AS cosine
          FROM base b, q WHERE b.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** DuckDB mirror of Similarity.beamSearchTopK: same ⌈√n⌉-cell IVF
    * assignment, degree-capped edge table + chain edge, per-query
    * own-cell entry, then the beam rounds unrolled (each MATERIALIZED —
    * every round references its predecessor twice).
    */
  private def beamGraphSql(numQueries: Int, k: Int, degree: Int,
                           beam: Int, rounds: Int,
                           centsPred: String =
                             "vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"
                          ): String = {
    val roundsSql = (1 to rounds).map { r =>
      val prev = s"b${r - 1}"
      s"""e$r AS (
         |  SELECT query_id, e.dst AS node
         |  FROM $prev JOIN edges e ON e.src = $prev.node
         |  UNION
         |  SELECT query_id, node FROM $prev),
         |b$r AS MATERIALIZED (
         |  SELECT query_id, node, cosine FROM (
         |    SELECT x.query_id, x.node,
         |           ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine,
         |           ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY
         |             ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm)
         |               DESC, x.node) AS brank
         |    FROM e$r x JOIN base n ON n.vec_id = x.node
         |               JOIN q ON q.query_id = x.query_id)
         |  WHERE brank <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
       |          FROM base WHERE $centsPred),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT b.vec_id, b.embedding, b.norm, c.c_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
       |               DESC, c.c_id) AS r
       |    FROM base b, cents c)
       |  WHERE r = 1),
       |grank AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |           ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
       |             DESC, c.vec_id) AS gr
       |  FROM assigned a JOIN assigned c
       |    ON a.cell = c.cell AND a.vec_id <> c.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM grank WHERE gr <= $degree
       |  UNION
       |  SELECT a.vec_id, b.vec_id FROM base a JOIN base b ON b.vec_id = a.vec_id + 1),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |  FROM base WHERE vec_id < $numQueries),
       |b0 AS MATERIALIZED (
       |  SELECT q.query_id, n.vec_id AS node,
       |         ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine
       |  FROM q JOIN assigned a ON a.vec_id = q.query_id
       |         JOIN base n ON n.vec_id = a.cell),
       |$roundsSql,
       |truth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |             ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b, q WHERE b.vec_id <> q.query_id)
       |  WHERE rank <= $k)
       |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.node AS neighbor_id,
       |       f.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM (
       |  SELECT query_id, node, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, node) AS rank
       |  FROM b$rounds WHERE node <> query_id) f
       |LEFT JOIN truth t ON t.query_id = f.query_id AND t.neighbor_id = f.node
       |WHERE f.rank <= $k
       |ORDER BY f.query_id, f.rank""".stripMargin
  }

  /** DuckDB mirror of Similarity.graphPqTopK: beamGraphSql's graph CTEs
    * (exact-vector build, own-cell entry) with the beam rounds scored
    * against the pqReconCtes reconstructions (materialized once — the
    * rounds reference it 7×) and the final beam exactly re-ranked.
    */
  private def graphPqSql(numQueries: Int, k: Int, degree: Int, beam: Int,
                         rounds: Int, m: Int, ksub: Int, subDim: Int,
                         centsPred: String =
                           "vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)",
                         cbPred: String = ""): String = {
    def pqdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * CAST($b[i] AS DOUBLE)))"
    val roundsSql = (1 to rounds).map { r =>
      val prev = s"b${r - 1}"
      s"""e$r AS (
         |  SELECT query_id, e.dst AS node
         |  FROM $prev JOIN edges e ON e.src = $prev.node
         |  UNION
         |  SELECT query_id, node FROM $prev),
         |b$r AS MATERIALIZED (
         |  SELECT query_id, node, cosine FROM (
         |    SELECT x.query_id, x.node,
         |           ${pqdot("r.rv", "q.q_emb")} / (r.recon_norm * q.q_norm) AS cosine,
         |           ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY
         |             ${pqdot("r.rv", "q.q_emb")} / (r.recon_norm * q.q_norm)
         |               DESC, x.node) AS brank
         |    FROM e$r x JOIN rnm r ON r.vec_id = x.node
         |               JOIN q ON q.query_id = x.query_id)
         |  WHERE brank <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
       |          FROM base
       |          WHERE $centsPred),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, norm, cell FROM (
       |    SELECT b.vec_id, b.embedding, b.norm, c.c_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
       |               DESC, c.c_id) AS r
       |    FROM base b, cents c)
       |  WHERE r = 1),
       |grank AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |           ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
       |             DESC, c.vec_id) AS gr
       |  FROM assigned a JOIN assigned c
       |    ON a.cell = c.cell AND a.vec_id <> c.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM grank WHERE gr <= $degree
       |  UNION
       |  SELECT a.vec_id, b.vec_id FROM base a JOIN base b ON b.vec_id = a.vec_id + 1),
       |${pqReconCtes(m, ksub, subDim, cbPred)},
       |rnm AS MATERIALIZED (SELECT vec_id, rv, recon_norm FROM rn),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |  FROM base WHERE vec_id < $numQueries),
       |b0 AS MATERIALIZED (
       |  SELECT q.query_id, r.vec_id AS node,
       |         ${pqdot("r.rv", "q.q_emb")} / (r.recon_norm * q.q_norm) AS cosine
       |  FROM q JOIN assigned a ON a.vec_id = q.query_id
       |         JOIN rnm r ON r.vec_id = a.cell),
       |$roundsSql,
       |truth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |             ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b, q WHERE b.vec_id <> q.query_id)
       |  WHERE rank <= $k)
       |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.node AS neighbor_id,
       |       f.cosine_pq, f.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM (
       |  SELECT x.query_id, x.node, x.cosine AS cosine_pq,
       |         ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine,
       |         ROW_NUMBER() OVER (PARTITION BY x.query_id
       |           ORDER BY ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm)
       |             DESC, x.node) AS rank
       |  FROM b$rounds x JOIN base n ON n.vec_id = x.node
       |                  JOIN q ON q.query_id = x.query_id
       |  WHERE x.node <> x.query_id) f
       |LEFT JOIN truth t ON t.query_id = f.query_id AND t.neighbor_id = f.node
       |WHERE f.rank <= $k
       |ORDER BY f.query_id, f.rank""".stripMargin
  }

  /** DuckDB mirror of Similarity.oneBitTopK: 60-bit sign signature,
    * Hamming coarse rank, exact-cosine rerank of the survivors,
    * brute-truth flags — shared by the standalone query and the recall
    * ladder.
    */
  private def onebitSql(numQueries: Int, k: Int, candidates: Int): String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(range(1, 65),
       |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm,
       |         CAST(list_sum(list_transform(range(0, 60),
       |           i -> CASE WHEN CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) > 0
       |                     THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
       |                     ELSE 0 END)) AS BIGINT) AS sig
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb,
       |             norm AS q_norm, sig AS q_sig
       |      FROM base WHERE vec_id < $numQueries),
       |coarse AS (
       |  SELECT q.query_id, b.vec_id, b.embedding, b.norm, q.q_emb, q.q_norm,
       |         CAST(bit_count(xor(b.sig, q.q_sig)) AS INT) AS hamming,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                            ORDER BY bit_count(xor(b.sig, q.q_sig)), b.vec_id)
       |           AS crank
       |  FROM base b, q WHERE b.vec_id <> q.query_id),
       |surv AS (SELECT * FROM coarse WHERE crank <= $candidates),
       |ranked AS (
       |  SELECT query_id, vec_id, hamming,
       |         list_sum(list_transform(range(1, 65),
       |           i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
       |           / (norm * q_norm) AS cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |           list_sum(list_transform(range(1, 65),
       |             i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
       |             / (norm * q_norm) DESC, vec_id) AS rank
       |  FROM surv),
       |truth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |             list_sum(list_transform(range(1, 65),
       |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
       |               / (b.norm * q.q_norm) DESC, b.vec_id) AS rank
       |    FROM base b, q WHERE b.vec_id <> q.query_id)
       |  WHERE rank <= $k)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank,
       |       r.vec_id AS neighbor_id, r.hamming, r.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM ranked r
       |LEFT JOIN truth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** DuckDB mirror of Similarity.matryoshkaTopK: prefix-dim coarse rank,
    * top-C survivors, full-vector rerank, brute-truth flags.
    */
  private def matryoshkaSql(numQueries: Int, k: Int,
                            prefixDims: Int, candidates: Int): String = {
    def pdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${prefixDims + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"""WITH base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm,
                 sqrt(${pdot("embedding", "embedding")}) AS pnorm
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                     norm AS q_norm, pnorm AS q_pnorm
              FROM base WHERE vec_id < $numQueries),
        coarse AS (
          SELECT q.query_id, b.vec_id, b.embedding, b.norm, q.q_emb, q.q_norm,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ${pdot("b.embedding", "q.q_emb")} / (b.pnorm * q.q_pnorm) DESC,
                            b.vec_id) AS crank
          FROM base b, q WHERE b.vec_id <> q.query_id),
        reranked AS (
          SELECT query_id, vec_id,
                 ${dotSql("embedding", "q_emb")} / (norm * q_norm) AS cosine
          FROM coarse WHERE crank <= $candidates),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM reranked),
        truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t)
        SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
               r.cosine,
               CAST(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                 AS exact_hit
        FROM ranked r LEFT JOIN truth t
          ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
        WHERE r.rank <= $k ORDER BY r.query_id, r.rank"""
  }

  /** DuckDB mirror of Similarity.lshTopK (single-probe). */
  private def lshSql(numQueries: Int, k: Int): String =
    s"""WITH $planesSql,
        base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings),
        bits AS (
          SELECT b.vec_id,
                 sum(CASE WHEN ${dotSql("b.embedding", "p.w")} >= 0
                          THEN (CAST(1 AS BIGINT) << CAST(p.m AS INT))
                          ELSE 0 END) AS bucket
          FROM base b, planes p GROUP BY b.vec_id),
        bucketed AS (
          SELECT b.vec_id, b.embedding, b.norm, bt.bucket
          FROM base b JOIN bits bt ON b.vec_id = bt.vec_id),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, bucket
              FROM bucketed WHERE vec_id < $numQueries),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 ${dotSql("c.embedding", "q.q_emb")} / (c.norm * q.q_norm) AS cosine
          FROM bucketed c JOIN q ON c.bucket = q.bucket
          WHERE c.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** DuckDB mirror of Similarity.lshMultiProbeTopK (bucket + Hamming-1).
    * `numQueries = None` mirrors [[Similarity.multiProbeTopKAggAll]] —
    * the whole corpus queries, with no id-bound predicate (the old
    * `2147483647` literal sentinel is gone from both engines).
    */
  private def lshMultiprobeSql(numQueries: Int, k: Int): String =
    lshMultiprobeSqlImpl(Some(numQueries), k)

  private def lshMultiprobeAllSql(k: Int): String =
    lshMultiprobeSqlImpl(None, k)

  private def lshMultiprobeSqlImpl(numQueries: Option[Int], k: Int): String = {
    val qPred = numQueries.fold("TRUE")(n => s"vec_id < $n")
    s"""WITH $planesSql,
        base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings),
        bits AS (
          SELECT b.vec_id,
                 sum(CASE WHEN ${dotSql("b.embedding", "p.w")} >= 0
                          THEN (CAST(1 AS BIGINT) << CAST(p.m AS INT))
                          ELSE 0 END) AS bucket
          FROM base b, planes p GROUP BY b.vec_id),
        bucketed AS (
          SELECT b.vec_id, b.embedding, b.norm, bt.bucket
          FROM base b JOIN bits bt ON b.vec_id = bt.vec_id),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, bucket
              FROM bucketed WHERE $qPred),
        probes AS (
          SELECT query_id, q_emb, q_norm,
                 unnest(list_prepend(bucket,
                   list_transform(range(0, 8),
                     m -> xor(bucket, CAST(1 AS BIGINT) << CAST(m AS INT))))) AS probe
          FROM q),
        scored AS (
          SELECT p.query_id, c.vec_id,
                 ${dotSql("c.embedding", "p.q_emb")} / (c.norm * p.q_norm) AS cosine
          FROM bucketed c JOIN probes p ON c.bucket = p.probe
          WHERE c.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB mirror of Similarity.ivfTopK (first-16-vectors quantizer,
    * nprobe=1).
    */
  private def ivfSql(numQueries: Int, k: Int): String =
    s"""WITH base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings),
        cents AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
                  FROM base WHERE vec_id < 16),
        assigned AS (
          SELECT vec_id, embedding, norm, cell FROM (
            SELECT b.vec_id, b.embedding, b.norm, c.c_id AS cell,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm) DESC,
                              c.c_id) AS r
            FROM base b, cents c)
          WHERE r = 1),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, cell
              FROM assigned WHERE vec_id < $numQueries),
        scored AS (
          SELECT q.query_id, a.vec_id,
                 ${dotSql("a.embedding", "q.q_emb")} / (a.norm * q.q_norm) AS cosine
          FROM assigned a JOIN q ON a.cell = q.cell
          WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
        FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** DuckDB mirror of Similarity.kmeansCentroids + ivfKmeansTopK with the
    * Lloyd iterations unrolled. Every float expression matches the Spark
    * side op-for-op (sequential list folds, integer-scaled centroid means,
    * one final double division) so the cosines hash-compare exactly.
    */
  /** The kmeans-quantizer CTE prefix shared by [[kmeansIvfSql]] and
    * [[ivfPqSql]]: base/sv/c0 + two unrolled Lloyd iterations + the final
    * assignment (`corpus`: every vector's cell; `q`: each query's nprobe
    * cells).
    */
  private def kmeansAssignCtes(centroids: Int, nprobe: Int, numQueries: Int,
                               trainPred: String = "TRUE"): String = {
    // `trainPred` (over bare vec_id) restricts the TRAINING set — init and
    // Lloyd passes — while `fin`/`corpus` still assign EVERY vector
    // (mirrors Similarity.ivfIndexBuild on a subset + ivfIndexAdd of the
    // rest: assignment against the final centroids is a pure function, so
    // build+add == one full assignment pass). Default TRUE = train on all.
    // assignment pass: nearest cell by dot(v, c)/|c|, ties to the lower c_id
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT b.vec_id, c.c_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.embedding", "c.c")} / sqrt(${dotSql("c.c", "c.c")}) DESC,
         |                      c.c_id) AS r
         |    FROM base b, $cents c WHERE ($trainPred)) WHERE r = 1)""".stripMargin
    // update pass: component-wise mean over scaled-integer vectors;
    // empty cells keep the previous center
    def update(assigned: String, prev: String, next: String) =
      s"""${next}_m AS (
         |  SELECT a.cell AS c_id, t.i AS pos, SUM(s.sv[t.i + 1]) AS ssum, COUNT(*) AS n
         |  FROM $assigned a JOIN sv s ON s.vec_id = a.vec_id,
         |       (SELECT unnest(range(0, 64)) AS i) t
         |  GROUP BY a.cell, t.i),
         |$next AS (
         |  SELECT p.c_id, COALESCE(mm.mc, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT c_id,
         |           list(CAST(ssum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) ORDER BY pos) AS mc
         |    FROM ${next}_m GROUP BY c_id) mm ON mm.c_id = p.c_id)""".stripMargin
    s"""base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS c_id,
       |         list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS c
       |  FROM embeddings WHERE vec_id < $centroids AND ($trainPred)),
       |${assign("a1", "c0")},
       |${update("a1", "c0", "c1")},
       |${assign("a2", "c1")},
       |${update("a2", "c1", "c2")},
       |fin AS (
       |  SELECT b.vec_id, c.c_id AS cell,
       |         ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |           ORDER BY ${dotSql("b.embedding", "c.c")} / (b.norm * sqrt(${dotSql("c.c", "c.c")})) DESC,
       |                    c.c_id) AS r
       |  FROM base b, c2 c),
       |corpus AS (SELECT vec_id, cell FROM fin WHERE r = 1),
       |q AS (SELECT vec_id AS query_id, cell FROM fin
       |      WHERE r <= $nprobe AND vec_id < $numQueries)""".stripMargin
  }

  /** DuckDB mirror of Similarity.semDedupCensus: the shared kmeans
    * assignment CTEs (corpus = every vector's single nearest cell), then
    * within-cell min-id-wins pruning and the integer census. The `q` CTE
    * the prefix also defines goes unreferenced (numQueries = 0) and DuckDB
    * never evaluates it.
    */
  private def semDedupSql(centroids: Int, tau: String): String =
    s"""WITH ${kmeansAssignCtes(centroids, nprobe = 1, numQueries = 0)},
       |dropped AS (
       |  SELECT DISTINCT cb.vec_id
       |  FROM corpus ca JOIN corpus cb
       |    ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
       |  JOIN base a ON a.vec_id = ca.vec_id
       |  JOIN base b ON b.vec_id = cb.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= $tau)
       |SELECT CAST(co.cell AS BIGINT) AS cell, count(*) AS n_vecs,
       |       count(d.vec_id) AS n_dropped,
       |       count(*) - count(d.vec_id) AS n_kept
       |FROM corpus co LEFT JOIN dropped d ON d.vec_id = co.vec_id
       |GROUP BY co.cell ORDER BY cell""".stripMargin

  private def kmeansIvfSql(centroids: Int, nprobe: Int, numQueries: Int, topK: Int,
                           trainPred: String = "TRUE"): String = {
    s"""WITH ${kmeansAssignCtes(centroids, nprobe, numQueries, trainPred)},
       |scored AS (
       |  SELECT q.query_id, co.vec_id,
       |         ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm) AS cosine
       |  FROM corpus co JOIN q ON co.cell = q.cell
       |  JOIN base b ON b.vec_id = co.vec_id
       |  JOIN base qb ON qb.vec_id = q.query_id
       |  WHERE co.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of Similarity.beamWidthReport: one beamGraphSql /
    * graphPqSql pipeline per width, each semi-joined against the shared
    * brute truth. (The Spark side shares ONE graph build across all
    * arms; the oracle pays the rebuilds — correctness mirror only.)
    */
  private def beamWidthSql(numQueries: Int, k: Int, degree: Int,
                           rounds: Int, widths: Seq[Int],
                           pqWidths: Seq[Int] = Seq(24, 48, 96),
                           m: Int = 8, ksub: Int = 16, subDim: Int = 8): String = {
    val nTruth = numQueries * k
    val ctes = (widths.map(w =>
      f"bw$w%02d AS (SELECT query_id, neighbor_id FROM (${beamGraphSql(numQueries, k, degree, w, rounds)}) t)") ++
      pqWidths.map(w =>
        f"gp$w%02d AS (SELECT query_id, neighbor_id FROM (${graphPqSql(numQueries, k, degree, w, rounds, m, ksub, subDim)}) t)"))
      .mkString(",\n")
    val rows = (widths.map(w =>
      f"""SELECT 'beam_$w%02d' AS method,
         |       (SELECT count(*) FROM bw$w%02d a JOIN truth t
         |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin) ++
      pqWidths.map(w =>
        f"""SELECT 'graphpq_$w%02d' AS method,
           |       (SELECT count(*) FROM gp$w%02d a JOIN truth t
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin))
      .mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t),
       |$ctes
       |SELECT method, CAST($nTruth AS BIGINT) AS n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / $nTruth AS recall
       |FROM ($rows) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.filteredIvfKmeansTopK: the shared
    * kmeans assignment CTEs (quantizer trained on the FULL corpus), the
    * label predicate applied at the inverted-list scan, and truth flags
    * against the exact top-k over the predicate-filtered corpus.
    */
  private def filteredIvfSql(labelValue: Int, centroids: Int, nprobe: Int,
                             numQueries: Int, k: Int): String =
    s"""WITH ${kmeansAssignCtes(centroids, nprobe, numQueries)},
       |scored AS (
       |  SELECT q.query_id, co.vec_id,
       |         ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm) AS cosine
       |  FROM corpus co JOIN q ON co.cell = q.cell
       |  JOIN embeddings e ON e.vec_id = co.vec_id AND e.label = $labelValue
       |  JOIN base b ON b.vec_id = co.vec_id
       |  JOIN base qb ON qb.vec_id = q.query_id
       |  WHERE co.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored),
       |ftruth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT qb.vec_id AS query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
       |             ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b
       |    JOIN embeddings e ON e.vec_id = b.vec_id AND e.label = $labelValue,
       |         base qb
       |    WHERE qb.vec_id < $numQueries AND b.vec_id <> qb.vec_id)
       |  WHERE rank <= $k)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
       |       r.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM ranked r LEFT JOIN ftruth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** DuckDB mirror of Similarity.filteredIvfPqTopK: the shared kmeans
    * assignment + PQ reconstruction CTEs (ONE full-corpus codebook — the
    * single-index property), the label filter at the probed-cell scan,
    * ADC coarse rank to `rerank` survivors, exact rerank to top-k, each
    * row truth-flagged against the same pre-filtered exact truth the
    * whole filtered family grades on.
    */
  private def filteredIvfPqSql(labelValue: Int, centroids: Int, nprobe: Int,
                               numQueries: Int, k: Int,
                               m: Int, ksub: Int, subDim: Int,
                               rerank: Int): String =
    s"""WITH ${kmeansAssignCtes(centroids, nprobe, numQueries)},
       |${pqReconCtes(m, ksub, subDim)},
       |coarse AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT pq.query_id, co.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY pq.query_id
       |             ORDER BY list_sum(list_transform(range(1, 65),
       |               i -> r.rv[i] * CAST(qb.embedding[i] AS DOUBLE))) / (r.recon_norm * qb.norm) DESC,
       |               co.vec_id) AS crank
       |    FROM corpus co JOIN q pq ON co.cell = pq.cell
       |    JOIN embeddings e ON e.vec_id = co.vec_id AND e.label = $labelValue
       |    JOIN rn r ON r.vec_id = co.vec_id
       |    JOIN base qb ON qb.vec_id = pq.query_id
       |    WHERE co.vec_id <> pq.query_id)
       |  WHERE crank <= $rerank),
       |reranked AS (
       |  SELECT c.query_id, c.vec_id,
       |         ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm) AS cosine,
       |         ROW_NUMBER() OVER (PARTITION BY c.query_id
       |           ORDER BY ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm)
       |             DESC, c.vec_id) AS rank
       |  FROM coarse c JOIN base b ON b.vec_id = c.vec_id
       |  JOIN base qb ON qb.vec_id = c.query_id),
       |ftruth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT qb.vec_id AS query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
       |             ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b
       |    JOIN embeddings e ON e.vec_id = b.vec_id AND e.label = $labelValue,
       |         base qb
       |    WHERE qb.vec_id < $numQueries AND b.vec_id <> qb.vec_id)
       |  WHERE rank <= $k)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
       |       r.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM reranked r LEFT JOIN ftruth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** Shared CTE head of the filtered graph-walk mirrors: the
    * beamGraphSql graph (⌈√n⌉ cells, degree-capped edges + chain) with
    * `label` riding the base projection, the query-to-centroids entry
    * ranking `e0` (arms are rank-prefixes — the multi-entry knob), plus
    * the predicate-filtered exact truth. Arm-independent — the card
    * shares it across every arm (unlike beamWidthSql's full rebuilds,
    * the filtered arms differ only in their entry prefix + round CTEs).
    */
  private def filteredGraphHead(labelValue: Int, numQueries: Int, k: Int,
                                degree: Int): String =
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, embedding, label,
       |         sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
       |          FROM base
       |          WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
       |                          FROM embeddings)),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, norm, label, cell FROM (
       |    SELECT b.vec_id, b.embedding, b.norm, b.label, c.c_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
       |               DESC, c.c_id) AS r
       |    FROM base b, cents c)
       |  WHERE r = 1),
       |grank AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |           ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
       |             DESC, c.vec_id) AS gr
       |  FROM assigned a JOIN assigned c
       |    ON a.cell = c.cell AND a.vec_id <> c.vec_id),
       |grankl AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |           ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
       |             DESC, c.vec_id) AS gr
       |  FROM assigned a JOIN assigned c
       |    ON a.cell = c.cell AND a.label = c.label AND a.vec_id <> c.vec_id),
       |chainl AS (
       |  SELECT vec_id AS src,
       |         LEAD(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS dst
       |  FROM assigned),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM grank WHERE gr <= $degree
       |  UNION
       |  SELECT a.vec_id, b.vec_id FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
       |  UNION
       |  SELECT src, dst FROM grankl WHERE gr <= $degree
       |  UNION
       |  SELECT src, dst FROM chainl WHERE dst IS NOT NULL),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |  FROM base WHERE vec_id < $numQueries),
       |e0 AS MATERIALIZED (
       |  SELECT q.query_id, n.vec_id AS node,
       |         ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |           ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm)
       |             DESC, n.vec_id) AS er
       |  FROM q, base n
       |  WHERE n.vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
       |                    FROM embeddings)),
       |ftruth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT qb.vec_id AS query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
       |             ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b, base qb
       |    WHERE b.label = $labelValue AND qb.vec_id < $numQueries
       |      AND b.vec_id <> qb.vec_id)
       |  WHERE rank <= $k)""".stripMargin

  /** One filtered-walk arm's round CTEs (prefix-named so arms coexist in
    * one WITH) — the filtered walk of Similarity's walk kernel
    * verbatim: the frontier f_r unions the routing beam b_{r-1} with the
    * top-beam of the matched pool p_{r-1} (result-driven expansion, the
    * Filtered-DiskANN search shape), e_r expands it one hop, s_r scores
    * the whole expanded set (materialized — it feeds the pool and both
    * frontiers), p_r accumulates the label matches (UNION == the
    * driver's pool set), and b_r is the unfiltered routing cut. The
    * arm's `${p}pool` is p_rounds.
    */
  private def filteredArmCtes(p: String, labelValue: Int, entries: Int,
                              beam: Int, rounds: Int): String = {
    val entryCte =
      s"""${p}b0 AS (SELECT query_id, node, cosine FROM e0 WHERE er <= $entries)"""
    val roundCtes = (1 to rounds).map { r =>
      val prevB = s"${p}b${r - 1}"
      val frontier =
        if (r == 1)
          s"""${p}f$r AS (SELECT query_id, node FROM $prevB)"""
        else
          s"""${p}f$r AS (
             |  SELECT query_id, node FROM $prevB
             |  UNION
             |  SELECT query_id, node FROM ${p}mb${r - 1})""".stripMargin
      val poolCte =
        if (r == 1)
          s"""${p}p$r AS MATERIALIZED (
             |  SELECT query_id, node, cosine FROM ${p}s$r
             |  WHERE label = $labelValue)""".stripMargin
        else
          s"""${p}p$r AS MATERIALIZED (
             |  SELECT query_id, node, cosine FROM ${p}p${r - 1}
             |  UNION
             |  SELECT query_id, node, cosine FROM ${p}s$r
             |  WHERE label = $labelValue)""".stripMargin
      s"""$frontier,
         |${p}e$r AS (
         |  SELECT query_id, e.dst AS node
         |  FROM ${p}f$r JOIN edges e ON e.src = ${p}f$r.node
         |  UNION
         |  SELECT query_id, node FROM ${p}f$r),
         |${p}s$r AS MATERIALIZED (
         |  SELECT x.query_id, x.node, n.label,
         |         ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine
         |  FROM ${p}e$r x JOIN base n ON n.vec_id = x.node
         |                 JOIN q ON q.query_id = x.query_id),
         |$poolCte,
         |${p}mb$r AS (
         |  SELECT query_id, node FROM (
         |    SELECT query_id, node,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, node) AS brank
         |    FROM ${p}p$r)
         |  WHERE brank <= $beam),
         |${p}b$r AS MATERIALIZED (
         |  SELECT query_id, node, cosine FROM (
         |    SELECT query_id, node, cosine,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, node) AS brank
         |    FROM ${p}s$r)
         |  WHERE brank <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""$entryCte,
       |$roundCtes,
       |${p}pool AS (SELECT query_id, node, cosine FROM ${p}p$rounds)""".stripMargin
  }

  /** DuckDB mirror of Similarity.filteredGraphTopK: the shared graph
    * head + one filtered-walk arm, per-hit rows with exact_hit flags
    * against the predicate-filtered truth.
    */
  private def graphFilteredSql(labelValue: Int, numQueries: Int, k: Int,
                               degree: Int, entries: Int, beam: Int,
                               rounds: Int): String =
    s"""WITH ${filteredGraphHead(labelValue, numQueries, k, degree)},
       |${filteredArmCtes("f", labelValue, entries, beam, rounds)},
       |ranked AS (
       |  SELECT query_id, node, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, node) AS rank
       |  FROM fpool WHERE node <> query_id)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.node AS neighbor_id,
       |       r.cosine,
       |       CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS exact_hit
       |FROM ranked r LEFT JOIN ftruth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.node
       |WHERE r.rank <= $k
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** DuckDB mirror of Similarity.graphFilteredBeamReport: the shared
    * graph head + one filtered-walk arm per entry count (all at the
    * serving beam), each arm's pool top-k counted against the shared
    * filtered truth.
    */
  private def graphFilteredBeamSql(labelValue: Int, numQueries: Int, k: Int,
                                   degree: Int, arms: Seq[(Int, Int)],
                                   rounds: Int): String = {
    val armCtes = arms.map { case (e, b) =>
      filteredArmCtes(f"a$e%02d_$b%03d_", labelValue, e, b, rounds)
    }.mkString(",\n")
    val rows = arms.map { case (e, b) =>
      val p = f"a$e%02d_$b%03d_"
      f"""SELECT 'filtered_e$e%02d_b$b%03d' AS method,
         |       (SELECT CAST(count(*) AS BIGINT) FROM ftruth) AS n_truth,
         |       (SELECT count(*) FROM (
         |          SELECT query_id, node FROM (
         |            SELECT query_id, node,
         |                   ROW_NUMBER() OVER (PARTITION BY query_id
         |                                      ORDER BY cosine DESC, node) AS rank
         |            FROM ${p}pool WHERE node <> query_id)
         |          WHERE rank <= $k%d) a
         |        JOIN ftruth t ON t.query_id = a.query_id
         |                     AND t.neighbor_id = a.node) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${filteredGraphHead(labelValue, numQueries, k, degree)},
       |$armCtes
       |SELECT method, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall
       |FROM ($rows) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.rerankWidthReport: one full rung
    * pipeline per (family, C) arm — onebitSql / matryoshkaSql / rqSql at
    * each candidate count — each semi-joined against the shared brute
    * truth. (The Spark side computes each family's coarse rank once and
    * derives the C arms as prefixes; the oracle pays the per-arm
    * pipelines — correctness mirror only.)
    */
  private def rerankWidthSql(numQueries: Int, k: Int,
                             onebitCs: Seq[Int], matryCs: Seq[Int],
                             rqCs: Seq[Int]): String = {
    val nTruth = numQueries * k
    val ctes = (onebitCs.map(c =>
      f"ob$c%03d AS (SELECT query_id, neighbor_id FROM (${onebitSql(numQueries, k, c)}) t)") ++
      matryCs.map(c =>
        f"ma$c%03d AS (SELECT query_id, neighbor_id FROM (${matryoshkaSql(numQueries, k, 16, c)}) t)") ++
      rqCs.map(c =>
        f"rq$c%03d AS (SELECT query_id, neighbor_id FROM (${rqSql(numQueries, k, 16, 16, c)}) t)"))
      .mkString(",\n")
    val rows = (onebitCs.map(c =>
      f"""SELECT 'onebit_c$c%03d' AS method,
         |       (SELECT count(*) FROM ob$c%03d a JOIN truth t
         |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin) ++
      matryCs.map(c =>
        f"""SELECT 'matry_c$c%03d' AS method,
           |       (SELECT count(*) FROM ma$c%03d a JOIN truth t
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin) ++
      rqCs.map(c =>
        f"""SELECT 'rq_c$c%03d' AS method,
           |       (SELECT count(*) FROM rq$c%03d a JOIN truth t
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin))
      .mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t),
       |$ctes
       |SELECT method, CAST($nTruth AS BIGINT) AS n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / $nTruth AS recall
       |FROM ($rows) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.recallReport: the same twelve index
    * pipelines at their shipping defaults, each semi-joined against the
    * same brute-force truth set.
    */
  private def recallSql(numQueries: Int, k: Int): String = {
    val nTruth = numQueries * k
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t),
        bg AS (SELECT query_id, neighbor_id
               FROM (${beamGraphSql(numQueries, k, 6, 8, 6)}) t),
        gp AS (SELECT query_id, neighbor_id
               FROM (${graphPqSql(numQueries, k, 6, 96, 6, 8, 16, 8)}) t),
        km AS (SELECT query_id, neighbor_id FROM (${kmeansIvfSql(8, 2, numQueries, k)}) t),
        iv AS (SELECT query_id, neighbor_id FROM (${ivfSql(numQueries, k)}) t),
        ip AS (SELECT query_id, neighbor_id
               FROM (${ivfPqSql(8, 2, numQueries, k, 8, 16, 8)}) t),
        mp AS (SELECT query_id, neighbor_id FROM (${lshMultiprobeSql(numQueries, k)}) t),
        ls AS (SELECT query_id, neighbor_id FROM (${lshSql(numQueries, k)}) t),
        ma AS (SELECT query_id, neighbor_id
               FROM (${matryoshkaSql(numQueries, k, 16, 32)}) t),
        ob AS (SELECT query_id, neighbor_id
               FROM (${onebitSql(numQueries, k, 12)}) t),
        pq AS (SELECT query_id, neighbor_id FROM (${pqSql(numQueries, k, 8, 16, 8)}) t),
        rq AS (SELECT query_id, neighbor_id
               FROM (${rqSql(numQueries, k, 16, 16, 128)}) t),
        s8 AS (SELECT query_id, neighbor_id FROM (${sq8Sql(numQueries, k)}) t)
        SELECT method, CAST($nTruth AS BIGINT) AS n_truth, n_hits,
               CAST(n_hits AS DOUBLE) / $nTruth AS recall
        FROM (
          SELECT 'beam_graph' AS method,
                 (SELECT count(*) FROM bg a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits
          UNION ALL
          SELECT 'graph_pq',
                 (SELECT count(*) FROM gp a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'ivf_kmeans_nprobe2',
                 (SELECT count(*) FROM km a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'ivf_nprobe1',
                 (SELECT count(*) FROM iv a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'ivf_pq',
                 (SELECT count(*) FROM ip a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'lsh_multiprobe',
                 (SELECT count(*) FROM mp a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'lsh_single',
                 (SELECT count(*) FROM ls a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'matryoshka',
                 (SELECT count(*) FROM ma a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'onebit',
                 (SELECT count(*) FROM ob a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'pq',
                 (SELECT count(*) FROM pq a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'rq',
                 (SELECT count(*) FROM rq a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
          UNION ALL
          SELECT 'sq8',
                 (SELECT count(*) FROM s8 a JOIN truth t
                    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
        ) ORDER BY method"""
  }

  /** DuckDB mirror of Similarity.withSq8 + sq8TopK: per-dim min/scale →
    * codes → midpoint reconstruction → asymmetric cosine top-k, each hit
    * flagged against the exact brute-force truth. `CAST(... AS INT)` on
    * the code is safe cross-engine because the value is an integral
    * double after floor (DuckDB's rounding cast == truncation there).
    */
  private def sq8Sql(numQueries: Int, k: Int): String =
    s"""WITH expl AS (
          SELECT e.vec_id, g.i, CAST(e.embedding[g.i] AS DOUBLE) AS x
          FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) g),
        stats AS (
          SELECT i, min(x) AS lo, (max(x) - min(x)) / 255 AS scale
          FROM expl GROUP BY i),
        qd AS (
          SELECT e.vec_id, e.i,
                 CASE WHEN s.scale = 0 THEN s.lo
                      ELSE s.lo + (CAST(CAST(least(floor((e.x - s.lo) / s.scale), 255) AS INT) AS DOUBLE) + 0.5) * s.scale
                 END AS xq
          FROM expl e JOIN stats s USING (i)),
        deq AS (
          SELECT vec_id, list(xq ORDER BY i) AS dv FROM qd GROUP BY vec_id),
        dn AS (
          SELECT vec_id, dv,
                 sqrt(list_sum(list_transform(range(1, 65), i -> dv[i] * dv[i]))) AS deq_norm
          FROM deq),
        base AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
              FROM base WHERE vec_id < $numQueries),
        ranked AS (
          SELECT q.query_id, d.vec_id,
                 list_sum(list_transform(range(1, 65),
                   i -> d.dv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (d.deq_norm * q.q_norm) AS cosine_sq8,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                                    ORDER BY list_sum(list_transform(range(1, 65),
                                      i -> d.dv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (d.deq_norm * q.q_norm) DESC,
                                      d.vec_id) AS rank
          FROM dn d, q WHERE d.vec_id <> q.query_id),
        truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t)
        SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
               r.cosine_sq8,
               CAST(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit
        FROM ranked r LEFT JOIN truth t
          ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
        WHERE r.rank <= $k ORDER BY r.query_id, r.rank"""

  /** DuckDB mirror of Similarity.withPq + pqTopK: per-subspace codebooks
    * from the first `ksub` vectors, squared-L2 assignment via the dot
    * identity `x·x + c·c − 2·x·c` (every term the same sequential fold as
    * [[dotSql]], so distances are bit-identical), ties to the lower
    * codeword id, codeword-by-codeword reconstruction, asymmetric cosine
    * top-k flagged against brute-force truth.
    */
  /** The PQ encode/reconstruct CTE chain shared by [[pqSql]] and
    * [[ivfPqSql]]: per-subspace codebooks → codes → reconstruction `rn`
    * (vec_id, rv, recon_norm). Reads `embeddings` directly.
    */
  private def pqReconCtes(m: Int, ksub: Int, subDim: Int,
                          cbPred: String = ""): String = {
    def subDot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> $a[i] * $b[i]))"
    val pred = if (cbPred.nonEmpty) cbPred else s"e.vec_id < $ksub"
    s"""sp AS (SELECT unnest(range(0, $m)) AS s),
       |cb AS (
       |  SELECT sp.s, e.vec_id AS c_id,
       |         list_transform(range(1, ${subDim + 1}),
       |           i -> CAST(e.embedding[CAST(sp.s * $subDim + i AS INT)] AS DOUBLE)) AS cw
       |  FROM embeddings e, sp WHERE $pred),
       |subs AS (
       |  SELECT e.vec_id, sp.s,
       |         list_transform(range(1, ${subDim + 1}),
       |           i -> CAST(e.embedding[CAST(sp.s * $subDim + i AS INT)] AS DOUBLE)) AS sub
       |  FROM embeddings e, sp),
       |enc AS (
       |  SELECT vec_id, s, c_id FROM (
       |    SELECT su.vec_id, su.s, cb.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.s
       |             ORDER BY ${subDot("su.sub", "su.sub")} + ${subDot("cb.cw", "cb.cw")}
       |                      - 2 * ${subDot("su.sub", "cb.cw")} ASC,
       |                      cb.c_id) AS r
       |    FROM subs su JOIN cb ON cb.s = su.s) WHERE r = 1),
       |recon AS (
       |  SELECT e.vec_id, flatten(list(cb.cw ORDER BY e.s)) AS rv
       |  FROM enc e JOIN cb ON cb.s = e.s AND cb.c_id = e.c_id
       |  GROUP BY e.vec_id),
       |rn AS (
       |  SELECT vec_id, rv,
       |         sqrt(list_sum(list_transform(range(1, 65), i -> rv[i] * rv[i]))) AS recon_norm
       |  FROM recon)""".stripMargin
  }

  /** Unrolled deterministic Lloyd k-means over an arbitrary
    * `(vec_id, v: DOUBLE[64])` relation `src` — the [[kmeansAssignCtes]]
    * training loop generalized so the SAME mirror trains level-2 residual
    * codebooks ([[rqSql]]) and not just the embeddings table. Init = the
    * first `k` ids' vectors; assignment by projection `v·c/|c|` with ties
    * to the lower c_id; means over `floor(x·10⁶)` BIGINT components
    * (order-independent sums, one final double division); empty cells
    * keep the previous center — op-for-op the Spark
    * `Similarity.kmeansCentroids` contract. Emits CTEs prefixed `pfx`;
    * the trained centroids land in `${"$"}{pfx}c${"$"}{iters}` (c_id, c).
    */
  private def lloydOverSql(src: String, k: Int, iters: Int, pfx: String): String = {
    def vdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT b.vec_id, c.c_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${vdot("b.v", "c.c")} / sqrt(${vdot("c.c", "c.c")}) DESC,
         |                      c.c_id) AS r
         |    FROM $src b, $cents c) WHERE r = 1)""".stripMargin
    def update(assigned: String, prev: String, next: String) =
      s"""${next}_m AS (
         |  SELECT a.cell AS c_id, t.i AS pos, SUM(s.sv[t.i + 1]) AS ssum, COUNT(*) AS n
         |  FROM $assigned a JOIN ${pfx}sv s ON s.vec_id = a.vec_id,
         |       (SELECT unnest(range(0, 64)) AS i) t
         |  GROUP BY a.cell, t.i),
         |$next AS MATERIALIZED (
         |  SELECT p.c_id, COALESCE(mm.mc, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT c_id,
         |           list(CAST(ssum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) ORDER BY pos) AS mc
         |    FROM ${next}_m GROUP BY c_id) mm ON mm.c_id = p.c_id)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""${assign(s"${pfx}a$i", s"${pfx}c${i - 1}")},
         |${update(s"${pfx}a$i", s"${pfx}c${i - 1}", s"${pfx}c$i")}""".stripMargin
    }.mkString(",\n")
    s"""${pfx}sv AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS sv
       |  FROM $src),
       |${pfx}c0 AS (SELECT vec_id AS c_id, v AS c FROM $src WHERE vec_id < $k),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of Similarity.rqTopK: 2-level residual quantization —
    * BOTH codebooks Lloyd-trained ([[lloydOverSql]]; level 2 on the
    * level-1 residuals), squared-L2 encode, summed reconstruction, ADC
    * cosine COARSE rank, exact rerank of the top-`candidates` survivors
    * (the onebit/matryoshka convention), truth flags. Every distance is
    * the same dot-identity sequential fold.
    */
  private def rqSql(numQueries: Int, k: Int, k1: Int, k2: Int,
                    candidates: Int = 128, iters: Int = 2,
                    trainPred: String = "TRUE", initBound: Int = -1): String = {
    // trainPred (over bare vec_id) thins the TRAINING relations of both
    // Lloyd levels (the persisted index's even-half build); encode still
    // covers every vector against the frozen codebooks. initBound is the
    // Lloyd init id bound (k when training ids are dense from 0).
    val b1 = if (initBound > 0) initBound else k1
    val b2 = if (initBound > 0) initBound else k2
    def vdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
    def l2(x: String, c: String) =
      s"${vdot(x, x)} + ${vdot(c, c)} - 2 * ${vdot(x, c)}"
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |x AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, 65),
       |           i -> CAST(embedding[i] AS DOUBLE)) AS v
       |  FROM embeddings),
       |xt AS (SELECT * FROM x WHERE ($trainPred)),
       |${lloydOverSql("xt", b1, iters, "l1")},
       |cb1 AS (SELECT c_id, c AS cw FROM l1c$iters),
       |enc1 AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT x.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |             ${l2("x.v", "c.cw")} ASC, c.c_id) AS r
       |    FROM x, cb1 c) WHERE r = 1),
       |res AS MATERIALIZED (
       |  SELECT x.vec_id, c.cw AS cw1,
       |         list_transform(range(1, 65), i -> x.v[i] - c.cw[i]) AS rv1
       |  FROM x JOIN enc1 e USING (vec_id) JOIN cb1 c ON c.c_id = e.c_id),
       |resv AS MATERIALIZED (SELECT vec_id, rv1 AS v FROM res WHERE ($trainPred)),
       |${lloydOverSql("resv", b2, iters, "l2")},
       |cb2 AS (SELECT c_id, c AS cw FROM l2c$iters),
       |enc2 AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT r.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY
       |             ${l2("r.rv1", "c.cw")} ASC, c.c_id) AS rr
       |    FROM res r, cb2 c) WHERE rr = 1),
       |rn AS MATERIALIZED (
       |  SELECT vec_id, rv,
       |         sqrt(${vdot("rv", "rv")}) AS recon_norm
       |  FROM (
       |    SELECT r.vec_id,
       |           list_transform(range(1, 65), i -> r.cw1[i] + c.cw[i]) AS rv
       |    FROM res r JOIN enc2 e USING (vec_id) JOIN cb2 c ON c.c_id = e.c_id)),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |      FROM base WHERE vec_id < $numQueries),
       |coarse AS (
       |  SELECT q.query_id, r.vec_id,
       |         list_sum(list_transform(range(1, 65),
       |           i -> r.rv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (r.recon_norm * q.q_norm) AS cosine_rq,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_sum(list_transform(range(1, 65),
       |             i -> r.rv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (r.recon_norm * q.q_norm)
       |             DESC, r.vec_id) AS crank
       |  FROM rn r, q WHERE r.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT s.query_id, s.vec_id, s.cosine_rq,
       |         ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm) AS cosine,
       |         ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm)
       |             DESC, s.vec_id) AS rank
       |  FROM coarse s JOIN base b ON b.vec_id = s.vec_id
       |                JOIN q ON q.query_id = s.query_id
       |  WHERE s.crank <= $candidates),
       |truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
       |       r.cosine_rq, r.cosine,
       |       CAST(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit
       |FROM ranked r LEFT JOIN truth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k ORDER BY r.query_id, r.rank""".stripMargin
  }

  /** DuckDB mirror of the RQ index-pair coherence fixture
    * (sim_rq_index_coherence): TWO full RQ encode chains — A, the
    * healthy even-trained build whose codes sit in the table, and B, the
    * odd-trained codebooks a crash-interrupted rebuild left behind —
    * with codes mapped to ORDINALS within each codebook's c_id order
    * (Spark codes are ordinals into the c_id-sorted lists), and the
    * phase-2 mismatch = sampled rows whose (ord1, ord2) pair differs
    * across chains. Phases 1/3 are coherent by purity (re-encoding under
    * the same codebooks reproduces the stored codes), so their counts
    * are literals; only the desync phase needs both chains.
    */
  private def rqCoherenceSql(sampleMod: Int, k1: Int, k2: Int,
                             iters: Int, initBound: Int): String = {
    def vdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
    def l2(x: String, c: String) =
      s"${vdot(x, x)} + ${vdot(c, c)} - 2 * ${vdot(x, c)}"
    def chain(p: String, trainPred: String): String =
      s"""${p}xt AS (SELECT * FROM x WHERE ($trainPred)),
         |${lloydOverSql(s"${p}xt", initBound, iters, s"${p}l1")},
         |${p}cb1 AS (SELECT c_id, c AS cw FROM ${p}l1c$iters),
         |${p}o1 AS (SELECT c_id, ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS ord
         |           FROM ${p}cb1),
         |${p}enc1 AS MATERIALIZED (
         |  SELECT vec_id, c_id FROM (
         |    SELECT x.vec_id, c.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
         |             ${l2("x.v", "c.cw")} ASC, c.c_id) AS r
         |    FROM x, ${p}cb1 c) WHERE r = 1),
         |${p}res AS MATERIALIZED (
         |  SELECT x.vec_id,
         |         list_transform(range(1, 65), i -> x.v[i] - c.cw[i]) AS rv1
         |  FROM x JOIN ${p}enc1 e USING (vec_id) JOIN ${p}cb1 c ON c.c_id = e.c_id),
         |${p}resv AS MATERIALIZED (
         |  SELECT vec_id, rv1 AS v FROM ${p}res WHERE ($trainPred)),
         |${lloydOverSql(s"${p}resv", initBound, iters, s"${p}l2")},
         |${p}cb2 AS (SELECT c_id, c AS cw FROM ${p}l2c$iters),
         |${p}o2 AS (SELECT c_id, ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS ord
         |           FROM ${p}cb2),
         |${p}enc2 AS MATERIALIZED (
         |  SELECT vec_id, c_id FROM (
         |    SELECT r.vec_id, c.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY
         |             ${l2("r.rv1", "c.cw")} ASC, c.c_id) AS rr
         |    FROM ${p}res r, ${p}cb2 c) WHERE rr = 1)""".stripMargin
    val cbRows = k1 + k2
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, 65),
       |           i -> CAST(embedding[i] AS DOUBLE)) AS v
       |  FROM embeddings),
       |${chain("a", "vec_id % 2 = 0")},
       |${chain("b", "vec_id % 2 = 1")},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS code_rows FROM embeddings),
       |chk AS (SELECT CAST(count(*) AS BIGINT) AS checked_rows
       |        FROM embeddings WHERE vec_id % $sampleMod = 0),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS mismatched
       |       FROM aenc1 a1
       |       JOIN ao1 ON ao1.c_id = a1.c_id
       |       JOIN aenc2 a2 ON a2.vec_id = a1.vec_id
       |       JOIN ao2 ON ao2.c_id = a2.c_id
       |       JOIN benc1 b1 ON b1.vec_id = a1.vec_id
       |       JOIN bo1 ON bo1.c_id = b1.c_id
       |       JOIN benc2 b2 ON b2.vec_id = a1.vec_id
       |       JOIN bo2 ON bo2.c_id = b2.c_id
       |       WHERE a1.vec_id % $sampleMod = 0
       |         AND (ao1.ord <> bo1.ord OR ao2.ord <> bo2.ord))
       |SELECT '1_coherent' AS phase, CAST($cbRows AS BIGINT) AS codebook_rows,
       |       code_rows, checked_rows, CAST(0 AS BIGINT) AS mismatched_rows,
       |       CAST(0 AS INT) AS rebuild_recommended, CAST(0 AS INT) AS fired
       |FROM n, chk
       |UNION ALL
       |SELECT '2_desynced', CAST($cbRows AS BIGINT), code_rows, checked_rows,
       |       mismatched,
       |       CAST(CASE WHEN mismatched > 0 THEN 1 ELSE 0 END AS INT),
       |       CAST(CASE WHEN mismatched > 0 THEN 1 ELSE 0 END AS INT)
       |FROM n, chk, mm
       |UNION ALL
       |SELECT '3_reconciled', CAST($cbRows AS BIGINT), code_rows, checked_rows,
       |       CAST(0 AS BIGINT), CAST(0 AS INT), CAST(0 AS INT)
       |FROM n, chk
       |ORDER BY phase""".stripMargin
  }

  /** DuckDB mirror of the PQ index-pair coherence fixture
    * (sim_pq_index_coherence): TWO per-subspace encode chains — A, the
    * healthy codebook (vectors 0..ksub-1) whose codes sit in the table,
    * and B, the retrained codebook (vectors ksub..2·ksub-1) a
    * crash-interrupted rebuild left behind — and the phase-2 mismatch =
    * sampled rows (any subspace differing) plus the subspace-level cell
    * count. B's codes are ordinals into its c_id order, so cell s of B
    * maps ordinal c_id − ksub. Phases 1/3 are coherent by purity
    * (re-encoding under the same codebook reproduces the stored codes),
    * so their counts are literals; only the desync phase needs both
    * chains. Distances are the same dot-identity the serving oracles use
    * ([[pqReconCtes]]) so argmin ties match Spark's encode exactly.
    */
  private def pqCoherenceSql(sampleMod: Int, m: Int, ksub: Int,
                             subDim: Int): String = {
    def subDot(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> $a[i] * $b[i]))"
    def cbCte(name: String, pred: String) =
      s"""$name AS (
         |  SELECT sp.s, e.vec_id AS c_id,
         |         list_transform(range(1, ${subDim + 1}),
         |           i -> CAST(e.embedding[CAST(sp.s * $subDim + i AS INT)] AS DOUBLE)) AS cw
         |  FROM embeddings e, sp WHERE $pred)""".stripMargin
    def encCte(name: String, cb: String) =
      s"""$name AS (
         |  SELECT vec_id, s, c_id FROM (
         |    SELECT su.vec_id, su.s, cb.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.s
         |             ORDER BY ${subDot("su.sub", "su.sub")} + ${subDot("cb.cw", "cb.cw")}
         |                      - 2 * ${subDot("su.sub", "cb.cw")} ASC,
         |                      cb.c_id) AS r
         |    FROM subs su JOIN $cb cb ON cb.s = su.s) WHERE r = 1)""".stripMargin
    s"""WITH sp AS (SELECT unnest(range(0, $m)) AS s),
       |subs AS MATERIALIZED (
       |  SELECT e.vec_id, sp.s,
       |         list_transform(range(1, ${subDim + 1}),
       |           i -> CAST(e.embedding[CAST(sp.s * $subDim + i AS INT)] AS DOUBLE)) AS sub
       |  FROM embeddings e, sp),
       |${cbCte("acb", s"e.vec_id < $ksub")},
       |${cbCte("bcb", s"e.vec_id >= $ksub AND e.vec_id < ${2 * ksub}")},
       |${encCte("aenc", "acb")},
       |${encCte("benc", "bcb")},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS code_rows FROM embeddings),
       |chk AS (SELECT CAST(count(*) AS BIGINT) AS checked_rows
       |        FROM embeddings WHERE vec_id % $sampleMod = 0),
       |mm AS (SELECT CAST(count(DISTINCT a.vec_id) AS BIGINT) AS mrows,
       |              CAST(count(*) AS BIGINT) AS mcells
       |       FROM aenc a JOIN benc b ON b.vec_id = a.vec_id AND b.s = a.s
       |       WHERE a.vec_id % $sampleMod = 0 AND a.c_id <> b.c_id - $ksub)
       |SELECT '1_coherent' AS phase, CAST($ksub AS BIGINT) AS codebook_rows,
       |       code_rows, checked_rows, CAST(0 AS BIGINT) AS mismatched_rows,
       |       CAST(0 AS BIGINT) AS mismatched_cells,
       |       CAST(0 AS INT) AS rebuild_recommended, CAST(0 AS INT) AS fired
       |FROM n, chk
       |UNION ALL
       |SELECT '2_desynced', CAST($ksub AS BIGINT), code_rows, checked_rows,
       |       mrows, mcells,
       |       CAST(CASE WHEN mrows > 0 THEN 1 ELSE 0 END AS INT),
       |       CAST(CASE WHEN mrows > 0 THEN 1 ELSE 0 END AS INT)
       |FROM n, chk, mm
       |UNION ALL
       |SELECT '3_reconciled', CAST($ksub AS BIGINT), code_rows, checked_rows,
       |       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS INT), CAST(0 AS INT)
       |FROM n, chk
       |ORDER BY phase""".stripMargin
  }

  /** DuckDB mirror of the IVF index-pair coherence fixture
    * (sim_ivf_index_coherence): TWO Lloyd chains — A trained on the
    * build prefix (vec_id < trainBound, the stored assignments' basis)
    * and B on the full corpus (the crash-interrupted retrain) — each
    * assigning EVERY vector against its final centroids; the phase-2
    * mismatch = sampled vectors whose nearest cell differs. Cell ids are
    * the init ids (0..k-1) in both chains, so they compare directly.
    */
  private def ivfCoherenceSql(sampleMod: Int, k: Int, iters: Int,
                              trainBound: Int): String = {
    def vdot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
    def finCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT b.vec_id, c.c_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${vdot("b.v", "c.c")} / sqrt(${vdot("c.c", "c.c")}) DESC,
         |                      c.c_id) AS r
         |    FROM x b, $cents c) WHERE r = 1)""".stripMargin
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, 65),
       |           i -> CAST(embedding[i] AS DOUBLE)) AS v
       |  FROM embeddings),
       |axt AS (SELECT * FROM x WHERE vec_id < $trainBound),
       |${lloydOverSql("axt", k, iters, "al")},
       |${lloydOverSql("x", k, iters, "bl")},
       |${finCte("afin", s"alc$iters")},
       |${finCte("bfin", s"blc$iters")},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS code_rows FROM embeddings),
       |chk AS (SELECT CAST(count(*) AS BIGINT) AS checked_rows
       |        FROM embeddings WHERE vec_id % $sampleMod = 0),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS mismatched
       |       FROM afin a JOIN bfin b USING (vec_id)
       |       WHERE a.vec_id % $sampleMod = 0 AND a.cell <> b.cell)
       |SELECT '1_coherent' AS phase, CAST($k AS BIGINT) AS codebook_rows,
       |       code_rows, checked_rows, CAST(0 AS BIGINT) AS mismatched_rows,
       |       CAST(0 AS INT) AS rebuild_recommended, CAST(0 AS INT) AS fired
       |FROM n, chk
       |UNION ALL
       |SELECT '2_desynced', CAST($k AS BIGINT), code_rows, checked_rows,
       |       mismatched,
       |       CAST(CASE WHEN mismatched > 0 THEN 1 ELSE 0 END AS INT),
       |       CAST(CASE WHEN mismatched > 0 THEN 1 ELSE 0 END AS INT)
       |FROM n, chk, mm
       |UNION ALL
       |SELECT '3_reconciled', CAST($k AS BIGINT), code_rows, checked_rows,
       |       CAST(0 AS BIGINT), CAST(0 AS INT), CAST(0 AS INT)
       |FROM n, chk
       |ORDER BY phase""".stripMargin
  }

  /** DuckDB mirror of the graph-index coherence fixture
    * (sim_graph_index_coherence): THREE id-selection assignment chains
    * (the build bound, the centroid-crash bound, the node-crash bound)
    * plus two within-cell adjacency derivations — the stored graph
    * (chain 2, full) and the node-crash expectation (chain 3, sampled
    * cells only) — compared per src as sorted dst lists. Phases that are
    * coherent by purity carry literal zeros; the two crash phases carry
    * the content-dependent mismatch counts.
    */
  private def graphCoherenceSql(sampleMod: Int, cellMod: Int,
                                b1: Int, b2: Int, b3: Int,
                                degree: Int): String = {
    def chain(p: String, bound: Int) =
      s"""${p}c AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
         |          FROM base WHERE vec_id < $bound),
         |$p AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT b.vec_id, c.c_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
         |               DESC, c.c_id) AS r
         |    FROM base b, ${p}c c) WHERE r = 1)""".stripMargin
    def adjCte(name: String, asg: String, cellPred: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT src, list(dst ORDER BY dst) AS dsts FROM (
         |    SELECT a.vec_id AS src, c.vec_id AS dst,
         |           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |             ${dotSql("ab.embedding", "cb.embedding")} / (ab.norm * cb.norm)
         |               DESC, c.vec_id) AS gr
         |    FROM $asg a JOIN $asg c ON a.cell = c.cell AND a.vec_id <> c.vec_id
         |    JOIN base ab ON ab.vec_id = a.vec_id
         |    JOIN base cb ON cb.vec_id = c.vec_id
         |    WHERE ($cellPred))
         |  WHERE gr <= $degree GROUP BY src)""".stripMargin
    def adjRows(name: String, asg: String) =
      s"""$name AS (SELECT CAST(sum(cn) AS BIGINT) AS v FROM (
         |  SELECT count(*) AS cn FROM $asg GROUP BY cell) t WHERE cn >= 2)""".stripMargin
    def srcRows(name: String, asg: String) =
      s"$name AS (SELECT CAST(count(*) AS BIGINT) AS v FROM $asg WHERE cell % $cellMod = 0)"
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |${chain("a1", b1)},
       |${chain("a2", b2)},
       |${chain("a3", b3)},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |chk AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
       |        WHERE vec_id % $sampleMod = 0),
       |${adjRows("adjr1", "a1")},
       |${adjRows("adjr2", "a2")},
       |${srcRows("srcs1", "a1")},
       |${srcRows("srcs2", "a2")},
       |${srcRows("srcs3", "a3")},
       |mm2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM a1 JOIN a2 USING (vec_id)
       |        WHERE vec_id % $sampleMod = 0 AND a1.cell <> a2.cell),
       |mm4 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM a3 JOIN a2 USING (vec_id)
       |        WHERE vec_id % $sampleMod = 0 AND a3.cell <> a2.cell),
       |${adjCte("adj2", "a2", "TRUE")},
       |${adjCte("adj3s", "a3", s"a.cell % $cellMod = 0")},
       |amm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m
       |  FROM (SELECT vec_id FROM a3 WHERE cell % $cellMod = 0) s
       |  LEFT JOIN adj2 sa ON sa.src = s.vec_id
       |  LEFT JOIN adj3s ea ON ea.src = s.vec_id
       |  WHERE sa.dsts IS DISTINCT FROM ea.dsts)
       |SELECT '1_coherent' AS phase, CAST($b1 AS BIGINT) AS centroid_rows,
       |       n.n AS node_rows, adjr1.v AS adj_rows, chk.c AS checked_nodes,
       |       CAST(0 AS BIGINT) AS node_mismatch, srcs1.v AS checked_srcs,
       |       CAST(0 AS BIGINT) AS adj_mismatch, CAST(1 AS INT) AS meta_bound_ok,
       |       CAST(0 AS INT) AS rebuild_recommended, CAST(0 AS INT) AS fired
       |FROM n, chk, adjr1, srcs1
       |UNION ALL
       |SELECT '2_centroid_crash', CAST($b2 AS BIGINT), n.n, adjr1.v, chk.c,
       |       mm2.m, srcs1.v, CAST(0 AS BIGINT), CAST(0 AS INT),
       |       CAST(1 AS INT), CAST(1 AS INT)
       |FROM n, chk, adjr1, srcs1, mm2
       |UNION ALL
       |SELECT '3_reconciled', CAST($b2 AS BIGINT), n.n, adjr2.v, chk.c,
       |       CAST(0 AS BIGINT), srcs2.v, CAST(0 AS BIGINT), CAST(1 AS INT),
       |       CAST(0 AS INT), CAST(0 AS INT)
       |FROM n, chk, adjr2, srcs2
       |UNION ALL
       |SELECT '4_node_crash', CAST($b2 AS BIGINT), n.n, adjr2.v, chk.c,
       |       mm4.m, srcs3.v, amm.m, CAST(1 AS INT), CAST(1 AS INT),
       |       CAST(1 AS INT)
       |FROM n, chk, adjr2, srcs3, mm4, amm
       |UNION ALL
       |SELECT '5_reconciled', CAST($b2 AS BIGINT), n.n, adjr2.v, chk.c,
       |       CAST(0 AS BIGINT), srcs2.v, CAST(0 AS BIGINT), CAST(1 AS INT),
       |       CAST(0 AS INT), CAST(0 AS INT)
       |FROM n, chk, adjr2, srcs2
       |ORDER BY phase""".stripMargin
  }

  private def pqSql(numQueries: Int, k: Int, m: Int, ksub: Int, subDim: Int,
                    cbPred: String = ""): String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |${pqReconCtes(m, ksub, subDim, cbPred)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |      FROM base WHERE vec_id < $numQueries),
       |ranked AS (
       |  SELECT q.query_id, r.vec_id,
       |         list_sum(list_transform(range(1, 65),
       |           i -> r.rv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (r.recon_norm * q.q_norm) AS cosine_pq,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_sum(list_transform(range(1, 65),
       |             i -> r.rv[i] * CAST(q.q_emb[i] AS DOUBLE))) / (r.recon_norm * q.q_norm) DESC,
       |             r.vec_id) AS rank
       |  FROM rn r, q WHERE r.vec_id <> q.query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
       |       r.cosine_pq,
       |       CAST(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit
       |FROM ranked r LEFT JOIN truth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k ORDER BY r.query_id, r.rank""".stripMargin

  /** DuckDB mirror of Similarity.ivfPqTopK: the kmeans assignment prefix
    * (cells) composed with the PQ reconstruction chain — candidates meet
    * inside shared cells, scores come from the reconstruction.
    */
  private def ivfPqSql(centroids: Int, nprobe: Int, numQueries: Int, k: Int,
                       m: Int, ksub: Int, subDim: Int,
                       trainPred: String = "TRUE",
                       cbPred: String = ""): String =
    s"""WITH ${kmeansAssignCtes(centroids, nprobe, numQueries, trainPred)},
       |${pqReconCtes(m, ksub, subDim, cbPred)},
       |ranked AS (
       |  SELECT q.query_id, co.vec_id,
       |         list_sum(list_transform(range(1, 65),
       |           i -> r.rv[i] * CAST(qb.embedding[i] AS DOUBLE))) / (r.recon_norm * qb.norm) AS cosine_pq,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_sum(list_transform(range(1, 65),
       |             i -> r.rv[i] * CAST(qb.embedding[i] AS DOUBLE))) / (r.recon_norm * qb.norm) DESC,
       |             co.vec_id) AS rank
       |  FROM corpus co JOIN q ON co.cell = q.cell
       |  JOIN rn r ON r.vec_id = co.vec_id
       |  JOIN base qb ON qb.vec_id = q.query_id
       |  WHERE co.vec_id <> q.query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t)
       |SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id AS neighbor_id,
       |       r.cosine_pq,
       |       CAST(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_hit
       |FROM ranked r LEFT JOIN truth t
       |  ON t.query_id = r.query_id AND t.neighbor_id = r.vec_id
       |WHERE r.rank <= $k ORDER BY r.query_id, r.rank""".stripMargin

  /** DuckDB mirror of Similarity.ivfNprobeReport: the shared kmeans
    * assignment CTEs ONCE at max nprobe (each arm is a rank prefix of the
    * one `fin` ranking, same as the Spark side), per-arm exact scoring
    * inside the probed cells, each semi-joined against the shared brute
    * truth.
    */
  private def ivfNprobeSql(centroids: Int, numQueries: Int, k: Int,
                           nprobes: Seq[Int],
                           filteredLabel: Option[Int] = None,
                           filteredNprobes: Seq[Int] = Nil): String = {
    val nTruth = numQueries * k
    val maxW = (nprobes ++ filteredNprobes).max
    def armCte(name: String, w: Int, corpusCte: String) =
      f"""$name AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM (
         |    SELECT qq.query_id, co.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY qq.query_id
         |             ORDER BY ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm) DESC,
         |                      co.vec_id) AS rank
         |    FROM $corpusCte co JOIN qq ON co.cell = qq.cell AND qq.r <= $w%d
         |    JOIN base b ON b.vec_id = co.vec_id
         |    JOIN base qb ON qb.vec_id = qq.query_id
         |    WHERE co.vec_id <> qq.query_id)
         |  WHERE rank <= $k%d)""".stripMargin
    val ctes = nprobes.map(w => armCte(f"np$w%02d", w, "corpus")).mkString(",\n")
    val rows = nprobes.map(w =>
      f"""SELECT 'nprobe_$w%02d' AS method,
         |       CAST($nTruth%d AS BIGINT) AS n_truth,
         |       (SELECT count(*) FROM np$w%02d a JOIN truth t
         |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin)
      .mkString("\nUNION ALL\n")
    // filtered arms: corpus thinned to the predicate, graded against the
    // exact top-k over the predicate-filtered corpus (its own truth set)
    val (fCtes, fRows) = filteredLabel.fold(("", "")) { lv =>
      val fc =
        s""",
           |fco AS (SELECT co.vec_id, co.cell FROM corpus co
           |        JOIN embeddings e ON e.vec_id = co.vec_id AND e.label = $lv),
           |ftruth AS (
           |  SELECT query_id, vec_id AS neighbor_id FROM (
           |    SELECT qb.vec_id AS query_id, b.vec_id,
           |           ROW_NUMBER() OVER (PARTITION BY qb.vec_id ORDER BY
           |             ${dotSql("b.embedding", "qb.embedding")} / (b.norm * qb.norm)
           |               DESC, b.vec_id) AS rank
           |    FROM base b
           |    JOIN embeddings e ON e.vec_id = b.vec_id AND e.label = $lv,
           |         base qb
           |    WHERE qb.vec_id < $numQueries AND b.vec_id <> qb.vec_id)
           |  WHERE rank <= $k),
           |""".stripMargin +
          filteredNprobes.map(w => armCte(f"fnp$w%02d", w, "fco")).mkString(",\n")
      val fr = "\nUNION ALL\n" + filteredNprobes.map(w =>
        f"""SELECT 'filtered_nprobe_$w%02d' AS method,
           |       (SELECT CAST(count(*) AS BIGINT) FROM ftruth) AS n_truth,
           |       (SELECT count(*) FROM fnp$w%02d a JOIN ftruth t
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin)
        .mkString("\nUNION ALL\n")
      (fc, fr)
    }
    s"""WITH ${kmeansAssignCtes(centroids, maxW, numQueries)},
       |qq AS (SELECT vec_id AS query_id, cell, r FROM fin
       |       WHERE r <= $maxW AND vec_id < $numQueries),
       |truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t),
       |$ctes$fCtes
       |SELECT method, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall
       |FROM ($rows$fRows) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.matryoshkaDimReport: one full
    * matryoshka pipeline per prefix-dim arm (the rerankWidthSql
    * convention — the oracle pays per-arm pipelines, the Spark side
    * shares the rerank stage), each semi-joined against the one shared
    * brute truth.
    */
  private def matryoshkaDimSql(numQueries: Int, k: Int,
                               dims: Seq[Int], candidates: Int): String = {
    val nTruth = numQueries * k
    val ctes = dims.map(d =>
      f"md$d%02d AS (SELECT query_id, neighbor_id FROM (${matryoshkaSql(numQueries, k, d, candidates)}) t)")
      .mkString(",\n")
    val rows = dims.map(d =>
      f"""SELECT 'matry_d$d%02d' AS method, CAST($d%d AS BIGINT) AS prefix_dims,
         |       CAST($nTruth%d AS BIGINT) AS n_truth,
         |       (SELECT count(*) FROM md$d%02d a JOIN truth t
         |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(numQueries, k)}) t),
       |$ctes
       |SELECT method, prefix_dims, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / $nTruth AS recall
       |FROM ($rows) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.graphCellsReport: one full graph build
    * (cents/assigned/grank/edges) + walk unroll PER cell-count arm —
    * prefixed CTE chains, arms independent by design (cell count is a
    * build knob) — each arm's final beam top-k semi-joined against the
    * ONE shared brute truth, with the exact candidate-join row count
    * Σ|cell|·(|cell|−1) as the build-cost column.
    */
  private def graphCellsSql(numQueries: Int, k: Int, degree: Int,
                            beam: Int, rounds: Int): String = {
    val nTruth = numQueries * k
    val arms = Seq(
      ("cells_half",
        "(SELECT CAST(ceil(ceil(sqrt(count(*))) / 2) AS BIGINT) FROM embeddings)"),
      ("cells_sqrt",
        "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"),
      ("cells_double",
        "(SELECT CAST(2 * ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"))
    def armCtes(p: String, bound: String): String = {
      val roundsSql = (1 to rounds).map { r =>
        val prev = s"${p}b${r - 1}"
        s"""${p}e$r AS (
           |  SELECT query_id, e.dst AS node
           |  FROM $prev JOIN ${p}edges e ON e.src = $prev.node
           |  UNION
           |  SELECT query_id, node FROM $prev),
           |${p}b$r AS MATERIALIZED (
           |  SELECT query_id, node, cosine FROM (
           |    SELECT x.query_id, x.node,
           |           ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine,
           |           ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY
           |             ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm)
           |               DESC, x.node) AS brank
           |    FROM ${p}e$r x JOIN base n ON n.vec_id = x.node
           |               JOIN q ON q.query_id = x.query_id)
           |  WHERE brank <= $beam)""".stripMargin
      }.mkString(",\n")
      s"""${p}cents AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
         |          FROM base WHERE vec_id < $bound),
         |${p}assigned AS MATERIALIZED (
         |  SELECT vec_id, embedding, norm, cell FROM (
         |    SELECT b.vec_id, b.embedding, b.norm, c.c_id AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
         |               DESC, c.c_id) AS r
         |    FROM base b, ${p}cents c)
         |  WHERE r = 1),
         |${p}grank AS (
         |  SELECT a.vec_id AS src, c.vec_id AS dst,
         |         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |           ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
         |             DESC, c.vec_id) AS gr
         |  FROM ${p}assigned a JOIN ${p}assigned c
         |    ON a.cell = c.cell AND a.vec_id <> c.vec_id),
         |${p}edges AS MATERIALIZED (
         |  SELECT src, dst FROM ${p}grank WHERE gr <= $degree
         |  UNION
         |  SELECT a.vec_id, b.vec_id FROM base a JOIN base b ON b.vec_id = a.vec_id + 1),
         |${p}b0 AS MATERIALIZED (
         |  SELECT q.query_id, n.vec_id AS node,
         |         ${dotSql("n.embedding", "q.q_emb")} / (n.norm * q.q_norm) AS cosine
         |  FROM q JOIN ${p}assigned a ON a.vec_id = q.query_id
         |         JOIN base n ON n.vec_id = a.cell),
         |$roundsSql,
         |${p}topk AS (
         |  SELECT query_id, node AS neighbor_id FROM (
         |    SELECT query_id, node,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, node) AS rank
         |    FROM ${p}b$rounds WHERE node <> query_id)
         |  WHERE rank <= $k)""".stripMargin
    }
    val ctes = arms.zipWithIndex.map { case ((_, bound), i) =>
      armCtes(s"g$i", bound) }.mkString(",\n")
    val rowsSel = arms.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '$name' AS method,
         |       (SELECT CAST(count(*) AS BIGINT) FROM g${i}cents) AS cells,
         |       (SELECT CAST(SUM(cn * (cn - 1)) AS BIGINT)
         |        FROM (SELECT count(*) AS cn FROM g${i}assigned GROUP BY cell)) AS build_pairs,
         |       CAST($nTruth AS BIGINT) AS n_truth,
         |       (SELECT count(*) FROM g${i}topk a JOIN truth t
         |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |  FROM base WHERE vec_id < $numQueries),
       |truth AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.query_id, b.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |             ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm)
       |               DESC, b.vec_id) AS rank
       |    FROM base b, q WHERE b.vec_id <> q.query_id)
       |  WHERE rank <= $k),
       |$ctes
       |SELECT method, cells, build_pairs, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / $nTruth AS recall
       |FROM ($rowsSel) ORDER BY method""".stripMargin
  }

  /** DuckDB mirror of Similarity.ivfKReport: one kmeans CTE prefix per
    * arm (nested WITH in a derived table — k is a training knob, the
    * Lloyd rerun IS each arm's cost), mean assignment cosine as
    * floor(1e4·cos) sums with sign-split division, max cell population.
    */
  private def ivfKSql(ks: Seq[Int]): String = {
    def armSql(k: Int): String =
      s"""SELECT * FROM (
         |  WITH ${kmeansAssignCtes(k, nprobe = 1, numQueries = 0)},
         |  sc AS (
         |    SELECT co.vec_id, co.cell,
         |           CAST(floor(10000 * (${dotSql("b.embedding", "c.c")}
         |             / (b.norm * sqrt(${dotSql("c.c", "c.c")})))) AS BIGINT) AS cos_e4
         |    FROM corpus co JOIN base b ON b.vec_id = co.vec_id
         |                   JOIN c2 c ON c.c_id = co.cell)
         |  SELECT CAST($k AS BIGINT) AS k,
         |         CAST(count(*) AS BIGINT) AS n_vectors,
         |         CAST(CASE WHEN SUM(cos_e4) < 0
         |                   THEN -((-SUM(cos_e4)) // count(*))
         |                   ELSE SUM(cos_e4) // count(*) END AS BIGINT) AS mean_cos_e4,
         |         (SELECT CAST(max(cn) AS BIGINT)
         |          FROM (SELECT count(*) AS cn FROM sc GROUP BY cell)) AS max_cell
         |  FROM sc) t$k""".stripMargin
    s"""SELECT k, n_vectors, mean_cos_e4, max_cell
       |FROM (${ks.map(armSql).mkString("\nUNION ALL\n")})
       |ORDER BY k""".stripMargin
  }

  val all: Seq[GQuery] = Seq(

    GQuery("sim_pq_topk",
      (s, dir) => Similarity.pqTopK(Tables.embeddings(s, dir), numQueries = 16, k = 5,
          m = 8, ksub = 16, dim = 64)
        .orderBy(col("query_id"), col("rank")),
      Some(pqSql(numQueries = 16, k = 5, m = 8, ksub = 16, subDim = 8)),
      doc = "product-quantized (PQ, 8 subspaces x 16 codewords = 32x memory cut) " +
        "asymmetric cosine top-5 with per-hit exact-truth flags"),

    GQuery("sim_ivf_pq_topk",
      (s, dir) => Similarity.ivfPqTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, centroids = 8, iters = 2, nprobe = 2,
          m = 8, ksub = 16, dim = 64)
        .orderBy(col("query_id"), col("rank")),
      Some(ivfPqSql(centroids = 8, nprobe = 2, numQueries = 16, k = 3,
        m = 8, ksub = 16, subDim = 8)),
      doc = "IVF-PQ (the production FAISS composition): k-means cells restrict " +
        "candidates, PQ reconstructions score them — memory = codes, compute = " +
        "nprobe cells, with per-hit exact-truth flags"),

    // ---- Residual (2-level) quantization: the ADDITIVE family next to
    // PQ's axis split — level-2 codewords quantize level-1 residuals and
    // the reconstruction is their SUM (full-space codewords capture the
    // rotated structure PQ can't). Two codes per vector, BOTH codebooks
    // Lloyd-trained (level 2 on the residuals — raw first-k codebooks
    // measured 0.20 recall in r14). Codes coarse-rank, the top-128
    // survivors are exactly reranked (the onebit/matryoshka convention;
    // C=128 because 2x4-bit codes carry 8 bits of rank signal — the
    // measured price of the 256x resident-memory cut): recall 0.95 in
    // the query's own truth flags at sf0.01 and sf0.1.
    GQuery("sim_rq_topk",
      (s, dir) => Similarity.rqTopK(Tables.embeddings(s, dir),
          numQueries = 16, k = 5, candidates = 128)
        .orderBy(col("query_id"), col("rank")),
      Some(rqSql(numQueries = 16, k = 5, k1 = 16, k2 = 16, candidates = 128)),
      doc = "residual (2-level additive) quantization ANN: Lloyd-trained " +
        "codebooks at both levels, reconstruction = codeword sum, ADC " +
        "coarse rank + exact rerank of 128 survivors, truth-flagged top-5"),

    GQuery("sim_sq8_topk",
      (s, dir) => Similarity.sq8TopK(Tables.embeddings(s, dir), numQueries = 16, k = 5)
        .orderBy(col("query_id"), col("rank")),
      Some(sq8Sql(numQueries = 16, k = 5)),
      doc = "int8 scalar-quantized (SQ8) asymmetric cosine top-5 — 4x memory cut " +
        "with per-hit exact-truth flags, so the output doubles as the recall report"),

    // ---- Matryoshka prefix rerank: coarse rank on the first 16 dims
    // (column pruning delivers the byte cut at scale), top-32 survivors
    // re-scored on the full vector; per-hit truth flags double as the
    // recall report.
    GQuery("sim_matryoshka_rerank",
      (s, dir) => Similarity.matryoshkaTopK(Tables.embeddings(s, dir),
          numQueries = 16, k = 5, prefixDims = 16, candidates = 32)
        .orderBy(col("query_id"), col("rank")),
      Some(matryoshkaSql(numQueries = 16, k = 5, prefixDims = 16, candidates = 32)),
      doc = "matryoshka prefix-rerank ANN: 16-dim coarse pass (1/4 of the " +
        "bytes), 32 survivors exact-reranked, truth-flagged top-5"),

    GQuery("sim_topk_brute",
      (s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir),
          numQueries = 16, k = 5)
        .orderBy(col("query_id"), col("rank")),
      Some(bruteSql(numQueries = 16, k = 5)),
      doc = "brute-force cosine top-5 for 16 query vectors (correctness baseline)"),

    GQuery("sim_ann_lsh",
      (s, dir) => Similarity.lshTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3)
        .orderBy(col("query_id"), col("rank")),
      Some(lshSql(numQueries = 16, k = 3)),
      doc = "hyperplane-LSH-bucketed ANN top-3 (scale path; recall traded for candidate cut)"),

    // The single-pass TopKAggregator form of the same search: bounded
    // k-row buffers through the shuffle instead of a whole-group window
    // sort. Shares the window form's oracle — the scale path is proven
    // value-identical, not just spec-asserted.
    GQuery("sim_topk_brute_agg",
      (s, dir) => Similarity.bruteForceTopKAgg(Tables.embeddings(s, dir),
          numQueries = 16, k = 5)
        .orderBy(col("query_id"), col("rank")),
      Some(bruteSql(numQueries = 16, k = 5)),
      doc = "single-pass bounded-buffer brute-force top-k (TopKAggregator) == window form"),

    GQuery("sim_ann_lsh_multiprobe",
      (s, dir) => Similarity.lshMultiProbeTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3)
        .orderBy(col("query_id"), col("rank")),
      Some(lshMultiprobeSql(numQueries = 16, k = 3)),
      doc = "multi-probe LSH ANN: query fans out to its bucket + all Hamming-1 buckets, corpus index unchanged"),

    GQuery("sim_ivf_topk",
      (s, dir) => Similarity.ivfTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3)
        .orderBy(col("query_id"), col("rank")),
      Some(ivfSql(numQueries = 16, k = 3)),
      doc = "IVF ANN: deterministic coarse quantizer, nprobe=1 cell search"),

    GQuery("sim_ivf_kmeans",
      (s, dir) => Similarity.ivfKmeansTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, centroids = 8, iters = 2, nprobe = 2)
        .orderBy(col("query_id"), col("rank")),
      Some(kmeansIvfSql(centroids = 8, nprobe = 2, numQueries = 16, topK = 3)),
      doc = "IVF ANN with deterministic k-means quantizer (2 Lloyd iterations, " +
        "integer-scaled means) and nprobe=2 multi-probe search"),

    // Persisted-IVF lifecycle: train the quantizer on the EVEN half only
    // (centroids=16 is an id bound — the even ids below it give 8 cells),
    // persist centroids + assignments as MergeTables, incrementally assign
    // the ODD half against the frozen centroids, then serve the search
    // from the persisted tables. The oracle trains on the same even-id
    // subset and assigns everything in one pass — equal because
    // assignment against the final centroids is a pure function.
    GQuery("sim_ivf_index_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val asgT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        graft.ops.Similarity.ivfIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          centT, asgT, centroids = 16, iters = 2)
        graft.ops.Similarity.ivfIndexAdd(s, emb.filter(col("vec_id") % 2 === 1),
          centT, asgT)
        graft.ops.Similarity.ivfIndexSearch(s, emb, centT, asgT,
          numQueries = 16, k = 3, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(kmeansIvfSql(centroids = 16, nprobe = 2, numQueries = 16, topK = 3,
        trainPred = "vec_id % 2 = 0")),
      doc = "persisted IVF index lifecycle: quantizer trained once on the initial " +
        "half, centroids+assignments as versioned MergeTables, incremental add of " +
        "the new half against frozen centroids, search served from the tables"),

    // Persisted-PQ lifecycle: the codebook frozen on the even half under
    // id bound 32 (16 even-id codewords), m-byte codes as the versioned
    // resident table, odd half encoded incrementally against the frozen
    // codebook (pure function => build+add == one full pass, the oracle's
    // form), search reconstructs FROM THE CODES — corpus vectors never
    // touched at serve time, the ADC deployment contract.
    GQuery("sim_pq_index_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.pqIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          cbT, codeT, cbIdBound = 32)
        Similarity.pqIndexAdd(s, emb.filter(col("vec_id") % 2 === 1),
          cbT, codeT)
        Similarity.pqIndexSearch(s, emb, cbT, codeT, numQueries = 16, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(pqSql(numQueries = 16, k = 5, m = 8, ksub = 16, subDim = 8,
        cbPred = "e.vec_id < 32 AND e.vec_id % 2 = 0")),
      doc = "persisted PQ index: frozen even-half codebook + versioned " +
        "code table, incremental encode of the odd half, ADC search " +
        "served from codes alone == one-pass full-corpus oracle"),

    // ---- Persisted RQ index: the 256× rung's lifecycle (the r15 gap —
    // RQ retrained inline per call while every sibling rung persisted).
    // Both Lloyd-trained codebook levels commit atomically in ONE
    // versioned MergeTable (level, ord, c), trained on the EVEN half
    // (init bound 32 => exactly 16 even seed ids per level); the odd
    // half arrives as a delta-sized incremental encode against the
    // frozen codebooks. Serving decodes the persisted 2-byte codes,
    // ADC-coarse-ranks, and exactly reranks the top-128 off the node
    // table — because encode is a pure function of (vector, frozen
    // codebooks), build(even) + add(odd) == the one-pass oracle trained
    // on the same even half.
    GQuery("sim_rq_index_serve",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cbT = graft.stages.MergeTable.scratch(Seq("level", "ord"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.rqIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          cbT, codeT, k1 = 16, k2 = 16, iters = 2, initIdBound = 32)
        Similarity.rqIndexAdd(s, emb.filter(col("vec_id") % 2 === 1), cbT, codeT)
        Similarity.rqIndexSearch(s, emb, cbT, codeT, numQueries = 16, k = 3,
            candidates = 128)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(rqSql(numQueries = 16, k = 3, k1 = 16, k2 = 16, candidates = 128,
        trainPred = "vec_id % 2 = 0", initBound = 32)),
      doc = "persisted RQ index: both Lloyd codebook levels frozen from " +
        "the even half in one atomic commit, 2-byte code table with " +
        "incremental odd-half encode, serve = decode + ADC coarse rank + " +
        "exact top-128 rerank == one-pass even-trained oracle"),

    // ---- RQ index-pair coherence census: rqIndexBuild commits codebooks
    // and codes as two replaces — a crash between them leaves fresh
    // codebooks over stale codes and serve would silently decode
    // wrong-codebook reconstructions. The census probes content (a
    // sampled re-encode against the CURRENT codebooks; encoding is a pure
    // function, so any mismatch proves desync), the trigger IS the census
    // predicate, and the repair is a re-derivation of the code table.
    // Phase 2 simulates the exact crash state via the real API: a rebuild
    // whose codebook replace landed but whose code replace went to a
    // table that never became current.
    GQuery("sim_rq_index_coherence",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cbT = graft.stages.MergeTable.scratch(Seq("level", "ord"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.rqIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          cbT, codeT, k1 = 16, k2 = 16, iters = 2, initIdBound = 32)
        Similarity.rqIndexAdd(s, emb.filter(col("vec_id") % 2 === 1), cbT, codeT)
        def phase(name: String): (String, Long, Long, Long, Long, Int, Int) = {
          // one sampled re-encode per phase: the census row displayed IS
          // the row the trigger fired on (trigger == census predicate)
          val (c, fired) = Similarity.rqIndexReconcileWithCensus(s, emb, cbT, codeT)
          (name, c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
            if (c.getBoolean(4)) 1 else 0, if (fired) 1 else 0)
        }
        val p1 = phase("1_coherent")
        // the crash: an odd-trained rebuild's codebook replace lands, its
        // code replace never becomes current (throwaway table)
        Similarity.rqIndexBuild(s, emb.filter(col("vec_id") % 2 === 1),
          cbT, graft.stages.MergeTable.scratch(Seq("vec_id")),
          k1 = 16, k2 = 16, iters = 2, initIdBound = 32)
        val p2 = phase("2_desynced")
        val p3 = phase("3_reconciled")
        Seq(p1, p2, p3).toDF("phase", "codebook_rows", "code_rows",
          "checked_rows", "mismatched_rows", "rebuild_recommended", "fired")
          .orderBy(col("phase"))
      },
      Some(rqCoherenceSql(sampleMod = 8, k1 = 16, k2 = 16, iters = 2,
        initBound = 32)),
      doc = "RQ index-pair coherence census + trigger: a sampled re-encode " +
        "against the current codebooks catches the crash window between " +
        "rqIndexBuild's two replaces (phase 2's mismatch count == DuckDB " +
        "running both encode chains ordinal-mapped), reconcile re-derives " +
        "the code table and the census reads clean"),

    // ---- PQ index-pair coherence: the rq_index_coherence convention on
    // pqIndexBuild's two replaces. The row-level mismatch saturates (a
    // retrained codebook flips nearly every m-subspace array), so the
    // census also counts SUBSPACE cells — the content-dependent number
    // that keeps the hash gate sharp. Phase 2 simulates the crash via
    // the real API: a rebuild from retrained codewords (vectors 16..31)
    // lands its codebook replace; its code replace never becomes current.
    GQuery("sim_pq_index_coherence",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.pqIndexBuild(s, emb, cbT, codeT, cbIdBound = 16)
        def phase(name: String)
            : (String, Long, Long, Long, Long, Long, Int, Int) = {
          val (c, fired) = Similarity.pqIndexReconcileWithCensus(
            s, emb, cbT, codeT)
          (name, c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
            c.getLong(4), if (c.getBoolean(5)) 1 else 0, if (fired) 1 else 0)
        }
        val p1 = phase("1_coherent")
        Similarity.pqIndexBuild(s,
          emb.filter(col("vec_id") >= 16 && col("vec_id") < 32)
            .withColumn("vec_id", col("vec_id") - 16),
          cbT, graft.stages.MergeTable.scratch(Seq("vec_id")), cbIdBound = 16)
        val p2 = phase("2_desynced")
        val p3 = phase("3_reconciled")
        Seq(p1, p2, p3).toDF("phase", "codebook_rows", "code_rows",
          "checked_rows", "mismatched_rows", "mismatched_cells",
          "rebuild_recommended", "fired")
          .orderBy(col("phase"))
      },
      Some(pqCoherenceSql(sampleMod = 8, m = 8, ksub = 16, subDim = 8)),
      doc = "PQ index-pair coherence census + trigger: a sampled re-encode " +
        "against the current codebook catches the crash window between " +
        "pqIndexBuild's two replaces (phase 2's row AND subspace-cell " +
        "mismatch counts == DuckDB running both encode chains " +
        "ordinal-mapped), reconcile re-derives the code table"),

    // ---- IVF index-pair coherence: the same convention on
    // ivfIndexBuild's centroid/assignment replaces — with the twist that
    // the assign table STORES its vectors, so probe AND repair run
    // entirely off the index's own tables (no source corpus). Phase 2:
    // a full-corpus retrain (build trained on the id<250 prefix) lands
    // its centroid replace; its assignment replace never becomes current.
    GQuery("sim_ivf_index_coherence",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val assignT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.ivfIndexBuild(s, emb.filter(col("vec_id") < 250),
          centT, assignT, centroids = 8, iters = 2)
        Similarity.ivfIndexAdd(s, emb.filter(col("vec_id") >= 250),
          centT, assignT)
        def phase(name: String)
            : (String, Long, Long, Long, Long, Int, Int) = {
          val (c, fired) = Similarity.ivfIndexReconcileWithCensus(
            s, centT, assignT)
          (name, c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
            if (c.getBoolean(4)) 1 else 0, if (fired) 1 else 0)
        }
        val p1 = phase("1_coherent")
        Similarity.ivfIndexBuild(s, emb, centT,
          graft.stages.MergeTable.scratch(Seq("vec_id")),
          centroids = 8, iters = 2)
        val p2 = phase("2_desynced")
        val p3 = phase("3_reconciled")
        Seq(p1, p2, p3).toDF("phase", "codebook_rows", "code_rows",
          "checked_rows", "mismatched_rows", "rebuild_recommended", "fired")
          .orderBy(col("phase"))
      },
      Some(ivfCoherenceSql(sampleMod = 8, k = 8, iters = 2,
        trainBound = 250)),
      doc = "IVF index-pair coherence census + trigger: stored vectors " +
        "re-assigned against the current centroid table catch the crash " +
        "window between ivfIndexBuild's two replaces (phase 2's mismatch " +
        "== DuckDB running both Lloyd chains), and the reconcile repairs " +
        "the assignment table from the index's own stored vectors"),

    // Persisted-LSH lifecycle (ivf_index_incremental's hyperplane
    // sibling): bucket+norm are pure per-row functions, so build(even) +
    // add(odd) == one full pass and the table-served multi-probe search
    // shares sim_ann_lsh_multiprobe's oracle verbatim.
    GQuery("sim_lsh_index_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val t = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.lshIndexBuild(s, emb.filter(col("vec_id") % 2 === 0), t)
        Similarity.lshIndexAdd(s, emb.filter(col("vec_id") % 2 === 1), t)
        Similarity.lshIndexSearch(s, emb, t, numQueries = 16, k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(lshMultiprobeSql(numQueries = 16, k = 3)),
      doc = "persisted LSH index lifecycle: bucket table built on the even " +
        "half, odd half upserted (per-row pure function => equals one full " +
        "pass), multi-probe search served from the table (shared oracle)"),

    // ---- IVF cell-balance census: the index health metric — hot cells
    // are IVF's tail latency (a load_e2 of 300 serves 3× the scan work
    // per probe), empty cells waste probes; the number that triggers
    // re-training or cell splits in production.
    GQuery("sim_ivf_balance",
      (s, dir) => Similarity.ivfBalanceCensus(s, Tables.embeddings(s, dir),
        centroids = 8, iters = 2),
      Some(s"""WITH ${kmeansAssignCtes(8, nprobe = 1, numQueries = 0)},
              |cnt AS (SELECT cell, count(*) AS n_vecs FROM corpus GROUP BY cell),
              |tot AS (SELECT count(*) AS n_total FROM corpus)
              |SELECT CAST(c.c_id AS BIGINT) AS cell,
              |       CAST(COALESCE(n.n_vecs, 0) AS BIGINT) AS n_vecs,
              |       CAST(COALESCE(n.n_vecs, 0) * 10000 // t.n_total AS BIGINT) AS share_e4,
              |       CAST(COALESCE(n.n_vecs, 0) * 8 * 100 // t.n_total AS BIGINT) AS load_e2
              |FROM c2 c LEFT JOIN cnt n ON n.cell = c.c_id CROSS JOIN tot t
              |ORDER BY cell""".stripMargin),
      doc = "IVF cell-balance census: per-cell population, 1e4 corpus " +
        "share, 1e2 load factor (100 = balanced) including empty cells — " +
        "the hot-cell signal that triggers quantizer re-training"),

    // ---- Hubness census (Radovanović et al. 2010): the k-occurrence
    // distribution over the SERVING kNN (bucketed all-corpus multi-probe
    // — the shape that survives query-set == corpus). Hubs and anti-hubs
    // both degrade retrieval; hubness grows with intrinsic dimension, so
    // this reads alongside sim_effective_rank / sim_anisotropy.
    GQuery("sim_hubness_census",
      (s, dir) => Similarity.hubnessCensus(Tables.embeddings(s, dir), k = 5),
      Some(s"""WITH knn AS (${lshMultiprobeAllSql(5)}),
              |occ AS (
              |  SELECT e.vec_id, count(k.neighbor_id) AS occ
              |  FROM embeddings e LEFT JOIN knn k ON k.neighbor_id = e.vec_id
              |  GROUP BY e.vec_id)
              |SELECT CAST(occ AS BIGINT) AS k_occurrences, count(*) AS n_vecs
              |FROM occ GROUP BY occ ORDER BY occ""".stripMargin),
      doc = "hubness census: k-occurrence histogram over the bucketed " +
        "all-corpus kNN (how many top-5 lists each vector appears in) — " +
        "hubs and anti-hubs are the high-dim retrieval-quality signal"),

    // ---- Mutual kNN: the reciprocal filter over the serving kNN — hub
    // edges are one-directional by definition (the hub rarely
    // reciprocates), so this is the de-hubbed neighbor graph curation
    // uses for clustering/near-dup QA.
    GQuery("sim_mutual_knn",
      (s, dir) => Similarity.mutualKnnPairs(Tables.embeddings(s, dir), k = 5),
      Some(s"""WITH knn AS (${lshMultiprobeAllSql(5)}),
              |fwd AS (SELECT query_id AS vec_a, neighbor_id AS vec_b, cosine
              |        FROM knn WHERE query_id < neighbor_id),
              |rev AS (SELECT neighbor_id AS vec_a, query_id AS vec_b
              |        FROM knn WHERE query_id > neighbor_id)
              |SELECT f.vec_a, f.vec_b, f.cosine
              |FROM fwd f JOIN rev r USING (vec_a, vec_b)
              |ORDER BY vec_a, vec_b""".stripMargin),
      doc = "mutual (reciprocal) kNN pairs over the bucketed all-corpus " +
        "top-5: both endpoints in each other's list — the hub-edge filter " +
        "for neighbor-graph curation"),

    // ---- Mutual-kNN clustering: connected components over the
    // reciprocal pairs ABOVE a cosine floor (reciprocity de-hubs,
    // the floor de-percolates — unfloored k=5 mutual edges chain this
    // corpus into one 497-node component), using the dedup CC engine on
    // the embedding side; summarized as a cluster-size histogram.
    // Unpaired vectors are singletons by definition and stay out.
    GQuery("sim_mutual_knn_clusters",
      (s, dir) => {
        val pairs = Similarity.mutualKnnPairs(Tables.embeddings(s, dir), k = 5)
          .filter(col("cosine") >= 0.4)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        graft.ops.Dedup.connectedComponentsStar(pairs)
          .groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
          .groupBy(col("n_members")).agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("n_members"))
      },
      Some(s"""WITH RECURSIVE knn AS MATERIALIZED (${lshMultiprobeAllSql(5)}),
              |fwd AS (SELECT query_id AS va, neighbor_id AS vb, cosine FROM knn
              |        WHERE query_id < neighbor_id),
              |rev AS (SELECT neighbor_id AS va, query_id AS vb FROM knn
              |        WHERE query_id > neighbor_id),
              |mp AS (SELECT f.va, f.vb
              |       FROM fwd f JOIN rev r ON r.va = f.va AND r.vb = f.vb
              |       WHERE f.cosine >= 0.4),
              |edges AS (SELECT va AS a, vb AS b FROM mp
              |          UNION ALL SELECT vb, va FROM mp),
              |reach(node, r) AS (
              |  SELECT DISTINCT a, a FROM edges
              |  UNION
              |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
              |comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
              |sizes AS (SELECT comp, count(*) AS n_members FROM comp GROUP BY comp)
              |SELECT CAST(n_members AS BIGINT) AS n_members,
              |       count(*) AS n_clusters
              |FROM sizes GROUP BY n_members ORDER BY n_members""".stripMargin),
      doc = "mutual-kNN cluster census: connected components over the " +
        "reciprocal top-5 pairs at cosine >= 0.4 (star contraction == " +
        "recursive-CTE closure), cluster-size histogram of the de-hubbed, " +
        "de-percolated neighbor graph"),

    // ---- Beam-width tuning card: measured recall at beam 2 / 8 / 24
    // for the exact-scored walk AND beam 24 / 48 / 96 for the PQ-scored
    // (DiskANN) walk, all six arms on ONE shared degree-6 graph build
    // (per-arm rebuilds were the r14 perf defect) — the serving knob of
    // graph ANN (DiskANN's L, HNSW's ef) priced from data. Wider beams
    // cost linearly per query; the PQ arms measure where the exact
    // final-beam rerank recovers the code-navigation loss.
    GQuery("sim_beam_width_report",
      (s, dir) => Similarity.beamWidthReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, degree = 6, rounds = 6,
          widths = Seq(2, 8, 24), pqWidths = Seq(24, 48, 96))
        .orderBy(col("method")),
      Some(beamWidthSql(numQueries = 16, k = 3, degree = 6, rounds = 6,
        widths = Seq(2, 8, 24), pqWidths = Seq(24, 48, 96))),
      doc = "beam-width recall curve for the graph walk (exact-scored " +
        "beam 2/8/24 + PQ-scored beam 24/48/96, one shared degree-6 " +
        "graph build): the DiskANN-L/HNSW-ef knob measured against " +
        "brute truth"),

    // ---- Cell-count sweep: the graph index's BUILD-sizing knob. The
    // ⌈√n⌉ rule keeps the candidate join at Σ|cell|² ≈ n^1.5; this card
    // turns the rule into a measured choice — arms at ⌈√n⌉/2 / ⌈√n⌉ /
    // 2⌈√n⌉ cells, each its own build (a build knob, the k-report
    // convention) walked with identical (degree 6, beam 8, rounds 6),
    // recall vs ONE shared brute truth beside build_pairs =
    // Σ|cell|·(|cell|−1), the exact candidate-join row count paid.
    GQuery("sim_graph_cells_report",
      (s, dir) => Similarity.graphCellsReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, degree = 6, beam = 8, rounds = 6)
        .orderBy(col("method")),
      Some(graphCellsSql(numQueries = 16, k = 3, degree = 6, beam = 8,
        rounds = 6)),
      doc = "graph-index cell-count sweep: ⌈√n⌉/2 / ⌈√n⌉ / 2⌈√n⌉ cells, " +
        "independent builds walked with identical serving params, " +
        "measured recall vs shared brute truth next to the exact " +
        "candidate-join cost each arm paid — the √n rule measured as the " +
        "knee (sf0.01: 0.79/0.94/0.79 at 20.7k/10.9k/5.4k pairs; sf0.1: " +
        "0.96/0.96/0.88 at 175k/88.5k/44k — √n matches the denser arm's " +
        "recall at half its build cost, doubling cells loses recall)"),

    // ---- Filtered ANN: predicate-constrained search, the retrieval
    // shape vector stores serve constantly ("nearest WHERE label = 3").
    // SINGLE-STAGE filtering on the shared full-corpus-trained IVF
    // index: the predicate applies AT the inverted-list scan (each probe
    // reads |cell ∩ predicate|), never as a post-filter of k truncated
    // hits — the classic filtered-search bug. Truth flags grade against
    // the exact pre-filter strategy, pricing the flip point.
    // nprobe 7, read off the FILTERED arms of sim_ivf_nprobe_report: a
    // predicate thins every cell ~10x, so filtered search widens probes
    // until the candidate pool is search-worthy. Measured on the card's
    // filtered curve (sf0.01/sf0.1): 0.48/0.63 @2, 0.79/0.71 @4,
    // 0.92/0.88 @6, 0.92/0.94 @7, 1.0 @8 — nprobe 7 is the measured arm
    // that clears ~0.9. At this selectivity the scan fraction (7/8 of
    // the thinned lists ≈ 9% of the corpus) sits just under the
    // pre-filter-exact flip (~10%), which is exactly what the card's
    // all-cells arm prices: a much more selective predicate should flip.
    GQuery("sim_filtered_topk",
      (s, dir) => Similarity.filteredIvfKmeansTopK(s, Tables.embeddings(s, dir),
          labelValue = 3, numQueries = 16, k = 3,
          centroids = 8, iters = 2, nprobe = 7)
        .orderBy(col("query_id"), col("rank")),
      Some(filteredIvfSql(labelValue = 3, centroids = 8, nprobe = 7,
        numQueries = 16, k = 3)),
      doc = "filtered ANN (single-stage): label predicate applied at the " +
        "IVF inverted-list scan of the shared full-corpus index, nprobe-7 " +
        "k-means cells — the arm of sim_ivf_nprobe_report's filtered " +
        "curve that clears ~0.9 (0.92/0.94 measured) — truth-flagged " +
        "against the exact pre-filtered search it trades against"),

    // ---- Filtered search on the QUANTIZED serve path: the same label
    // predicate served from the IVF-PQ memory rung — completing the
    // filtered family across all three deployment shapes (exact IVF,
    // graph walk, compressed codes). One full-corpus PQ codebook (the
    // single-index property), label filter at the probed-cell scan, ADC
    // coarse rank, exact top-96 rerank: quantization error compounds
    // with predicate thinning, so the rung-serving rerank convention is
    // what holds recall at the exact arm's level.
    GQuery("sim_ivfpq_filtered_topk",
      (s, dir) => Similarity.filteredIvfPqTopK(s, Tables.embeddings(s, dir),
          labelValue = 3, numQueries = 16, k = 3,
          centroids = 8, iters = 2, nprobe = 7,
          m = 8, ksub = 16, dim = 64, rerank = 96)
        .orderBy(col("query_id"), col("rank")),
      Some(filteredIvfPqSql(labelValue = 3, centroids = 8, nprobe = 7,
        numQueries = 16, k = 3, m = 8, ksub = 16, subDim = 8, rerank = 96)),
      doc = "filtered ANN on the quantized serve path: label predicate at " +
        "the IVF-PQ inverted-list scan of one full-corpus code index, ADC " +
        "coarse rank + exact top-96 rerank (C=32 measured 0.88/0.79 — " +
        "quantization error compounds with predicate thinning; C=96 holds " +
        "0.92/0.92 at sf0.01/sf0.1, parity with the exact filtered arm), " +
        "truth-flagged against the same pre-filtered exact truth as the " +
        "IVF and graph filtered arms"),

    // ---- Filtered graph-ANN: the same predicate served from the GRAPH
    // family (the DiskANN deployment shape) — the r16 gap: filtered
    // search existed only for IVF. Filtered-DiskANN convention
    // (Gollapudi et al., WWW '23): the walk ROUTES through non-matching
    // nodes — dropping them from the frontier would disconnect the graph
    // exactly when the predicate is selective — and COLLECTS every
    // matching node it scores en route; top-k over the collected pool,
    // truth-flagged against the exact pre-filtered search. One graph
    // serves every predicate; the serving surcharge is a label test on
    // rows the walk already scored. Beam 8 is the measured default off
    // sim_graph_filtered_report's curve (see that card's doc).
    GQuery("sim_graph_filtered_topk",
      (s, dir) => Similarity.filteredGraphTopK(s, Tables.embeddings(s, dir),
          labelValue = 3, numQueries = 16, k = 3,
          degree = 6, beam = 32, rounds = 6, entries = 8)
        .orderBy(col("query_id"), col("rank")),
      Some(graphFilteredSql(labelValue = 3, numQueries = 16, k = 3,
        degree = 6, entries = 8, beam = 32, rounds = 6)),
      doc = "filtered graph-ANN (Filtered-DiskANN): label-stitched edges " +
        "(per-(cell,label) kNN + label chain) + multi-entry walk + " +
        "en-route match collection + matched-pool expansion, truth-flagged " +
        "against the exact pre-filtered search — ships the measured " +
        "(entries 8, beam 32) arm of sim_graph_filtered_report " +
        "(0.96/0.96 at sf0.01/sf0.1)"),

    // ---- The filtered walk's tuning card: (entries, beam) arms walk ONE
    // shared stitched graph jointly (the beamSweepOnGraph (arm, query)
    // walk keys), graded against the SAME predicate-filtered exact truth as
    // the IVF filtered card. The two knobs must scale together (entries
    // past the beam are pruned in round 1 — measured), so the arms climb
    // the diagonal; sim_graph_filtered_topk ships the measured knee.
    // Curve (identical at sf0.01/sf0.1): 0.75 @ (1,8), 0.83/0.85 @
    // (4,16), 0.96/0.96 @ (8,32), 1.0 @ (16,64).
    GQuery("sim_graph_filtered_report",
      (s, dir) => Similarity.graphFilteredBeamReport(s, Tables.embeddings(s, dir),
          labelValue = 3, numQueries = 16, k = 3,
          degree = 6, arms = Seq((1, 8), (4, 16), (8, 32), (16, 64)),
          rounds = 6)
        .orderBy(col("method")),
      Some(graphFilteredBeamSql(labelValue = 3, numQueries = 16, k = 3,
        degree = 6, arms = Seq((1, 8), (4, 16), (8, 32), (16, 64)),
        rounds = 6)),
      doc = "filtered graph-walk (entries, beam) curve on one shared " +
        "label-stitched graph, arms walked jointly, each graded against " +
        "the exact pre-filtered truth — the measured knob pair behind " +
        "sim_graph_filtered_topk's shipped (8, 32) default " +
        "(0.75 → 0.85 → 0.96 → 1.0 up the diagonal)"),

    // ---- Rerank-candidates tuning card: the second serving knob (the
    // beam card's sibling) — one-bit / matryoshka / RQ coarse-rank on
    // their compressed forms and exactly rerank the top C; this card
    // prices C (cold full-vector reads per query) against measured
    // recall, each family's coarse rank computed once with every C arm
    // a prefix of it.
    GQuery("sim_rerank_width_report",
      (s, dir) => Similarity.rerankWidthReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3,
          onebitCs = Seq(4, 12, 32), matryCs = Seq(8, 32),
          rqCs = Seq(32, 128))
        .orderBy(col("method")),
      Some(rerankWidthSql(numQueries = 16, k = 3,
        onebitCs = Seq(4, 12, 32), matryCs = Seq(8, 32),
        rqCs = Seq(32, 128))),
      doc = "rerank-candidates recall curve: one-bit (C 4/12/32), " +
        "matryoshka (C 8/32) and RQ (C 32/128) arms, each family's " +
        "coarse rank computed once — prices the exact-rerank knob " +
        "(cold reads per query) against brute truth"),

    // ---- Matryoshka prefix-dim sweep: the MRL family's sizing knob —
    // the rerank card prices its C, this prices d (resident memory is
    // d/64 of the full vectors). Arms 8/16/32 coarse on the d-prefix at
    // the same rerank width, one shared brute truth: the measured curve
    // that makes "which prefix do we ship" a data decision.
    GQuery("sim_matryoshka_dim_report",
      (s, dir) => Similarity.matryoshkaDimReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, dims = Seq(8, 16, 32), candidates = 32)
        .orderBy(col("method")),
      Some(matryoshkaDimSql(numQueries = 16, k = 3, dims = Seq(8, 16, 32),
        candidates = 32)),
      doc = "matryoshka prefix-dimension sweep: recall at prefix dims " +
        "8/16/32 (8×/4×/2× memory cut) at the same exact-rerank width " +
        "vs one shared brute truth — the MRL shipping-dimension knob " +
        "measured"),

    GQuery("sim_recall_report",
      (s, dir) => Similarity.recallReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3)
        .orderBy(col("method")),
      Some(recallSql(numQueries = 16, k = 3)),
      doc = "measured ANN recall: integer truth-set hit counts per index — " +
        "probing (single/multi-probe LSH, nprobe 1 vs 2 IVF), quantization " +
        "(SQ8, matryoshka, PQ, IVF-PQ, RQ, one-bit) and both graph walks " +
        "(exact-scored + DiskANN PQ-scored, one shared build), all twelve " +
        "rungs priced in one table at their shipping defaults"),

    // SemDeDup (arXiv:2303.09540): the quantizer bounds the pairwise
    // search to within-cell — the semantic twin of the banded text dedup's
    // "never all-pairs" invariant. Census output is integer-only, so the
    // oracle compare is exact regardless of float formatting.
    GQuery("dedup_semantic",
      (s, dir) => graft.ops.Similarity.semDedupCensus(s, Tables.embeddings(s, dir),
          centroids = 8, iters = 2, tau = 0.3)
        .orderBy(col("cell")),
      Some(semDedupSql(centroids = 8, tau = "0.3")),
      doc = "SemDeDup semantic dedup: deterministic k-means cells, min-id-wins " +
        "cosine prune within cells only; per-cell kept/dropped census"),

    GQuery("dedup_embedding_cosine",
      (s, dir) => Similarity.embeddingNearDupPairs(s, Tables.embeddings(s, dir), tau = 0.9)
        .orderBy(col("vec_a"), col("vec_b")),
      Some(s"""WITH planes AS (
                     SELECT m.m, list_transform(range(0, 64),
                       i -> (CAST('0x' || substr(md5(CAST(m.m AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000) AS w
                     FROM (SELECT unnest(range(0, 24)) AS m) m),
                   base AS (
                     SELECT vec_id, embedding,
                            sqrt(${dotSql("embedding", "embedding")}) AS norm
                     FROM embeddings),
                   bits AS (
                     SELECT b.vec_id, CAST(p.m // 12 AS INT) AS band,
                            sum(CASE WHEN ${dotSql("b.embedding", "p.w")} >= 0
                                     THEN (CAST(1 AS BIGINT) << CAST(p.m % 12 AS INT))
                                     ELSE 0 END) AS band_key
                     FROM base b, planes p GROUP BY b.vec_id, band),
                   cand AS (
                     SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                     FROM bits a JOIN bits b
                       ON a.band = b.band AND a.band_key = b.band_key
                      AND a.vec_id < b.vec_id)
              SELECT c.vec_a, c.vec_b,
                     ${dotSql("va.embedding", "vb.embedding")} / (va.norm * vb.norm) AS cosine
              FROM cand c
              JOIN base va ON va.vec_id = c.vec_a
              JOIN base vb ON vb.vec_id = c.vec_b
              WHERE ${dotSql("va.embedding", "vb.embedding")} / (va.norm * vb.norm) >= 0.9
              ORDER BY vec_a, vec_b"""),
      doc = "embedding-cosine near-dup pairs via banded hyperplane LSH + exact verify"),

    // Contrastive-pair mining: the batch-builder input for triplet /
    // InfoNCE training. semi_hard applies the FaceNet margin band against
    // the anchor's hardest positive; both engines compare the same
    // bit-identical doubles, so the boolean is exact.
    GQuery("sim_hard_negatives",
      (s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir),
          numQueries = 16, k = 5, margin = 0.05)
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH base AS (
                 SELECT vec_id, label, embedding,
                        sqrt(${dotSql("embedding", "embedding")}) AS norm
                 FROM embeddings),
               q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                            norm AS q_norm, label AS q_label
                     FROM base WHERE vec_id < 16),
               scored AS (
                 SELECT q.query_id, q.q_label, b.vec_id, b.label,
                        ${dotSql("b.embedding", "q.q_emb")} / (b.norm * q.q_norm) AS cosine
                 FROM base b, q WHERE b.vec_id <> q.query_id),
               pos AS (SELECT query_id, max(cosine) AS pos_cos
                       FROM scored WHERE label = q_label GROUP BY query_id),
               neg AS (SELECT query_id, vec_id, label, cosine,
                              ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
                       FROM scored WHERE label <> q_label)
               SELECT n.query_id, CAST(n.rank AS INT) AS rank,
                      n.vec_id AS neighbor_id, n.label AS neg_label, n.cosine,
                      (n.cosine < p.pos_cos AND n.cosine > p.pos_cos - 0.05) AS semi_hard
               FROM neg n JOIN pos p USING (query_id) WHERE n.rank <= 5
               ORDER BY n.query_id, n.rank"""),
      doc = "contrastive hard-negative mining: top-5 cross-label cosine " +
        "neighbors per anchor, FaceNet semi-hard margin flag vs the hardest positive"),

    // MMR diverse top-k: where sim_topk_brute returns near-copies, the
    // greedy λ-tradeoff pick penalizes each candidate by its worst
    // similarity to the already-selected set. The oracle unrolls the 3
    // greedy rounds; the Spark side is the bounded-round loop with one
    // single-row argmax collect per round.
    GQuery("sim_mmr_diverse",
      (s, dir) => Similarity.mmrSelect(Tables.embeddings(s, dir),
          queryId = 0L, poolSize = 16, k = 3, lambda = 0.5)
        .orderBy(col("rank")),
      Some {
        val cos = (a: String, an: String, b: String, bn: String) =>
          s"${dotSql(a, b)} / ($an * $bn)"
        s"""WITH base AS (
              SELECT vec_id, embedding,
                     sqrt(${dotSql("embedding", "embedding")}) AS norm
              FROM embeddings),
            q AS (SELECT embedding AS q_emb, norm AS q_norm FROM base WHERE vec_id = 0),
            pool AS (
              SELECT b.vec_id, b.embedding, b.norm,
                     ${cos("b.embedding", "b.norm", "q.q_emb", "q.q_norm")} AS rel
              FROM base b, q WHERE b.vec_id <> 0
              ORDER BY rel DESC, b.vec_id LIMIT 16),
            pair AS (
              SELECT a.vec_id AS ai, b.vec_id AS bi,
                     ${cos("a.embedding", "a.norm", "b.embedding", "b.norm")} AS s
              FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
            p1 AS (SELECT vec_id, rel, rel AS score FROM pool
                   ORDER BY rel DESC, vec_id LIMIT 1),
            c2 AS (SELECT p.vec_id, p.rel,
                          0.5 * p.rel - 0.5 * (SELECT s FROM pair
                            WHERE ai = p.vec_id AND bi = (SELECT vec_id FROM p1)) AS score
                   FROM pool p WHERE p.vec_id <> (SELECT vec_id FROM p1)),
            p2 AS (SELECT vec_id, rel, score FROM c2
                   ORDER BY score DESC, vec_id LIMIT 1),
            c3 AS (SELECT p.vec_id, p.rel,
                          0.5 * p.rel - 0.5 * greatest(
                            (SELECT s FROM pair WHERE ai = p.vec_id
                               AND bi = (SELECT vec_id FROM p1)),
                            (SELECT s FROM pair WHERE ai = p.vec_id
                               AND bi = (SELECT vec_id FROM p2))) AS score
                   FROM pool p WHERE p.vec_id NOT IN (
                     (SELECT vec_id FROM p1) UNION ALL (SELECT vec_id FROM p2))),
            p3 AS (SELECT vec_id, rel, score FROM c3
                   ORDER BY score DESC, vec_id LIMIT 1)
            SELECT CAST(1 AS INT) AS rank, vec_id, rel, score AS mmr_score FROM p1
            UNION ALL SELECT CAST(2 AS INT), vec_id, rel, score FROM p2
            UNION ALL SELECT CAST(3 AS INT), vec_id, rel, score FROM p3
            ORDER BY rank"""
      },
      doc = "MMR diverse top-3 (lambda=0.5, pool 16): greedy relevance-vs-" +
        "redundancy selection, unrolled-rounds oracle, bit-identical trajectory"),

    // Label-noise detection (the confident-learning shape): every vector's
    // 5-NN majority label vs its own — high per-label disagreement means
    // mislabeled or boundary-heavy data. SHIPPED form is bucketed: the
    // r11 brute form broadcast the entire corpus as the query side of an
    // n² kernel (flagged scale-weak); here candidates come from multi-probe
    // LSH (equi-join on bucket — NO broadcast, ~9/256 of all-pairs) and
    // the per-query top-5 rides the bounded TopKAggregator. The exact
    // truth lives on as the sampled grader in sim_label_noise_fidelity.
    GQuery("sim_label_noise_bucketed",
      (s, dir) => Similarity.labelNoiseCensusBucketed(
        Tables.embeddings(s, dir), k = 5),
      Some(s"""WITH $planesSql,
               base AS (
                 SELECT vec_id, embedding,
                        sqrt(${dotSql("embedding", "embedding")}) AS norm
                 FROM embeddings),
               bits AS (
                 SELECT b.vec_id,
                        sum(CASE WHEN ${dotSql("b.embedding", "p.w")} >= 0
                                 THEN (CAST(1 AS BIGINT) << CAST(p.m AS INT))
                                 ELSE 0 END) AS bucket
                 FROM base b, planes p GROUP BY b.vec_id),
               bucketed AS (
                 SELECT b.vec_id, b.embedding, b.norm, bt.bucket
                 FROM base b JOIN bits bt ON b.vec_id = bt.vec_id),
               probes AS (
                 SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
                        unnest(list_prepend(bucket,
                          list_transform(range(0, 8),
                            m -> xor(bucket, CAST(1 AS BIGINT) << CAST(m AS INT))))) AS probe
                 FROM bucketed),
               knn AS (
                 SELECT query_id, nid FROM (
                   SELECT p.query_id, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY ${dotSql("c.embedding", "p.q_emb")} / (c.norm * p.q_norm) DESC,
                                     c.vec_id) AS r
                   FROM bucketed c JOIN probes p ON c.bucket = p.probe
                   WHERE c.vec_id <> p.query_id) WHERE r <= 5),
               vote AS (
                 SELECT query_id, -(max({'c': c, 'k': -n_label}).k) AS maj FROM (
                   SELECT k.query_id, e.label AS n_label, count(*) AS c
                   FROM knn k JOIN embeddings e ON e.vec_id = k.nid
                   GROUP BY 1, 2) GROUP BY query_id),
               j AS (SELECT e.label, v.maj FROM embeddings e
                     LEFT JOIN vote v ON v.query_id = e.vec_id)
               SELECT label, count(*) AS n_vecs,
                      CAST(count(maj) AS BIGINT) AS n_voted,
                      CAST(count(*) FILTER (maj <> label) AS BIGINT) AS n_disagree,
                      CASE WHEN count(maj) = 0 THEN NULL
                           ELSE CAST(count(*) FILTER (maj <> label) AS BIGINT)
                                  * 10000 // CAST(count(maj) AS BIGINT) END AS disagree_e4
               FROM j GROUP BY label ORDER BY label"""),
      doc = "label-noise census, scale form: 5-NN majority vote over " +
        "multi-probe LSH candidates (bucket equi-join, zero broadcast, " +
        "bounded top-k buffers), per-label disagreement at 1e4 scale"),

    // The truth grader for the bucketed census (sim_recall_report
    // convention): on a 256-query sample, exact brute 5-NN vote vs the
    // bucketed vote — per-label deltas say how much census error the LSH
    // candidate cut costs. The broadcast side is the SAMPLE (bounded),
    // never the corpus.
    GQuery("sim_label_noise_fidelity",
      (s, dir) => Similarity.labelNoiseFidelity(
        Tables.embeddings(s, dir), numQueries = 256, k = 5),
      Some(s"""WITH $planesSql,
               base AS (
                 SELECT vec_id, label, embedding,
                        sqrt(${dotSql("embedding", "embedding")}) AS norm
                 FROM embeddings),
               tscored AS (
                 SELECT q.vec_id AS query_id, b.vec_id AS nid, b.label AS n_label,
                        ${dotSql("b.embedding", "q.embedding")} / (b.norm * q.norm) AS cosine
                 FROM base b, base q
                 WHERE b.vec_id <> q.vec_id AND q.vec_id < 256),
               tknn AS (
                 SELECT query_id, n_label FROM (
                   SELECT query_id, n_label,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, nid) AS r
                   FROM tscored) WHERE r <= 5),
               tvote AS (
                 SELECT query_id, -(max({'c': c, 'k': -n_label}).k) AS truth_maj FROM (
                   SELECT query_id, n_label, count(*) AS c
                   FROM tknn GROUP BY 1, 2) GROUP BY query_id),
               bits AS (
                 SELECT b.vec_id,
                        sum(CASE WHEN ${dotSql("b.embedding", "p.w")} >= 0
                                 THEN (CAST(1 AS BIGINT) << CAST(p.m AS INT))
                                 ELSE 0 END) AS bucket
                 FROM base b, planes p GROUP BY b.vec_id),
               bucketed AS (
                 SELECT b.vec_id, b.embedding, b.norm, bt.bucket
                 FROM base b JOIN bits bt ON b.vec_id = bt.vec_id),
               probes AS (
                 SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
                        unnest(list_prepend(bucket,
                          list_transform(range(0, 8),
                            m -> xor(bucket, CAST(1 AS BIGINT) << CAST(m AS INT))))) AS probe
                 FROM bucketed WHERE vec_id < 256),
               bknn AS (
                 SELECT query_id, nid FROM (
                   SELECT p.query_id, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY ${dotSql("c.embedding", "p.q_emb")} / (c.norm * p.q_norm) DESC,
                                     c.vec_id) AS r
                   FROM bucketed c JOIN probes p ON c.bucket = p.probe
                   WHERE c.vec_id <> p.query_id) WHERE r <= 5),
               bvote AS (
                 SELECT query_id, -(max({'c': c, 'k': -n_label}).k) AS bucketed_maj FROM (
                   SELECT k.query_id, e.label AS n_label, count(*) AS c
                   FROM bknn k JOIN embeddings e ON e.vec_id = k.nid
                   GROUP BY 1, 2) GROUP BY query_id),
               j AS (
                 SELECT e.label, t.truth_maj, b.bucketed_maj
                 FROM embeddings e
                 JOIN tvote t ON t.query_id = e.vec_id
                 LEFT JOIN bvote b ON b.query_id = e.vec_id
                 WHERE e.vec_id < 256)
               SELECT label, count(*) AS n_sample,
                      CAST(count(bucketed_maj) AS BIGINT) AS n_covered,
                      CAST(count(*) FILTER (truth_maj <> label) AS BIGINT) AS n_truth_disagree,
                      CAST(count(*) FILTER (bucketed_maj <> label) AS BIGINT) AS n_bucketed_disagree,
                      CAST(count(*) FILTER (bucketed_maj = truth_maj) AS BIGINT) AS n_maj_agree,
                      CAST(count(*) FILTER (truth_maj <> label) AS BIGINT)
                        * 10000 // count(*) AS truth_disagree_e4,
                      CASE WHEN count(bucketed_maj) = 0 THEN NULL
                           ELSE CAST(count(*) FILTER (bucketed_maj = truth_maj) AS BIGINT)
                                  * 10000 // CAST(count(bucketed_maj) AS BIGINT) END AS maj_agree_e4
               FROM j GROUP BY label ORDER BY label"""),
      doc = "label-noise truth grader: 256-query sample, exact brute 5-NN " +
        "vote vs bucketed LSH vote, per-label disagreement + method-" +
        "agreement deltas (the measured cost of the candidate cut)"),

    // Per-DIMENSION embedding distribution census — the drift monitor an
    // embedding pipeline re-runs per model/data version: a dimension whose
    // mean/variance shifts signals re-training or ingestion drift before
    // any downstream metric moves. Exact scaled-integer sums (order-
    // independent) with decimal(38,0) squares — overflow-free at corpus
    // scale — and ONE correctly-rounded double division per statistic;
    // 64-row output from a single map-side-combined aggregate.
    GQuery("sim_dim_stats",
      (s, dir) => Tables.embeddings(s, dir)
        .select(posexplode(expr("CAST(embedding AS ARRAY<DOUBLE>)")).as(Seq("pos", "x")))
        .withColumn("sx", expr("CAST(floor(x * 1000000) AS BIGINT)"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          sum(expr("CAST(sx AS DECIMAL(38,0))")).as("ssum"),
          sum(expr("CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))")).as("ssq"))
        .select(col("pos"), col("n"), col("min_x"), col("max_x"),
          expr("CAST(ssum AS DOUBLE) / (1000000.0D * CAST(n AS DOUBLE))").as("mean_x"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * ssq - ssum * ssum AS DOUBLE)
                  / (1000000000000.0D * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))""")
            .as("var_x"))
        .orderBy(col("pos")),
      Some("""WITH e AS (
                SELECT t.i AS pos, CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE) AS x
                FROM embeddings, (SELECT unnest(range(0, 64)) AS i) t),
              s AS (
                SELECT pos, CAST(count(*) AS BIGINT) AS n,
                       MIN(x) AS min_x, MAX(x) AS max_x,
                       SUM(CAST(floor(x * 1000000) AS BIGINT)) AS ssum,
                       SUM(CAST(floor(x * 1000000) AS BIGINT)
                           * CAST(floor(x * 1000000) AS BIGINT)) AS ssq
                FROM e GROUP BY pos)
              SELECT CAST(pos AS INT) AS pos, n, min_x, max_x,
                     CAST(ssum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) AS mean_x,
                     CAST(n * ssq - ssum * ssum AS DOUBLE)
                       / (1000000000000.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_x
              FROM s ORDER BY pos"""),
      doc = "per-dimension embedding census: n/min/max + exact-integer mean " +
        "and variance (scaled sums, decimal squares, one rounded division " +
        "each) — the 64-row drift monitor for the vector modality"),

    // ---- Top principal direction via exact-integer power iteration: the
    // anisotropy probe next to sim_dim_stats (axis-aligned) — C = n·Σxxᵀ −
    // SSᵀ in DECIMAL(38,0)/HUGEINT, two power steps with data-derived
    // truncating renormalization (sign-split so Spark div == DuckDB // on
    // positives), final components bounded into int64 so the one DOUBLE
    // cast is exact both engines. dim²-group outer-product accumulation;
    // map-side combine collapses partitions to 4096 rows pre-shuffle.
    GQuery("sim_pca_power",
      (s, dir) => Similarity.pcaPowerTop(Tables.embeddings(s, dir)),
      Some("""WITH sv AS (
              |  SELECT list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
              |  FROM embeddings),
              |dims AS (SELECT unnest(range(0, 64)) AS i),
              |sums AS (
              |  SELECT i, CAST(SUM(sv[CAST(i AS INT) + 1]) AS HUGEINT) AS s,
              |         CAST(count(*) AS HUGEINT) AS n
              |  FROM sv, dims GROUP BY i),
              |prods AS (
              |  SELECT di.i AS i, dj.i AS j,
              |         CAST(SUM(sv[CAST(di.i AS INT) + 1] * sv[CAST(dj.i AS INT) + 1])
              |              AS HUGEINT) AS pp
              |  FROM sv, dims di, dims dj GROUP BY di.i, dj.i),
              |cov AS (
              |  SELECT p.i, p.j, a.n * p.pp - a.s * b.s AS c
              |  FROM prods p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j),
              |mc AS (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                   THEN max(abs(c)) // 1000000000000000000
              |                   ELSE 1 END AS d FROM cov),
              |covs AS (SELECT i, j,
              |                CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |         FROM cov, mc),
              |v1 AS (SELECT i, CAST(SUM(c) AS HUGEINT) AS v FROM covs GROUP BY i),
              |d1 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v1),
              |v1s AS (SELECT i AS j,
              |               CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END AS w
              |        FROM v1, d1),
              |v2 AS (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * w.w) AS v
              |       FROM covs c JOIN v1s w ON w.j = c.j GROUP BY c.i),
              |d2 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v2),
              |v2s AS (SELECT i,
              |               CAST(CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END
              |                    AS BIGINT) AS v
              |        FROM v2, d2),
              |m2 AS (SELECT CAST(max(abs(v)) AS BIGINT) AS m FROM v2s)
              |SELECT CAST(i AS INT) AS pos, v AS v_scaled,
              |       CAST(v AS DOUBLE) / CAST(m AS DOUBLE) AS pc1
              |FROM v2s, m2 ORDER BY pos""".stripMargin),
      doc = "top principal direction by exact-integer power iteration over " +
        "n·Σxxᵀ − SSᵀ: the embedding-anisotropy probe (dominant rotated " +
        "axis), float-free until one exact int64→double cast per component"),

    // ---- Anisotropy census: Rayleigh quotient vᵀCv/(vᵀv·trC) of the
    // power-iteration direction vs the best axis-aligned share max C_ii/trC
    // — the "is the cloud collapsed along a rotated direction" single-row
    // readout (Mu & Viswanath's all-but-the-top decision input). v renormed
    // to ≤1e5 so every vᵀCv term stays under DECIMAL(38,0)/HUGEINT; shares
    // are truncating cross-multiplied integer divisions.
    GQuery("sim_anisotropy",
      (s, dir) => Similarity.anisotropyCensus(Tables.embeddings(s, dir)),
      Some("""WITH sv AS (
              |  SELECT list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
              |  FROM embeddings),
              |dims AS (SELECT unnest(range(0, 64)) AS i),
              |sums AS (
              |  SELECT i, CAST(SUM(sv[CAST(i AS INT) + 1]) AS HUGEINT) AS s,
              |         CAST(count(*) AS HUGEINT) AS n
              |  FROM sv, dims GROUP BY i),
              |prods AS (
              |  SELECT di.i AS i, dj.i AS j,
              |         CAST(SUM(sv[CAST(di.i AS INT) + 1] * sv[CAST(dj.i AS INT) + 1])
              |              AS HUGEINT) AS pp
              |  FROM sv, dims di, dims dj GROUP BY di.i, dj.i),
              |cov AS (
              |  SELECT p.i, p.j, a.n * p.pp - a.s * b.s AS c
              |  FROM prods p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j),
              |mc AS (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                   THEN max(abs(c)) // 1000000000000000000
              |                   ELSE 1 END AS d FROM cov),
              |covs AS (SELECT i, j,
              |                CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |         FROM cov, mc),
              |v1 AS (SELECT i, CAST(SUM(c) AS HUGEINT) AS v FROM covs GROUP BY i),
              |d1 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v1),
              |v1s AS (SELECT i AS j,
              |               CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END AS w
              |        FROM v1, d1),
              |v2 AS (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * w.w) AS v
              |       FROM covs c JOIN v1s w ON w.j = c.j GROUP BY c.i),
              |d2 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v2),
              |v2s AS (SELECT i,
              |               CAST(CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END
              |                    AS BIGINT) AS v
              |        FROM v2, d2),
              |d6 AS (SELECT CASE WHEN max(abs(v)) > 100000
              |                   THEN max(abs(v)) // 100000 ELSE 1 END AS d FROM v2s),
              |v6 AS (SELECT i,
              |              CASE WHEN v < 0 THEN -((-CAST(v AS HUGEINT)) // d)
              |                   ELSE CAST(v AS HUGEINT) // d END AS w
              |       FROM v2s, d6),
              |num AS (SELECT SUM(wi.w * c.c * wj.w) AS num
              |        FROM covs c JOIN v6 wi ON wi.i = c.i JOIN v6 wj ON wj.i = c.j),
              |den1 AS (SELECT SUM(w * w) AS den1 FROM v6),
              |diag AS (SELECT SUM(c) AS tr, max(c) AS diag_max,
              |                CAST(count(*) AS BIGINT) AS n_dims
              |         FROM covs WHERE i = j)
              |SELECT n_dims,
              |       CAST(10000 * diag_max // tr AS BIGINT) AS axis_max_share_e4,
              |       CAST(CASE WHEN num < 0 THEN -((-(10000 * num)) // (den1 * tr))
              |                 ELSE (10000 * num) // (den1 * tr) END
              |            AS BIGINT) AS pc1_share_e4
              |FROM num, den1, diag""".stripMargin),
      doc = "anisotropy census: Rayleigh-quotient variance share of the " +
        "dominant rotated direction vs the best axis-aligned share, exact " +
        "cross-multiplied integers end-to-end — the all-but-the-top " +
        "correction decision readout"),

    // ---- All-but-the-top correction (Mu & Viswanath 2018): the consumer
    // of sim_anisotropy's readout. Mean + top-direction removal applied as
    // the CLOSED-FORM covariance transform C' = (I−ŵŵᵀ)C(I−ŵŵᵀ) — zero
    // additional corpus passes, den²-scaled exact integers (see
    // Similarity.abttCensus scaladoc for the ≤10³⁷ bound chain) — then the
    // same power-iteration + Rayleigh kernel re-measures the spectrum:
    // before/after pc1 share, after axis share, and the exact variance
    // share the correction retains.
    GQuery("sim_abtt_correction",
      (s, dir) => Similarity.abttCensus(Tables.embeddings(s, dir)),
      Some("""WITH sv AS MATERIALIZED (
              |  SELECT list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
              |  FROM embeddings),
              |dims AS MATERIALIZED (SELECT unnest(range(0, 64)) AS i),
              |sums AS MATERIALIZED (
              |  SELECT i, CAST(SUM(sv[CAST(i AS INT) + 1]) AS HUGEINT) AS s,
              |         CAST(count(*) AS HUGEINT) AS n
              |  FROM sv, dims GROUP BY i),
              |prods AS MATERIALIZED (
              |  SELECT di.i AS i, dj.i AS j,
              |         CAST(SUM(sv[CAST(di.i AS INT) + 1] * sv[CAST(dj.i AS INT) + 1])
              |              AS HUGEINT) AS pp
              |  FROM sv, dims di, dims dj GROUP BY di.i, dj.i),
              |cov AS MATERIALIZED (
              |  SELECT p.i, p.j, a.n * p.pp - a.s * b.s AS c
              |  FROM prods p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j),
              |mc AS MATERIALIZED (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                   THEN max(abs(c)) // 1000000000000000000
              |                   ELSE 1 END AS d FROM cov),
              |covs AS MATERIALIZED (SELECT i, j,
              |                CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |         FROM cov, mc),
              |v1 AS MATERIALIZED (SELECT i, CAST(SUM(c) AS HUGEINT) AS v FROM covs GROUP BY i),
              |d1 AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v1),
              |v1s AS MATERIALIZED (SELECT i AS j,
              |               CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END AS w
              |        FROM v1, d1),
              |v2 AS MATERIALIZED (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * w.w) AS v
              |       FROM covs c JOIN v1s w ON w.j = c.j GROUP BY c.i),
              |d2 AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v2),
              |v2s AS MATERIALIZED (SELECT i,
              |               CAST(CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END
              |                    AS BIGINT) AS v
              |        FROM v2, d2),
              |d6 AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 100000
              |                   THEN max(abs(v)) // 100000 ELSE 1 END AS d FROM v2s),
              |v6 AS MATERIALIZED (SELECT i,
              |              CASE WHEN v < 0 THEN -((-CAST(v AS HUGEINT)) // d)
              |                   ELSE CAST(v AS HUGEINT) // d END AS w
              |       FROM v2s, d6),
              |num AS MATERIALIZED (SELECT SUM(wi.w * c.c * wj.w) AS num
              |        FROM covs c JOIN v6 wi ON wi.i = c.i JOIN v6 wj ON wj.i = c.j),
              |den1 AS MATERIALIZED (SELECT SUM(w * w) AS den1 FROM v6),
              |diag AS MATERIALIZED (SELECT SUM(c) AS tr, CAST(count(*) AS BIGINT) AS n_dims
              |         FROM covs WHERE i = j),
              |dp AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 10000
              |                   THEN max(abs(v)) // 10000 ELSE 1 END AS d FROM v2s),
              |wp AS MATERIALIZED (SELECT i,
              |              CASE WHEN v < 0 THEN -((-CAST(v AS HUGEINT)) // d)
              |                   ELSE CAST(v AS HUGEINT) // d END AS w
              |       FROM v2s, dp),
              |dt AS MATERIALIZED (SELECT CASE WHEN max(abs(c)) > 100000000000
              |                   THEN max(abs(c)) // 100000000000
              |                   ELSE 1 END AS d FROM covs),
              |covt AS MATERIALIZED (SELECT i, j,
              |                CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |         FROM covs, dt),
              |den AS MATERIALIZED (SELECT SUM(w * w) AS den FROM wp),
              |u AS MATERIALIZED (SELECT c.i, SUM(c.c * w.w) AS u
              |      FROM covt c JOIN wp w ON w.i = c.j GROUP BY c.i),
              |qq AS MATERIALIZED (SELECT SUM(w.w * u.u) AS q FROM wp w JOIN u ON u.i = w.i),
              |cp AS MATERIALIZED (SELECT c.i, c.j,
              |              den.den * den.den * c.c
              |              - den.den * (wi.w * uj.u + ui.u * wj.w)
              |              + qq.q * wi.w * wj.w AS c
              |       FROM covt c
              |       JOIN wp wi ON wi.i = c.i JOIN wp wj ON wj.i = c.j
              |       JOIN u ui ON ui.i = c.i JOIN u uj ON uj.i = c.j, den, qq),
              |mcp AS MATERIALIZED (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                    THEN max(abs(c)) // 1000000000000000000
              |                    ELSE 1 END AS d FROM cp),
              |cps AS MATERIALIZED (SELECT i, j,
              |               CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |        FROM cp, mcp),
              |v1b AS MATERIALIZED (SELECT i, CAST(SUM(c) AS HUGEINT) AS v FROM cps GROUP BY i),
              |d1b AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                    THEN max(abs(v)) // 1000000000000000
              |                    ELSE 1 END AS d FROM v1b),
              |v1bs AS MATERIALIZED (SELECT i AS j,
              |                CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END AS w
              |         FROM v1b, d1b),
              |v2b AS MATERIALIZED (SELECT c.i, SUM(CAST(c.c AS HUGEINT) * w.w) AS v
              |        FROM cps c JOIN v1bs w ON w.j = c.j GROUP BY c.i),
              |d2b AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                    THEN max(abs(v)) // 1000000000000000
              |                    ELSE 1 END AS d FROM v2b),
              |v2bs AS MATERIALIZED (SELECT i,
              |                CAST(CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END
              |                     AS BIGINT) AS v
              |         FROM v2b, d2b),
              |d6b AS MATERIALIZED (SELECT CASE WHEN max(abs(v)) > 100000
              |                    THEN max(abs(v)) // 100000 ELSE 1 END AS d FROM v2bs),
              |v6b AS MATERIALIZED (SELECT i,
              |               CASE WHEN v < 0 THEN -((-CAST(v AS HUGEINT)) // d)
              |                    ELSE CAST(v AS HUGEINT) // d END AS w
              |        FROM v2bs, d6b),
              |numb AS MATERIALIZED (SELECT SUM(wi.w * c.c * wj.w) AS num
              |         FROM cps c JOIN v6b wi ON wi.i = c.i JOIN v6b wj ON wj.i = c.j),
              |den1b AS MATERIALIZED (SELECT SUM(w * w) AS den1 FROM v6b),
              |diagb AS MATERIALIZED (SELECT SUM(c) AS tr, max(c) AS diag_max FROM cps WHERE i = j),
              |ret AS MATERIALIZED (SELECT SUM(c) AS trp FROM cp WHERE i = j),
              |rett AS MATERIALIZED (SELECT SUM(c) AS trt FROM covt WHERE i = j)
              |SELECT diag.n_dims,
              |       CAST(CASE WHEN num.num < 0
              |                 THEN -((-(10000 * num.num)) // (den1.den1 * diag.tr))
              |                 ELSE (10000 * num.num) // (den1.den1 * diag.tr) END
              |            AS BIGINT) AS pc1_share_before_e4,
              |       CAST(CASE WHEN numb.num < 0
              |                 THEN -((-(10000 * numb.num)) // (den1b.den1 * diagb.tr))
              |                 ELSE (10000 * numb.num) // (den1b.den1 * diagb.tr) END
              |            AS BIGINT) AS pc1_share_after_e4,
              |       CAST(10000 * diagb.diag_max // diagb.tr AS BIGINT)
              |         AS axis_max_share_after_e4,
              |       CAST(CASE WHEN ret.trp < 0
              |                 THEN -((-(10000 * ret.trp)) // (den.den * den.den * rett.trt))
              |                 ELSE (10000 * ret.trp) // (den.den * den.den * rett.trt) END
              |            AS BIGINT) AS tr_retained_e4
              |FROM num, den1, diag, numb, den1b, diagb, ret, rett, den""".stripMargin),
      doc = "all-but-the-top correction (Mu & Viswanath 2018): top direction " +
        "projected out of the covariance in closed form (zero extra corpus " +
        "passes), spectrum re-measured — before/after pc1 share, after axis " +
        "share, exact retained-variance share"),

    // ---- The correction applied to VECTORS + the kNN quality delta (the
    // sim_recall_report convention): brute top-3 label agreement on raw vs
    // ABTT-corrected embeddings plus the neighbor-set overlap — how much
    // the correction moved the kNN graph and whether agreement improved.
    // Corrected components are exact integers (n·x − S mean removal,
    // den-scaled projection, ≤10⁶ renorms) so the one double cast is exact
    // and cosines hash cross-engine.
    GQuery("sim_abtt_knn_delta",
      (s, dir) => Similarity.abttKnnDelta(Tables.embeddings(s, dir),
        numQueries = 16, k = 3),
      Some("""WITH sv AS MATERIALIZED (
              |  SELECT vec_id, label, list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
              |  FROM embeddings),
              |dims AS (SELECT unnest(range(0, 64)) AS i),
              |sums AS MATERIALIZED (
              |  SELECT i, CAST(SUM(sv[CAST(i AS INT) + 1]) AS HUGEINT) AS s,
              |         CAST(count(*) AS HUGEINT) AS n
              |  FROM sv, dims GROUP BY i),
              |prods AS MATERIALIZED (
              |  SELECT di.i AS i, dj.i AS j,
              |         CAST(SUM(sv[CAST(di.i AS INT) + 1] * sv[CAST(dj.i AS INT) + 1])
              |              AS HUGEINT) AS pp
              |  FROM sv, dims di, dims dj GROUP BY di.i, dj.i),
              |cov AS MATERIALIZED (
              |  SELECT p.i, p.j, a.n * p.pp - a.s * b.s AS c
              |  FROM prods p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j),
              |mc AS (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                   THEN max(abs(c)) // 1000000000000000000
              |                   ELSE 1 END AS d FROM cov),
              |covs AS MATERIALIZED (
              |  SELECT i, j, CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |  FROM cov, mc),
              |v1 AS MATERIALIZED (SELECT i, CAST(SUM(c) AS HUGEINT) AS v
              |                    FROM covs GROUP BY i),
              |d1 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v1),
              |v1s AS (SELECT i AS j,
              |               CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END AS w
              |        FROM v1, d1),
              |v2 AS MATERIALIZED (
              |  SELECT c.i, SUM(CAST(c.c AS HUGEINT) * w.w) AS v
              |  FROM covs c JOIN v1s w ON w.j = c.j GROUP BY c.i),
              |d2 AS (SELECT CASE WHEN max(abs(v)) > 1000000000000000
              |                   THEN max(abs(v)) // 1000000000000000
              |                   ELSE 1 END AS d FROM v2),
              |v2s AS MATERIALIZED (
              |  SELECT i, CAST(CASE WHEN v < 0 THEN -((-v) // d) ELSE v // d END
              |                 AS BIGINT) AS v
              |  FROM v2, d2),
              |dp AS (SELECT CASE WHEN max(abs(v)) > 10000
              |                   THEN max(abs(v)) // 10000 ELSE 1 END AS d FROM v2s),
              |wp AS MATERIALIZED (
              |  SELECT i, CASE WHEN v < 0 THEN -((-CAST(v AS HUGEINT)) // d)
              |                 ELSE CAST(v AS HUGEINT) // d END AS w
              |  FROM v2s, dp),
              |wparr AS (SELECT list(CAST(w AS BIGINT) ORDER BY i) AS wp_arr FROM wp),
              |denw AS (SELECT CAST(SUM(w * w) AS BIGINT) AS den FROM wp),
              |sarr AS (SELECT list(CAST(s AS BIGINT) ORDER BY i) AS s_arr,
              |                CAST(max(n) AS BIGINT) AS n_total
              |         FROM sums),
              |z AS MATERIALIZED (
              |  SELECT vec_id, label,
              |         list_transform(range(0, 64),
              |           j -> n_total * sv[CAST(j AS INT) + 1]
              |                - s_arr[CAST(j AS INT) + 1]) AS z
              |  FROM sv, sarr),
              |mz AS (SELECT max(list_max(list_transform(z, v -> abs(v)))) AS mz FROM z),
              |dz AS (SELECT CASE WHEN mz > 1000000 THEN mz // 1000000 ELSE 1 END AS dz
              |       FROM mz),
              |zr AS MATERIALIZED (
              |  SELECT vec_id, label,
              |         list_transform(z, v -> CASE WHEN v < 0 THEN -((-v) // dz)
              |                                     ELSE v // dz END) AS zr
              |  FROM z, dz),
              |pr AS MATERIALIZED (
              |  SELECT vec_id, label, zr,
              |         list_sum(list_transform(range(0, 64),
              |           j -> zr[CAST(j AS INT) + 1] * wp_arr[CAST(j AS INT) + 1])) AS p
              |  FROM zr, wparr),
              |yy AS MATERIALIZED (
              |  SELECT vec_id, label,
              |         list_transform(range(0, 64),
              |           j -> den * zr[CAST(j AS INT) + 1]
              |                - p * wp_arr[CAST(j AS INT) + 1]) AS y
              |  FROM pr, wparr, denw),
              |my AS (SELECT max(list_max(list_transform(y, v -> abs(v)))) AS my FROM yy),
              |dy AS (SELECT CASE WHEN my > 1000000 THEN my // 1000000 ELSE 1 END AS dy
              |       FROM my),
              |cvec AS MATERIALIZED (
              |  SELECT vec_id, label,
              |         list_transform(y, v -> CAST(CASE WHEN v < 0 THEN -((-v) // dy)
              |                                          ELSE v // dy END AS DOUBLE)) AS emb
              |  FROM yy, dy),
              |baser AS MATERIALIZED (
              |  SELECT vec_id, embedding AS emb,
              |         sqrt(list_sum(list_transform(range(1, 65),
              |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
              |  FROM embeddings),
              |qr AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
              |       FROM baser WHERE vec_id < 16),
              |rankedr AS MATERIALIZED (
              |  SELECT query_id, vec_id AS neighbor_id FROM (
              |    SELECT q.query_id, b.vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
              |             list_sum(list_transform(range(1, 65),
              |               i -> CAST(b.emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
              |               / (b.norm * q.q_norm) DESC, b.vec_id) AS rank
              |    FROM baser b, qr q WHERE b.vec_id <> q.query_id)
              |  WHERE rank <= 3),
              |basea AS MATERIALIZED (
              |  SELECT vec_id, emb,
              |         sqrt(list_sum(list_transform(range(1, 65),
              |           i -> emb[i] * emb[i]))) AS norm
              |  FROM cvec),
              |qa AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
              |       FROM basea WHERE vec_id < 16),
              |rankeda AS MATERIALIZED (
              |  SELECT query_id, vec_id AS neighbor_id FROM (
              |    SELECT q.query_id, b.vec_id,
              |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
              |             list_sum(list_transform(range(1, 65),
              |               i -> b.emb[i] * q.q_emb[i])) / (b.norm * q.q_norm)
              |               DESC, b.vec_id) AS rank
              |    FROM basea b, qa q WHERE b.vec_id <> q.query_id)
              |  WHERE rank <= 3),
              |lab AS (SELECT vec_id, label FROM embeddings)
              |SELECT 'abtt' AS method, count(*) AS n_pairs,
              |       count(CASE WHEN nl.label = ql.label THEN 1 END) AS n_label_agree,
              |       (SELECT count(*) FROM rankeda a JOIN rankedr r
              |          ON r.query_id = a.query_id
              |         AND r.neighbor_id = a.neighbor_id) AS n_overlap_raw
              |FROM rankeda t JOIN lab ql ON ql.vec_id = t.query_id
              |               JOIN lab nl ON nl.vec_id = t.neighbor_id
              |UNION ALL
              |SELECT 'raw', count(*),
              |       count(CASE WHEN nl.label = ql.label THEN 1 END),
              |       (SELECT count(*) FROM rankedr)
              |FROM rankedr t JOIN lab ql ON ql.vec_id = t.query_id
              |               JOIN lab nl ON nl.vec_id = t.neighbor_id
              |ORDER BY method""".stripMargin),
      doc = "ABTT correction applied to vectors + kNN quality delta: brute " +
        "top-3 label agreement raw vs corrected plus neighbor-set overlap — " +
        "exact-integer correction, one exact int->double cast, hash-stable " +
        "cosines"),

    // ---- Graph-based ANN (the NSW/HNSW family) as bounded Pregel
    // rounds: IVF-cell-built degree-capped kNN graph (+ id-chain
    // connectivity edge), ⌈√n⌉ cells so the within-cell build join stays
    // √n-bounded per cell at any scale, searched by per-query greedy beam
    // expansion ENTERING AT THE QUERY'S OWN CELL centroid — the serving
    // shape where no query scores the corpus: each round scores only the
    // frontier's candidates, in one scan of the resident score side
    // shared by every query. Brute-truth
    // flags measure the recall the 6-round budget buys.
    GQuery("sim_ann_beam_graph",
      (s, dir) => Similarity.beamSearchTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, degree = 6, beam = 8, rounds = 6)
        .orderBy(col("query_id"), col("rank")),
      Some(beamGraphSql(numQueries = 16, k = 3, degree = 6, beam = 8, rounds = 6)),
      doc = "graph ANN (NSW shape): sqrt(n)-cell IVF-built degree-6 kNN " +
        "graph + chain edge, 6-round beam-8 greedy search entering at the " +
        "query's own cell, exact-cosine ranking, brute-truth recall flags " +
        "— zero per-query corpus scans"),

    // ---- Persisted kNN-graph index lifecycle (the ivf_index_incremental
    // convention applied to the THIRD index family): quantizer frozen on
    // the even half under id bound 16 (8 cells), node + per-src adjacency
    // rows as versioned MergeTables, odd half added incrementally
    // (touched-cell adjacency refresh — new nodes can displace old
    // neighbors), beam search served from the tables alone. Equal to a
    // from-scratch build over the full corpus with the same frozen
    // quantizer, which is exactly what the oracle runs.
    GQuery("sim_ann_index_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val adjT = graft.stages.MergeTable.scratch(Seq("src"))
        val metaT = graft.stages.MergeTable.scratch(Seq("key"))
        Similarity.graphIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          centT, nodeT, adjT, metaT, centroidIdBound = 16, degree = 6)
        Similarity.graphIndexAdd(s, emb.filter(col("vec_id") % 2 === 1),
          centT, nodeT, adjT, metaT)
        Similarity.graphIndexSearch(s, emb, centT, nodeT, adjT, metaT,
          numQueries = 16, k = 3, beam = 8, rounds = 6)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(beamGraphSql(numQueries = 16, k = 3, degree = 6, beam = 8,
        rounds = 6, centsPred = "vec_id < 16 AND vec_id % 2 = 0")),
      doc = "persisted kNN-graph index: frozen even-half quantizer, node + " +
        "adjacency + metadata MergeTables (adds read the build's degree " +
        "from metadata), incremental odd-half add with touched-cell " +
        "neighborhood refresh, beam search served from the tables == " +
        "from-scratch oracle over the full corpus"),

    // ---- Streaming ANN-index ingest: the persisted kNN-graph index fed
    // by a STRUCTURED STREAMING drain — the shape a production vector
    // store actually runs (a steady stream of new vectors upserted into
    // a frozen-quantizer index, never a retrain per batch). The odd half
    // arrives as a 2-file parquet stream, maxFilesPerTrigger=1 forcing
    // MULTIPLE micro-batches through foreachBatch -> graphIndexAdd; a
    // cell's adjacency is re-derived by the LAST add that touches it
    // against its final membership, so the settled index — and therefore
    // the served search — equals the from-scratch build regardless of
    // how the stream happened to batch the rows. Same oracle as
    // sim_ann_index_incremental (one frozen even-half quantizer).
    GQuery("streaming_ann_ingest",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val adjT = graft.stages.MergeTable.scratch(Seq("src"))
        val metaT = graft.stages.MergeTable.scratch(Seq("key"))
        Similarity.graphIndexBuild(s, emb.filter(col("vec_id") % 2 === 0),
          centT, nodeT, adjT, metaT, centroidIdBound = 16, degree = 6)
        // fixture: the odd half staged as two parquet files (two appends)
        // so the file source genuinely delivers multiple micro-batches
        val stage = graft.stages.TempDirs.scratch("graft_ann_ingest_")
        emb.filter(col("vec_id") % 4 === 1).coalesce(1)
          .write.mode("append").parquet(stage.toString)
        emb.filter(col("vec_id") % 4 === 3).coalesce(1)
          .write.mode("append").parquet(stage.toString)
        val stream = s.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage.toString)
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            Similarity.graphIndexAdd(s, batch.toDF(), centT, nodeT, adjT, metaT)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        graft.streaming.StateDefaults.awaitDrain(q)
        Similarity.graphIndexSearch(s, emb, centT, nodeT, adjT, metaT,
          numQueries = 16, k = 3, beam = 8, rounds = 6)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(beamGraphSql(numQueries = 16, k = 3, degree = 6, beam = 8,
        rounds = 6, centsPred = "vec_id < 16 AND vec_id % 2 = 0")),
      doc = "streaming ANN ingest: odd half streamed in multiple " +
        "micro-batches (file source, maxFilesPerTrigger=1) through " +
        "foreachBatch -> graphIndexAdd into the persisted frozen-quantizer " +
        "kNN-graph index; settled served search == from-scratch oracle, " +
        "independent of batch boundaries"),

    // ---- Index staleness census: the monitoring card that tells an
    // operator WHEN to run maintenance — frozen-quantizer cell state
    // (max/mean population, mean assignment cosine at 1e4) vs a
    // hypothetical fresh ⌈√n⌉ re-quantization of the same node set;
    // rebuild_recommended IS graphIndexMaintain's trigger predicate, so
    // census and op can never disagree. Fixture = the maintain query's
    // under-provisioned build WITHOUT the maintain, so the card shows
    // the degenerate state the op would fix.
    GQuery("sim_index_staleness",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val adjT = graft.stages.MergeTable.scratch(Seq("src"))
        val metaT = graft.stages.MergeTable.scratch(Seq("key"))
        Similarity.graphIndexBuild(s, emb.filter(col("vec_id") % 8 === 0),
          centT, nodeT, adjT, metaT, centroidIdBound = 64, degree = 6)
        Similarity.graphIndexAdd(s, emb.filter(col("vec_id") % 8 =!= 0),
          centT, nodeT, adjT, metaT)
        Similarity.graphIndexStalenessCensus(s, nodeT)
          .orderBy(col("quantizer"))
      },
      Some(s"""WITH base AS MATERIALIZED (
              |  SELECT vec_id, embedding,
              |         sqrt(${dotSql("embedding", "embedding")}) AS norm
              |  FROM embeddings),
              |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |              CAST(ceil(sqrt(count(*))) AS BIGINT) AS bound
              |       FROM embeddings),
              |fc AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
              |       FROM base WHERE vec_id < 64 AND vec_id % 8 = 0),
              |fa AS MATERIALIZED (
              |  SELECT vec_id, cell FROM (
              |    SELECT b.vec_id, c.c_id AS cell,
              |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
              |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
              |               DESC, c.c_id) AS r
              |    FROM base b, fc c) WHERE r = 1),
              |gc AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
              |       FROM base WHERE vec_id < (SELECT bound FROM nn)),
              |ga AS MATERIALIZED (
              |  SELECT vec_id, cell FROM (
              |    SELECT b.vec_id, c.c_id AS cell,
              |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
              |             ORDER BY ${dotSql("b.embedding", "c.c_emb")} / (b.norm * c.c_norm)
              |               DESC, c.c_id) AS r
              |    FROM base b, gc c) WHERE r = 1),
              |fcell AS (
              |  SELECT a.cell, count(*) AS cn,
              |         CAST(SUM(CAST(floor(10000 * ${dotSql("b.embedding", "cb.embedding")}
              |                / (b.norm * cb.norm)) AS BIGINT)) AS BIGINT) AS cs
              |  FROM fa a JOIN base b ON b.vec_id = a.vec_id
              |            JOIN base cb ON cb.vec_id = a.cell
              |  GROUP BY a.cell),
              |gcell AS (
              |  SELECT a.cell, count(*) AS cn,
              |         CAST(SUM(CAST(floor(10000 * ${dotSql("b.embedding", "cb.embedding")}
              |                / (b.norm * cb.norm)) AS BIGINT)) AS BIGINT) AS cs
              |  FROM ga a JOIN base b ON b.vec_id = a.vec_id
              |            JOIN base cb ON cb.vec_id = a.cell
              |  GROUP BY a.cell),
              |rows_ AS (
              |  SELECT 'frozen' AS quantizer, CAST(count(*) AS BIGINT) AS n_cells,
              |         CAST(max(cn) AS BIGINT) AS max_cell,
              |         CAST(CASE WHEN SUM(cs) < 0
              |                   THEN -((-SUM(cs)) // SUM(cn))
              |                   ELSE SUM(cs) // SUM(cn) END AS BIGINT) AS mean_cos_e4
              |  FROM fcell
              |  UNION ALL
              |  SELECT 'fresh_sqrt_n', CAST(count(*) AS BIGINT),
              |         CAST(max(cn) AS BIGINT),
              |         CAST(CASE WHEN SUM(cs) < 0
              |                   THEN -((-SUM(cs)) // SUM(cn))
              |                   ELSE SUM(cs) // SUM(cn) END AS BIGINT)
              |  FROM gcell)
              |SELECT r.quantizer, r.n_cells, r.max_cell, r.mean_cos_e4,
              |       CAST(CASE WHEN r.quantizer = 'frozen'
              |                  AND r.max_cell > 2 * nn.bound
              |                 THEN 1 ELSE 0 END AS INT) AS rebuild_recommended,
              |       nn.n AS n_vectors, nn.bound AS sqrt_bound
              |FROM rows_ r, nn ORDER BY r.quantizer""".stripMargin),
      doc = "index staleness census: frozen-quantizer cell state vs a " +
        "fresh sqrt(n) re-quantization of the same nodes (cells, max/" +
        "mean population, mean assignment cosine at 1e4); " +
        "rebuild_recommended is exactly graphIndexMaintain's trigger"),

    // ---- Graph index coherence census (the 4-table family): the census
    // probes each derivation link separately and so LOCALIZES which
    // replace a crash split — a centroid-only crash breaks the node link
    // and the meta bound while the adjacency link stays coherent (nodes
    // and adjacency are stale TOGETHER); a node-side crash breaks both
    // content links with the bound intact. Five phases exercise both
    // crash signatures via the real build API.
    GQuery("sim_graph_index_coherence",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        def scr(k: String) = graft.stages.MergeTable.scratch(Seq(k))
        val centT = scr("c_id"); val nodeT = scr("vec_id")
        val adjT = scr("src"); val metaT = scr("key")
        Similarity.graphIndexBuild(s, emb, centT, nodeT, adjT, metaT,
          centroidIdBound = 20, degree = 4)
        def phase(name: String) = {
          val (c, fired) = Similarity.graphIndexReconcileWithCensus(
            s, centT, nodeT, adjT, metaT)
          (name, c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
            c.getLong(4), c.getLong(5), c.getLong(6),
            if (c.getBoolean(7)) 1 else 0, if (c.getBoolean(8)) 1 else 0,
            if (fired) 1 else 0)
        }
        val p1 = phase("1_coherent")
        // crash A: a bound-24 rebuild lands ONLY its centroid replace
        Similarity.graphIndexBuild(s, emb, centT, scr("vec_id"), scr("src"),
          scr("key"), centroidIdBound = 24, degree = 4)
        val p2 = phase("2_centroid_crash")
        val p3 = phase("3_reconciled")
        // crash B: a bound-16 rebuild lands ONLY its node replace
        Similarity.graphIndexBuild(s, emb, scr("c_id"), nodeT, scr("src"),
          scr("key"), centroidIdBound = 16, degree = 4)
        val p4 = phase("4_node_crash")
        val p5 = phase("5_reconciled")
        Seq(p1, p2, p3, p4, p5).toDF("phase", "centroid_rows", "node_rows",
          "adj_rows", "checked_nodes", "node_mismatch", "checked_srcs",
          "adj_mismatch", "meta_bound_ok", "rebuild_recommended", "fired")
          .orderBy(col("phase"))
      },
      Some(graphCoherenceSql(sampleMod = 8, cellMod = 4,
        b1 = 20, b2 = 24, b3 = 16, degree = 4)),
      doc = "graph index coherence census + trigger over all four tables: " +
        "sampled re-assignment (nodes vs centroids), sampled-cell " +
        "adjacency re-derivation (adjacency vs nodes) and the metadata " +
        "bound check localize WHICH replace a crash split (centroid-only " +
        "crash: node link + bound break, adjacency link coherent; " +
        "node-side crash: both content links break); reconcile re-derives " +
        "nodes, adjacency and metadata in dependency order off the " +
        "index's own tables"),

    // ---- Graph-index maintenance (the OPTIMIZE story applied to an ANN
    // index): the quantizer freezes at build, so adds pile the corpus
    // into the build-time cells and the touched-cell refresh join
    // (Σ|cell|²) creeps back toward quadratic — the failure class the
    // ⌈√n⌉ rule fixed, one level up. The fixture under-provisions on
    // purpose (build on the 1-in-8 slice => ~⌈√(n/8)⌉-too-few cells,
    // then adds 7x the corpus), maintenance detects max|cell| > 2·⌈√n⌉
    // and re-quantizes to the fresh ⌈√n⌉ bound — after which the served
    // search must equal a FROM-SCRATCH full-corpus build, which is
    // exactly the default beamGraphSql oracle.
    GQuery("sim_ann_index_maintain",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val adjT = graft.stages.MergeTable.scratch(Seq("src"))
        val metaT = graft.stages.MergeTable.scratch(Seq("key"))
        Similarity.graphIndexBuild(s, emb.filter(col("vec_id") % 8 === 0),
          centT, nodeT, adjT, metaT, centroidIdBound = 64, degree = 6)
        Similarity.graphIndexAdd(s, emb.filter(col("vec_id") % 8 =!= 0),
          centT, nodeT, adjT, metaT)
        // overfull after the adds -> re-quantize; a silent no-op here
        // would fail the oracle compare (search would ride stale cells)
        Similarity.graphIndexMaintain(s, centT, nodeT, adjT, metaT)
        Similarity.graphIndexSearch(s, emb, centT, nodeT, adjT, metaT,
          numQueries = 16, k = 3, beam = 8, rounds = 6)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(beamGraphSql(numQueries = 16, k = 3, degree = 6, beam = 8,
        rounds = 6)),
      doc = "graph-index maintenance: 1-in-8 under-provisioned build + " +
        "7/8 incremental adds overfill the frozen cells past the " +
        "2*sqrt(n) threshold; maintain re-quantizes to the fresh " +
        "ceil(sqrt(n)) bound (versioned MergeTable replaces) and the " +
        "served search equals a from-scratch full-corpus build"),

    // ---- DiskANN-shape composition (Subramanya et al. 2019): the kNN
    // graph walked with PQ ASYMMETRIC scoring — the m-byte codes are what
    // stays memory-resident (32× cut) — and only the final beam re-scored
    // exactly (≤beam full-vector "disk reads" per query, never a corpus
    // scan). Dual scores in the output price the navigation error; truth
    // flags price the end-to-end recall. Beam 96 is the MEASURED default:
    // sim_beam_width_report's PQ arms curve 0.75/0.81/0.92 (sf0.01) and
    // 0.81/0.92/0.96 (sf0.1) at beam 24/48/96 — exactly the DiskANN
    // trade (navigation on codes is cheap, so the search list widens
    // past the exact walk's knee until the exact rerank recovers
    // recall; DiskANN's L runs 50-100 for the same reason).
    GQuery("sim_graph_pq_topk",
      (s, dir) => Similarity.graphPqTopK(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, degree = 6, beam = 96, rounds = 6)
        .orderBy(col("query_id"), col("rank")),
      Some(graphPqSql(numQueries = 16, k = 3, degree = 6, beam = 96,
        rounds = 6, m = 8, ksub = 16, subDim = 8)),
      doc = "DiskANN-shape ANN: kNN graph walked by PQ asymmetric cosine " +
        "(codes resident, vectors cold), final beam exactly re-ranked — " +
        "beam 96 measured at 0.92/0.96 recall (the width card's PQ arms " +
        "price the knob); dual scores measure what PQ navigation costs"),

    // ---- DiskANN SERVED FROM TABLES: the sim_graph_pq_topk composition
    // with nothing derived from the source corpus — the walk reads the
    // persisted kNN-graph index (built on the even half, odd half added
    // incrementally), scoring reads reconstructions decoded from the
    // persisted PQ code table (its own even-half frozen codebook, odd
    // half encoded incrementally), and the exact final-beam rerank reads
    // the node table. Two frozen quantizers compose; each family's
    // build+adds == one from-scratch pass, so the served search equals
    // the from-scratch composition the oracle runs.
    GQuery("sim_graph_pq_index_serve",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val even = emb.filter(col("vec_id") % 2 === 0)
        val odd = emb.filter(col("vec_id") % 2 === 1)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val nodeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val adjT = graft.stages.MergeTable.scratch(Seq("src"))
        val metaT = graft.stages.MergeTable.scratch(Seq("key"))
        val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.graphIndexBuild(s, even, centT, nodeT, adjT, metaT,
          centroidIdBound = 16, degree = 6)
        Similarity.graphIndexAdd(s, odd, centT, nodeT, adjT, metaT)
        Similarity.pqIndexBuild(s, even, cbT, codeT, cbIdBound = 32)
        Similarity.pqIndexAdd(s, odd, cbT, codeT)
        Similarity.graphPqIndexSearch(s, emb, centT, nodeT, adjT, metaT,
          cbT, codeT, numQueries = 16, k = 3, beam = 96, rounds = 6)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(graphPqSql(numQueries = 16, k = 3, degree = 6, beam = 96,
        rounds = 6, m = 8, ksub = 16, subDim = 8,
        centsPred = "vec_id < 16 AND vec_id % 2 = 0",
        cbPred = "e.vec_id < 32 AND e.vec_id % 2 = 0")),
      doc = "DiskANN served from tables: persisted kNN-graph index walked " +
        "by reconstructions decoded from the persisted PQ code table, " +
        "exact final-beam rerank off the node table — both index families " +
        "built on the even half + incrementally extended, serve plan " +
        "touches no source corpus, == from-scratch composition oracle"),

    // ---- IVF-PQ SERVED FROM TABLES: the FAISS `IVFx,PQy` flagship
    // deployment with nothing derived from the source corpus at serve
    // time — candidate cells come off the persisted IVF assignment
    // table, scores decode the persisted PQ code table (resident memory
    // = centroids + m-byte codes), queries external. Both families built
    // on the even half + incrementally extended with the odd half; each
    // family's build+adds == one from-scratch pass, so the served search
    // equals the from-scratch ivfPqTopK composition the oracle runs.
    GQuery("sim_ivfpq_index_serve",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val even = emb.filter(col("vec_id") % 2 === 0)
        val odd = emb.filter(col("vec_id") % 2 === 1)
        val centT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val asgT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        val cbT = graft.stages.MergeTable.scratch(Seq("c_id"))
        val codeT = graft.stages.MergeTable.scratch(Seq("vec_id"))
        Similarity.ivfIndexBuild(s, even, centT, asgT, centroids = 16, iters = 2)
        Similarity.ivfIndexAdd(s, odd, centT, asgT)
        Similarity.pqIndexBuild(s, even, cbT, codeT, cbIdBound = 32)
        Similarity.pqIndexAdd(s, odd, cbT, codeT)
        Similarity.ivfPqIndexSearch(s, emb, centT, asgT, cbT, codeT,
          numQueries = 16, k = 3, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfPqSql(centroids = 16, nprobe = 2, numQueries = 16, k = 3,
        m = 8, ksub = 16, subDim = 8, trainPred = "vec_id % 2 = 0",
        cbPred = "e.vec_id < 32 AND e.vec_id % 2 = 0")),
      doc = "IVF-PQ served from tables (the FAISS IVFx,PQy deployment): " +
        "candidate cells off the persisted IVF assignment table, scores " +
        "decoded from the persisted PQ code table against the broadcast " +
        "frozen codebook — both families built on the even half + " +
        "incrementally extended, serve plan touches no source corpus, " +
        "== from-scratch composition oracle with per-hit truth flags"),

    // ---- nprobe tuning card: the IVF serving knob next to the graph
    // walk's beam and the rerank rungs' C — quantizer trained once,
    // corpus/query assignments materialized once (what the persisted
    // index is), every arm a rank prefix of the one cell ranking. The
    // nprobe=8 arm probes ALL cells = the exact-scan ceiling (recall
    // 1.0), pricing what each extra probe buys on the way there.
    GQuery("sim_ivf_nprobe_report",
      (s, dir) => Similarity.ivfNprobeReport(s, Tables.embeddings(s, dir),
          numQueries = 16, k = 3, centroids = 8, iters = 2,
          nprobes = Seq(1, 2, 4, 8),
          filteredLabel = Some(3), filteredNprobes = Seq(2, 4, 6, 7, 8))
        .orderBy(col("method")),
      Some(ivfNprobeSql(centroids = 8, numQueries = 16, k = 3,
        nprobes = Seq(1, 2, 4, 8),
        filteredLabel = Some(3), filteredNprobes = Seq(2, 4, 6, 7, 8))),
      doc = "IVF nprobe recall curve, unfiltered AND filtered: one " +
        "trained quantizer + one materialized assignment pass, arms " +
        "nprobe=1/2/4/8 as prefixes of one query-side cell ranking " +
        "against the shared brute truth (nprobe=8 = all cells, the " +
        "recall-1.0 exact ceiling), plus filtered_nprobe=2/4/6/7/8 arms " +
        "over the label-thinned corpus against the predicate-filtered " +
        "exact truth — the measured curve sim_filtered_topk's default " +
        "is read from"),

    // ---- PQ m sweep: the CODE-SIZE knob — m subspaces = m bytes
    // resident per vector, so the arms price memory (16×/32×/64× cut at
    // m=16/8/4) against recall on the shared brute truth. Each arm is
    // its own encode (m is a build-time knob, like the k sweep); the
    // truth is collected once by truthHits.
    GQuery("sim_pq_m_report",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.truthHitsCard(s, emb, numQueries = 16, k = 3)(Seq(
          "pq_m04" -> Similarity.pqTopK(emb, 16, 3, m = 4, ksub = 16, dim = 64),
          "pq_m08" -> Similarity.pqTopK(emb, 16, 3, m = 8, ksub = 16, dim = 64),
          "pq_m16" -> Similarity.pqTopK(emb, 16, 3, m = 16, ksub = 16, dim = 64)))
          .orderBy(col("method"))
      },
      Some {
        val nTruth = 16 * 3
        val arms = Seq((4, 16), (8, 8), (16, 4))
        val ctes = arms.map { case (m, sd) =>
          f"pm$m%02d AS (SELECT query_id, neighbor_id FROM (${pqSql(16, 3, m, 16, sd)}) t)" }
          .mkString(",\n")
        val rows = arms.map { case (m, _) =>
          f"""SELECT 'pq_m$m%02d' AS method,
             |       (SELECT count(*) FROM pm$m%02d a JOIN truth t
             |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hits""".stripMargin }
          .mkString("\nUNION ALL\n")
        s"""WITH truth AS (SELECT query_id, neighbor_id FROM (${bruteSql(16, 3)}) t),
           |$ctes
           |SELECT method, CAST($nTruth AS BIGINT) AS n_truth, n_hits,
           |       CAST(n_hits AS DOUBLE) / $nTruth AS recall
           |FROM ($rows) ORDER BY method""".stripMargin
      },
      doc = "PQ subspace-count sweep (m=4/8/16 -> 64x/32x/16x memory " +
        "cut): recall per arm against the shared brute truth — the " +
        "code-size knob priced next to nprobe, beam, rerank-C and k"),

    // ---- k sweep: the quantizer-SIZING knob next to the nprobe serving
    // knob — per candidate cell count, mean assignment cosine (the
    // staleness census's own metric, floor(1e4) integer sums) and the
    // max cell population (probe-cost tail). Each arm's Lloyd rerun IS
    // the priced cost; the elbow is where doubling k stops paying.
    GQuery("sim_ivf_k_report",
      (s, dir) => Similarity.ivfKReport(s, Tables.embeddings(s, dir),
          ks = Seq(2, 4, 8, 16), iters = 2)
        .orderBy(col("k")),
      Some(ivfKSql(Seq(2, 4, 8, 16))),
      doc = "IVF quantizer k sweep (2/4/8/16 cells): mean assignment " +
        "cosine at 1e4 (exact integer sums) + max cell population per " +
        "arm — the sizing elbow card, same metric as the staleness census"),

    // ---- Centroid drift census: the embedding-version QA gate a
    // re-embedding pipeline runs before swapping model checkpoints —
    // even/odd ids stand in for old/new batches; per label, the cosine
    // between the halves' centroids (exact scaled-integer means, three
    // final IEEE ops). Healthy labels read ~1.0; a disagreeing label is
    // the drift signal.
    GQuery("sim_centroid_drift",
      (s, dir) => Similarity.centroidDriftCensus(Tables.embeddings(s, dir))
        .orderBy(col("label")),
      Some("""WITH sv AS MATERIALIZED (
             |  SELECT label, vec_id % 2 AS parity,
             |         list_transform(range(1, 65),
             |           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
             |  FROM embeddings),
             |e AS (
             |  SELECT label, parity, t.i AS pos,
             |         CAST(SUM(sv[CAST(t.i AS INT) + 1]) AS BIGINT) AS s,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM sv, (SELECT unnest(range(0, 64)) AS i) t
             |  GROUP BY 1, 2, 3),
             |m AS (
             |  SELECT label, parity, pos, n,
             |         CAST(CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS BIGINT) AS m
             |  FROM e),
             |v AS (
             |  SELECT label, parity, max(n) AS n,
             |         list(CAST(m AS DOUBLE) ORDER BY pos) AS mv
             |  FROM m GROUP BY 1, 2)
             |SELECT ev.label, CAST(ev.n AS BIGINT) AS n_even,
             |       CAST(od.n AS BIGINT) AS n_odd,
             |       list_sum(list_transform(range(1, 65), i -> ev.mv[i] * od.mv[i]))
             |       / (sqrt(list_sum(list_transform(range(1, 65), i -> ev.mv[i] * ev.mv[i])))
             |          * sqrt(list_sum(list_transform(range(1, 65), i -> od.mv[i] * od.mv[i]))))
             |         AS drift_cos
             |FROM v ev JOIN v od ON ev.label = od.label
             |WHERE ev.parity = 0 AND od.parity = 1
             |ORDER BY ev.label""".stripMargin),
      doc = "per-label centroid drift between even/odd halves: exact " +
        "scaled-integer centroid means, cosine as three deterministic " +
        "IEEE ops — the re-embedding QA gate (healthy labels ~1.0)"),

    // ---- One-bit (binary) quantization top-k — the 64× memory rung
    // (vs PQ 32× / SQ8 4×): 60-bit sign signature, Hamming coarse rank
    // (xor + popcount, all-integer cross-engine), exact-cosine rerank of
    // 12 survivors, truth flags vs brute force (matryoshka convention).
    GQuery("sim_onebit_topk",
      (s, dir) => Similarity.oneBitTopK(Tables.embeddings(s, dir),
          numQueries = 16, k = 3, candidates = 12)
        .orderBy(col("query_id"), col("rank")),
      Some(onebitSql(numQueries = 16, k = 3, candidates = 12)),
      doc = "one-bit (sign) quantization ANN: 60-bit signature, Hamming " +
        "coarse rank (xor+popcount, integer-exact), exact-cosine rerank of " +
        "12 survivors, truth flags vs brute force — the 64x memory rung"),

    // ---- Effective rank (eigenvalue participation ratio): tr(C)²/‖C‖²_F
    // == (Σλ)²/Σλ² with NO eigendecomposition (Frobenius identity for
    // symmetric C) — the "how many directions does the cloud use" single
    // row next to sim_anisotropy's top-share view. Exact integers on the
    // ≤10¹⁵-renormed covariance; scale-invariant ratio.
    GQuery("sim_effective_rank",
      (s, dir) => Similarity.effectiveRankCensus(Tables.embeddings(s, dir)),
      Some("""WITH sv AS MATERIALIZED (
              |  SELECT list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
              |  FROM embeddings),
              |dims AS (SELECT unnest(range(0, 64)) AS i),
              |sums AS MATERIALIZED (
              |  SELECT i, CAST(SUM(sv[CAST(i AS INT) + 1]) AS HUGEINT) AS s,
              |         CAST(count(*) AS HUGEINT) AS n
              |  FROM sv, dims GROUP BY i),
              |prods AS MATERIALIZED (
              |  SELECT di.i AS i, dj.i AS j,
              |         CAST(SUM(sv[CAST(di.i AS INT) + 1] * sv[CAST(dj.i AS INT) + 1])
              |              AS HUGEINT) AS pp
              |  FROM sv, dims di, dims dj GROUP BY di.i, dj.i),
              |cov AS MATERIALIZED (
              |  SELECT p.i, p.j, a.n * p.pp - a.s * b.s AS c
              |  FROM prods p JOIN sums a ON a.i = p.i JOIN sums b ON b.i = p.j),
              |mc AS (SELECT CASE WHEN max(abs(c)) > 1000000000000000000
              |                   THEN max(abs(c)) // 1000000000000000000
              |                   ELSE 1 END AS d FROM cov),
              |covs AS MATERIALIZED (
              |  SELECT i, j, CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |  FROM cov, mc),
              |mr AS (SELECT CASE WHEN max(abs(c)) > 1000000000000000
              |                   THEN max(abs(c)) // 1000000000000000
              |                   ELSE 1 END AS d FROM covs),
              |covr AS MATERIALIZED (
              |  SELECT i, j, CASE WHEN c < 0 THEN -((-c) // d) ELSE c // d END AS c
              |  FROM covs, mr)
              |SELECT CAST(count(CASE WHEN i = j THEN 1 END) AS BIGINT) AS n_dims,
              |       CAST(10000 * max(CASE WHEN i = j THEN c END)
              |              // SUM(CASE WHEN i = j THEN c END) AS BIGINT)
              |         AS axis_max_share_e4,
              |       CAST((10000 * SUM(CASE WHEN i = j THEN c END)
              |                   * SUM(CASE WHEN i = j THEN c END))
              |              // SUM(c * c) AS BIGINT) AS eff_rank_e4
              |FROM covr""".stripMargin),
      doc = "effective rank (eigenvalue participation ratio tr(C)^2/frob(C)^2, " +
        "no eigendecomposition): how many directions the embedding cloud " +
        "actually uses — exact integers, scale-invariant"),

    // Per-class centroids + inter-class separation matrix — the
    // embedding-space health readout a labeled corpus ships with: classes
    // whose centroids sit at high cosine are confusable (the macro
    // counterpart of the per-vector label-noise census). Centroid means
    // use the kmeans determinism trick (scaled-integer component sums —
    // order-independent — one final double division); the pairwise matrix
    // is |labels|² — a bounded aggregate crossed with itself.
    GQuery("sim_class_centroids",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val emb = Tables.embeddings(s, dir)
        val cent = emb
          .select(col("label"), posexplode(expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000) AS BIGINT))"))
            .as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("v")).as("sc"), count(lit(1)).as("n"))
          .groupBy(col("label"))
          .agg(max(col("n")).as("n_vecs"), expr(
            """transform(array_sort(collect_list(struct(pos, sc, n))),
              |  t -> CAST(t.sc AS DOUBLE) / (1000000.0D * CAST(t.n AS DOUBLE)))""".stripMargin)
            .as("c"))
        val a = cent.select(col("label").as("label_a"), col("n_vecs").as("n_a"),
          col("c").as("ca"))
        val b = cent.select(col("label").as("label_b"), col("n_vecs").as("n_b"),
          col("c").as("cb"))
        a.join(broadcast(b), col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
            (expr("graft_dot(ca, cb)") /
              (expr("sqrt(graft_dot(ca, ca))") * expr("sqrt(graft_dot(cb, cb))")))
              .as("centroid_cosine"))
          .orderBy(col("label_a"), col("label_b"))
      },
      Some(s"""WITH sv AS (
                 SELECT label,
                        list_transform(range(1, 65),
                          i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
                 FROM embeddings),
               m AS (
                 SELECT label, t.i AS pos,
                        CAST(SUM(sv[CAST(t.i AS INT) + 1]) AS BIGINT) AS sc,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM sv, (SELECT unnest(range(0, 64)) AS i) t
                 GROUP BY label, t.i),
               cent AS (
                 SELECT label, max(n) AS n_vecs,
                        list(CAST(sc AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
                             ORDER BY pos) AS c
                 FROM m GROUP BY label)
               SELECT a.label AS label_a, b.label AS label_b,
                      a.n_vecs AS n_a, b.n_vecs AS n_b,
                      ${dotSql("a.c", "b.c")}
                        / (sqrt(${dotSql("a.c", "a.c")}) * sqrt(${dotSql("b.c", "b.c")}))
                        AS centroid_cosine
               FROM cent a JOIN cent b ON a.label < b.label
               ORDER BY label_a, label_b"""),
      doc = "per-class centroid separation matrix: scaled-integer centroid " +
        "means (order-independent), pairwise centroid cosines over the " +
        "bounded label set — the class-confusability health readout"),

    // The embeddings-table QA card (curate_dataset_card's sibling for the
    // vector modality): zero vectors and wrong dims break every cosine
    // downstream — catch them before index build. min/max of norms are
    // order-independent, so the doubles hash-compare exactly.
    GQuery("sim_embedding_qa",
      (s, dir) => Similarity.withNorm(Tables.embeddings(s, dir))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          count(when(col("norm") === 0, lit(1))).as("n_zero_vectors"),
          count(when(expr("size(embedding) != 64"), lit(1))).as("n_bad_dim"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"))
        .orderBy(col("label")),
      Some(s"""WITH b AS (
                 SELECT label, len(embedding) AS dim,
                        sqrt(${dotSql("embedding", "embedding")}) AS norm
                 FROM embeddings)
               SELECT label, count(*) AS n_vecs,
                      CAST(count(*) FILTER (norm = 0) AS BIGINT) AS n_zero_vectors,
                      CAST(count(*) FILTER (dim != 64) AS BIGINT) AS n_bad_dim,
                      MIN(norm) AS min_norm, MAX(norm) AS max_norm
               FROM b GROUP BY label ORDER BY label"""),
      doc = "embeddings QA card per label: zero-vector and wrong-dim counts, " +
        "norm range (order-independent doubles) — the pre-index gate")
  )
}
