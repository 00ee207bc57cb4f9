package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.{StatefulSequences, StatefulSessions, StreamReplays}

/** One correctness gate: a Spark DataFrame program and the DuckDB SQL
  * that must produce the same rows from the same parquet tables.
  * Column names are aligned between the two on purpose: the oracle
  * check sorts columns by name before hashing. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
                      oracleSql: String)

/** The gate registry: [[SparkEntry.gates]] is the one ordered list of
  * operators (SURVEY.md §2); Bench and Verify run it in declaration
  * order. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** First open bin that fits the item (1-based), NULL if none —
    * inlined at every use site rather than aliased: an alias named
    * like ANY column of the recursive CTE would silently resolve to
    * the PREVIOUS row's column (DuckDB gives table columns precedence
    * over lateral aliases), which mis-packs every fit. nullif:
    * DuckDB's list_position returns 0, not NULL, on no match. */
  private val FfdPos =
    "nullif(list_position(list_transform(f.rem, r -> r >= i.tok), true), 0)"

  /** FFD whole-doc packing replay, shared by the pack_whole_doc gate
    * and its audit row: pieces (overlong docs pre-chunked at 256),
    * md5 buckets at the engine's hashPrefixLenFor width (the CASE
    * ladder mirrors that function), then the greedy first-fit scan
    * unrolled as a recursive CTE over each bucket's rank order — the
    * recursion carries the open-bin remaining-capacity list, finds
    * the first fitting bin with list_position, and slices the list
    * to update it. nullif(...,0): DuckDB's list_position returns 0,
    * not NULL, on no match. */
  private val WholeDocFfdCtes: String =
    raw"""WITH RECURSIVE
      t AS (SELECT doc_id, CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_tok FROM documents),
      par AS (SELECT CASE WHEN sqrt(greatest(count(*), 1)) <= 256 THEN 2
                          WHEN sqrt(count(*)) <= 4096 THEN 3
                          WHEN sqrt(count(*)) <= 65536 THEN 4
                          WHEN sqrt(count(*)) <= 1048576 THEN 5
                          WHEN sqrt(count(*)) <= 16777216 THEN 6
                          WHEN sqrt(count(*)) <= 268435456 THEN 7
                          ELSE 8 END AS plen FROM t),
      pieces AS (SELECT doc_id, p.piece,
             CAST(least(256, n_tok - 256 * p.piece) AS BIGINT) AS tok,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, (SELECT plen FROM par)) AS bucket
        FROM t, LATERAL (SELECT unnest(range(0,
             CASE WHEN n_tok > 0 THEN (n_tok - 1) // 256 + 1 ELSE 1 END)) AS piece) p),
      items AS (SELECT bucket, doc_id, piece, tok,
             row_number() OVER (PARTITION BY bucket ORDER BY tok DESC, doc_id, piece) AS rn
        FROM pieces),
      ffd AS (
        SELECT bucket, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
               CAST(NULL AS BIGINT) AS piece, CAST(NULL AS BIGINT) AS tok,
               CAST(NULL AS BIGINT) AS bin,
               CAST(NULL AS BIGINT) AS off, CAST([] AS BIGINT[]) AS rem
        FROM (SELECT DISTINCT bucket FROM items)
        UNION ALL
        SELECT i.bucket, i.rn, i.doc_id, i.piece, i.tok,
               CAST(coalesce($FfdPos, len(f.rem) + 1) AS BIGINT) AS bin,
               CAST(CASE WHEN $FfdPos IS NULL THEN 0
                    ELSE 256 - f.rem[$FfdPos] END AS BIGINT) AS off,
               CASE WHEN $FfdPos IS NULL THEN list_append(f.rem, 256 - i.tok)
                    ELSE f.rem[1:$FfdPos-1] || [f.rem[$FfdPos] - i.tok]
                         || f.rem[$FfdPos+1:len(f.rem)] END AS rem
        FROM ffd f JOIN items i ON i.bucket = f.bucket AND i.rn = f.rn + 1),
      placed AS (SELECT bucket, doc_id, piece, tok, bin, off FROM ffd WHERE rn > 0),
      nb AS (SELECT bucket, max(bin) AS nbins FROM placed GROUP BY bucket),
      pre AS (SELECT bucket, sum(nbins) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) - nbins AS bin_excl FROM nb),
      asg AS (SELECT p.doc_id, p.piece, p.tok,
               CAST(pre.bin_excl + p.bin - 1 AS BIGINT) AS seq_id, p.off
              FROM placed p JOIN pre USING (bucket))"""

  /** Oracle for the big-kernel BPE apply: the 40 pinned merges of
    * [[TextAnalysis.BigMergeFixture]] unrolled as chained list_reduce
    * passes (the text_bpe_apply idiom, one CTE per merge, GENERATED
    * from the same constant the engine reads — the two can't drift).
    * No training CTEs: the table is data, which is the seam's point. */
  private val BpeApplyBigOracleSql: String = {
    val passes = graft.operators.TextAnalysis.BigMergeFixture.zipWithIndex
      .map { case ((a, b), i) =>
        s"""         da${i + 1} AS (SELECT doc_id, dword, list_reduce(string_split(st, '|'), (acc, x) -> CASE
           |             WHEN regexp_extract(acc, '[^|]*$$') = '$a' AND x = '$b'
           |             THEN left(acc, len(acc) - len('$a')) || '$a' || '$b'
           |             ELSE acc || '|' || x END) AS st
           |           FROM da$i)""".stripMargin
      }.mkString(",\n")
    raw"""WITH dw AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS dword
         |  FROM documents),
         |da0 AS (SELECT doc_id, dword, array_to_string(list_transform(
         |    range(1, len(dword) + 1), i -> substr(dword, CAST(i AS INT), 1)), '|') AS st
         |  FROM dw),
         |$passes
         |SELECT doc_id, count(*) AS n_words,
         |       CAST(sum(len(dword)) AS BIGINT) AS n_chars,
         |       CAST(sum(len(string_split(st, '|'))) AS BIGINT) AS n_bpe_symbols
         |FROM da${graft.operators.TextAnalysis.BigMergeFixture.size}
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The DoReMi reweight arithmetic as CTEs (synthetic md5-draw
    * losses, clipped excess, exp scores in integer millionths, the
    * exact integer-ratio ideal, largest-remainder seats in `r`) —
    * shared by the weight-table gate and the realized-mix gate. */
  private val DomainReweightCtes: String =
    """WITH s AS (SELECT DISTINCT source FROM documents),
         l AS (SELECT source,
             1.0 + (CAST(('0x' || substr(md5(source), 1, 6)) AS BIGINT) % 1000) / 500.0 AS proxy_loss,
             1.0 + (CAST(('0x' || substr(md5(source || '_ref'), 1, 6)) AS BIGINT) % 1000) / 500.0 AS ref_loss
           FROM s),
         e AS (SELECT source, proxy_loss, ref_loss,
             least(greatest(proxy_loss - ref_loss, 0.0), 1.0) AS excess FROM l),
         w AS (SELECT *, CAST(floor(exp(excess / 0.5) * 1000000 + 0.5) AS BIGINT) AS wi FROM e),
         t AS (SELECT sum(wi) AS s_wi, CAST(count(*) AS BIGINT) AS k FROM w),
         q AS (SELECT source, proxy_loss, ref_loss, excess,
             CAST(1000 * (9 * wi * k + s_wi) AS DOUBLE) / CAST(10 * s_wi * k AS DOUBLE) AS ideal
           FROM w CROSS JOIN t),
         b AS (SELECT *, floor(ideal) AS base, ideal - floor(ideal) AS rem FROM q),
         r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
             (SELECT 1000 - sum(base) FROM b) AS leftover FROM b)"""

  /** √n-centroid IVF + SQ8 search oracle — shared by
    * sim_ivf_sq8_scaled (recompute plan) and sim_ivf_indexed_scaled
    * (persisted-index plan): two plans, one semantics. */
  private val SimIvfSq8ScaledOracleSql: String =
    """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
       cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                WHERE vec_id < (SELECT c FROM nc)),
       asg AS (SELECT vec_id, embedding, c_id,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
           FROM embeddings CROSS JOIN cent),
       rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
       assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM rnk WHERE rn = 1),
       rec AS (SELECT vec_id, bucket,
           CASE WHEN list_max(v) > list_min(v)
             THEN list_transform(v, x -> list_min(v) +
               CAST(least(255.0, greatest(0.0, floor((x - list_min(v)) / ((list_max(v) - list_min(v)) / 255.0) + 0.5))) AS BIGINT)
                 * ((list_max(v) - list_min(v)) / 255.0))
             ELSE list_transform(v, x -> list_min(v)) END AS recon
           FROM (SELECT vec_id, bucket, CAST(embedding AS DOUBLE[]) AS v FROM assigned)),
       q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM rnk
             WHERE vec_id < 10 AND rn <= 2),
       scored AS (SELECT q_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(q_vec AS DOUBLE[]), a.recon) AS sim
           FROM rec a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
       r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
       SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
       WHERE "rank" <= 5 ORDER BY q_id, "rank" """

  /** IVF+PQ CTE chain, parameterized on the coarse-quantizer CTE(s)
    * (fixed 8 cells vs the √n derivation) and the query probe filter
    * (nprobe 1 vs 2) — the two sim_ivf_pq* gates. Unrolls
    * [[graft.functions.PqRecon]]'s algorithm: 8 subspaces of 8 dims,
    * codebook = the first 16 corpus vectors' slices, each corpus
    * subvector replaced by its nearest codeword (list_distance ranks
    * identically to squared L2 — sqrt is monotone — with ties to the
    * lower codebook id); then the production IVFPQ two-stage search:
    * ADC shortlist (`refineExpr` — 25 fixed, max(25, ⌈√n⌉) scaled)
    * on the reconstruction, exact full-precision re-rank of the
    * shortlist, top-5. */
  private def pqOracleSql(centCtes: String, qRn: String,
                          refineExpr: String): String =
    s"""WITH $centCtes,
       asg AS (SELECT vec_id, embedding, c_id,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
           FROM embeddings CROSS JOIN cent),
       rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
       assigned AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, c_id AS bucket FROM rnk WHERE rn = 1),
       cb AS (SELECT vec_id AS cb_id, CAST(embedding AS DOUBLE[]) AS cb_vec FROM embeddings WHERE vec_id < 16),
       sub AS (SELECT a.vec_id, t.m, cb.cb_id,
           list_distance(a.v[t.m*8+1 : t.m*8+8], cb.cb_vec[t.m*8+1 : t.m*8+8]) AS dist
           FROM assigned a CROSS JOIN (SELECT unnest(range(0,8)) AS m) t CROSS JOIN cb),
       bsub AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cb_id) AS srn FROM sub),
       chos AS (SELECT b.vec_id, b.m, c.cb_vec[b.m*8+1 : b.m*8+8] AS piece
           FROM bsub b JOIN cb c ON b.cb_id = c.cb_id WHERE b.srn = 1),
       rec AS (SELECT vec_id, flatten(list(piece ORDER BY m)) AS recon FROM chos GROUP BY vec_id),
       q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM rnk
             WHERE vec_id < 10 AND $qRn),
       scored AS (SELECT q_id, a.vec_id AS neighbor_id, a.v AS n_vec, q_vec,
           list_cosine_similarity(CAST(q_vec AS DOUBLE[]), pr.recon) AS sim_adc
           FROM assigned a JOIN rec pr ON a.vec_id = pr.vec_id
           JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
       short AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_adc DESC, neighbor_id) AS sr FROM scored),
       refined AS (SELECT q_id, neighbor_id,
           list_cosine_similarity(CAST(q_vec AS DOUBLE[]), n_vec) AS sim
           FROM short WHERE sr <= ($refineExpr)),
       r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM refined)
       SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
       WHERE "rank" <= 5 ORDER BY q_id, "rank" """

  /** k-NN-graph CTE chain, parameterized on the centroid-count
    * expression (a literal for the fixed gate, the √n derivation for
    * the scaled one — Similarity.scaledCentroids' rule): every vector
    * queries its 2 nearest of `cExpr` cells for its top-3 neighbors,
    * ranked in `r`. Shared by the two graph gates and the mutual-kNN
    * cluster gate. */
  private def knnGraphCtes(cExpr: String): String =
    s"""nc AS (SELECT ($cExpr) AS c),
       cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                WHERE vec_id < (SELECT c FROM nc)),
       asg AS (SELECT vec_id, embedding, c_id,
           list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
           FROM embeddings CROSS JOIN cent),
       rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
       assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM rnk WHERE rn = 1),
       q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM rnk WHERE rn <= 2),
       scored AS (SELECT q_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
           FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
       r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)"""

  private def knnGraphOracleSql(cExpr: String): String =
    "WITH " + knnGraphCtes(cExpr) + """
       SELECT q_id AS vec_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
       WHERE "rank" <= 3 ORDER BY vec_id, "rank" """

  /** Mutual-kNN clusters: the scaled knn CTEs, mutual edges by the
    * reversed-pair self-join, components by the same recursive
    * closure + min-label rule as the text cluster oracle. */
  private val MutualKnnClustersOracleSql: String =
    "WITH RECURSIVE " + knnGraphCtes(
      "SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings") + s""",
       knn AS (SELECT q_id, neighbor_id FROM r WHERE "rank" <= 3),
       mutual AS (SELECT f.q_id AS a, f.neighbor_id AS b FROM knn f
                  JOIN knn g ON f.q_id = g.neighbor_id AND f.neighbor_id = g.q_id
                  WHERE f.q_id < f.neighbor_id),
       p AS (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
       tc AS (SELECT a, b FROM p
              UNION SELECT tc.a, p.b FROM tc JOIN p ON tc.b = p.a),
       clusters AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
                    FROM tc GROUP BY a)
       SELECT vec_id, cluster_id FROM clusters ORDER BY vec_id"""

  /** PageRank over the scaled k-NN edges: the knn CTEs produce `r`;
    * two unrolled contribution rounds, each re-rounded to 6dp. */
  private val PagerankKnnOracleSql: String =
    "WITH " + knnGraphCtes(
      "SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings") + s""",
       ed AS (SELECT q_id AS src, neighbor_id AS dst FROM r WHERE "rank" <= 3),
       dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       nd AS (SELECT src AS vec_id FROM ed UNION SELECT dst FROM ed),
       r0 AS (SELECT vec_id, 1.0 AS pr FROM nd),
       c1 AS (SELECT ed.dst AS vec_id, sum(r0.pr / dg.deg) AS s
              FROM ed JOIN dg USING (src) JOIN r0 ON r0.vec_id = ed.src
              GROUP BY 1),
       r1 AS (SELECT nd.vec_id,
                floor((0.15 + 0.85 * coalesce(c1.s, 0)) * 1000000 + 0.5) / 1000000 AS pr
              FROM nd LEFT JOIN c1 USING (vec_id)),
       c2 AS (SELECT ed.dst AS vec_id, sum(r1.pr / dg.deg) AS s
              FROM ed JOIN dg USING (src) JOIN r1 ON r1.vec_id = ed.src
              GROUP BY 1),
       r2 AS (SELECT nd.vec_id,
                floor((0.15 + 0.85 * coalesce(c2.s, 0)) * 1000000 + 0.5) / 1000000 AS pr
              FROM nd LEFT JOIN c2 USING (vec_id))
       SELECT vec_id, pr AS "rank" FROM r2 ORDER BY vec_id"""

  /** One oracle for both k-means gates (emb_kmeans's literal-centroid
    * assignment and emb_kmeans_joined's broadcast-join assignment —
    * two plans, one semantics): Lloyd's k=8, 2 iterations, first-k
    * init, centroids rounded to 4 decimals after each update (the
    * cross-engine determinism contract), squared-Euclidean arg-min
    * with ties to the lower cluster id, unrolled iteration by
    * iteration. */
  private val KmeansOracleSql: String = kmeansCtes("8") +
    """
         SELECT vec_id, CAST(c_id AS BIGINT) AS cluster,
                floor(d * 10000 + 0.5) / 10000 AS dist
         FROM rf WHERE rn = 1 ORDER BY vec_id"""

  /** The unrolled Lloyd CTE chain, parameterized on the centroid-count
    * expression so the fixed-k kmeans/semantic gates and the √n-k
    * scaled gate share one recipe (`rf` = final assignment rows with
    * squared distance `d` and `rn = 1` marking the arg-min). */
  private def kmeansCtes(kExpr: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c0 AS (SELECT vec_id AS c_id, list_transform(v, x -> floor(x*10000+0.5)/10000) AS c FROM e WHERE vec_id < ($kExpr)),
         a0 AS (SELECT e.vec_id, e.v, c0.c_id,
                list_sum(list_transform(range(1, len(e.v)+1), i -> (e.v[i]-c0.c[i])*(e.v[i]-c0.c[i]))) AS d
                FROM e CROSS JOIN c0),
         m0 AS (SELECT vec_id, v, c_id AS cluster FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn FROM a0) WHERE rn = 1),
         u1 AS (SELECT cluster, pos, avg(val) AS mv FROM
                (SELECT cluster, unnest(v) AS val, unnest(range(1, len(v)+1)) AS pos FROM m0) GROUP BY 1, 2),
         c1 AS (SELECT cluster AS c_id, list(floor(mv*10000+0.5)/10000 ORDER BY pos) AS c FROM u1 GROUP BY 1),
         a1 AS (SELECT e.vec_id, e.v, c1.c_id,
                list_sum(list_transform(range(1, len(e.v)+1), i -> (e.v[i]-c1.c[i])*(e.v[i]-c1.c[i]))) AS d
                FROM e CROSS JOIN c1),
         m1 AS (SELECT vec_id, v, c_id AS cluster FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn FROM a1) WHERE rn = 1),
         u2 AS (SELECT cluster, pos, avg(val) AS mv FROM
                (SELECT cluster, unnest(v) AS val, unnest(range(1, len(v)+1)) AS pos FROM m1) GROUP BY 1, 2),
         c2 AS (SELECT cluster AS c_id, list(floor(mv*10000+0.5)/10000 ORDER BY pos) AS c FROM u2 GROUP BY 1),
         af AS (SELECT e.vec_id, c2.c_id,
                list_sum(list_transform(range(1, len(e.v)+1), i -> (e.v[i]-c2.c[i])*(e.v[i]-c2.c[i]))) AS d
                FROM e CROSS JOIN c2),
         rf AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn FROM af)"""

  /** SemDeDup tail over the kmeans CTEs: within-cluster pairs above
    * the cosine cut (same 0.45 the embedding near-dup gates pin),
    * pruned when a farther-from-centroid clustermate (rounded-dist
    * rank, exact ties to the lower vec_id) is that similar. */
  private def semanticDedupOracleSql(kExpr: String): String =
    kmeansCtes(kExpr) +
    """,
         asg AS (SELECT vec_id, CAST(c_id AS BIGINT) AS cluster,
                        floor(d * 10000 + 0.5) / 10000 AS dist
                 FROM rf WHERE rn = 1),
         av AS (SELECT asg.vec_id, asg.cluster, asg.dist, e.v
                FROM asg JOIN e USING (vec_id)),
         pruned AS (SELECT DISTINCT b.vec_id
                    FROM av a JOIN av b
                    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
                    AND (a.dist > b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id))
                    WHERE list_cosine_similarity(a.v, b.v) >= 0.45)
         SELECT av.vec_id, av.cluster, av.dist,
                (pruned.vec_id IS NULL) AS kept
         FROM av LEFT JOIN pruned ON av.vec_id = pruned.vec_id
         ORDER BY av.vec_id"""

  /** One oracle CTE chain for the cluster gates: dedup_clusters
    * (guarded driver/distributed dispatch) and dedup_clusters_dist
    * (distributed path forced) intentionally compute the same result,
    * so threshold or shingle changes edit exactly one query;
    * dedup_keep_best appends its selection tail to the same chain. */
  private val DedupClustersCtes: String =
    """WITH RECURSIVE d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         pairs AS (SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         p AS (SELECT doc_a AS a, doc_b AS b FROM pairs
               UNION SELECT doc_b, doc_a FROM pairs),
         tc AS (
           SELECT a, b FROM p
           UNION
           SELECT tc.a, p.b FROM tc JOIN p ON tc.b = p.a),
         clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                      FROM tc GROUP BY a)"""

  private val DedupClustersOracleSql: String =
    DedupClustersCtes +
    """ SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id"""

  /** Keep-best tail over the cluster CTEs: quality score per member
    * (the text_quality formula, rounded to 4 decimals BEFORE the
    * rank, exactly as the Spark side rounds), then the top member per
    * cluster by (quality DESC, doc_id). Reuses the `d` tokens CTE the
    * cluster pipeline already defines. */
  private val DedupKeepBestOracleSql: String =
    DedupClustersCtes +
    """,
         q AS (SELECT doc_id, floor((0.4 * least(len(toks) / 100.0, 1.0)
                 + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS quality_score
               FROM d),
         m AS (SELECT c.cluster_id, c.doc_id, q.quality_score,
                      row_number() OVER (PARTITION BY c.cluster_id
                        ORDER BY q.quality_score DESC, c.doc_id) AS rn,
                      count(*) OVER (PARTITION BY c.cluster_id) AS n_members
               FROM clusters c JOIN q USING (doc_id))
         SELECT cluster_id, doc_id AS kept_doc_id,
                quality_score AS kept_quality, n_members
         FROM m WHERE rn = 1 ORDER BY cluster_id"""

  /** The mediaTable multi-byte injection, mirrored byte-for-byte from
    * [[operators.Multimodal.MbProbe]] (the Scala constant is
    * interpolated into the SQL literal, so both engines append the
    * SAME UTF-8 bytes) — every BLOB-decoding oracle reads docs
    * through this subquery. */
  private val MbDocs: String =
    s"SELECT doc_id, text || CASE WHEN doc_id % ${operators.Multimodal.MbResidue} = 0 " +
    s"THEN '${operators.Multimodal.MbProbe}' ELSE '' END AS text FROM documents"

  private val DedupExactOracleSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY canonical_id"""

  private val DedupIncrementalOracleSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
           FROM bands b JOIN bands c
           ON b.band_id = c.band_id AND b.bucket = c.bucket
           AND b.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
         j AS (SELECT b_id, c_id,
           len(list_intersect(sb.shingles, sc.shingles)) /
           (len(sb.shingles) + len(sc.shingles) - len(list_intersect(sb.shingles, sc.shingles))) AS jaccard
           FROM cand JOIN s sb ON b_id = sb.doc_id JOIN s sc ON c_id = sc.doc_id)
         SELECT b_id AS doc_id, min(c_id) AS dup_of, count(*) AS n_matches,
                floor((max(jaccard)) * 1000000 + 0.5) / 1000000 AS best_jaccard
         FROM j WHERE jaccard >= 0.5 GROUP BY 1 ORDER BY doc_id"""

  // paragraph-level dedup: disjoint 16-token segments, corpus-wide
  // first occurrence in (doc_id, seg_idx) order survives, documents
  // reassembled from surviving segments in order
  private val DedupParagraphsOracleSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT doc_id, toks, greatest(1, CAST(ceil(len(toks) / 16.0) AS BIGINT)) AS n_segs FROM d),
         segs AS (SELECT doc_id, n_segs, seg_idx,
             array_to_string(toks[(seg_idx * 16 + 1):(seg_idx * 16 + 16)], ' ') AS seg
           FROM (SELECT doc_id, toks, n_segs, CAST(unnest(range(0, n_segs)) AS BIGINT) AS seg_idx FROM t)),
         kept AS (SELECT * FROM (SELECT *,
             row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
           FROM segs) WHERE rn = 1)
         SELECT doc_id, n_segs, count(*) AS n_kept,
                string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
         FROM kept GROUP BY doc_id, n_segs ORDER BY doc_id"""

  // IVF+SQ8: identical bucketing to sim_ivf; the corpus side is
  // scored on its min + code·step reconstruction (the memory
  // contract of a compressed index), queries stay full-precision
  private val SimIvfSq8OracleSql: String =
    """WITH cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM best WHERE rn = 1),
         rec AS (SELECT vec_id, bucket,
             CASE WHEN list_max(v) > list_min(v)
               THEN list_transform(v, x -> list_min(v) +
                 CAST(least(255.0, greatest(0.0, floor((x - list_min(v)) / ((list_max(v) - list_min(v)) / 255.0) + 0.5))) AS BIGINT)
                   * ((list_max(v) - list_min(v)) / 255.0))
               ELSE list_transform(v, x -> list_min(v)) END AS recon
             FROM (SELECT vec_id, bucket, CAST(embedding AS DOUBLE[]) AS v FROM assigned)),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket FROM assigned WHERE vec_id < 10),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), a.recon) AS sim
             FROM rec a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """

  // BM25 (Lucene idf variant, k1=1.2 b=0.75) for the fixed query
  // (spark, table, query): per-term contributions summed in QUERY
  // ORDER (explicit sum, not an aggregate) so float folding is
  // order-identical; zero-score docs excluded, top-10, ties to the
  // lower doc_id
  // batch BM25 against a query TABLE: data-driven term join, so
  // per-(q,doc) contributions are HALF-UP rounded to 6 decimals and
  // summed as DECIMAL(20,6) — exact, order-independent addition in
  // both engines (the engine sums in scheduler order, the oracle in
  // scan order; decimals make that difference invisible)
  private val TextBm25BatchOracleSql: String =
    """WITH q(q_id, q_text) AS (VALUES
             (0, 'spark table query'),
             (1, 'stream window agg'),
             (2, 'fast vector scan')),
         qt AS (SELECT q_id, t AS term, CAST(count(*) AS DOUBLE) AS qtf
           FROM (SELECT q_id, unnest(list_filter(string_split_regex(q_text, '\s+'), x -> x != '')) AS t FROM q)
           GROUP BY q_id, t),
         d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         s AS (SELECT count(*) AS n, coalesce(avg(dl), 0.0) AS avgdl FROM dd),
         post AS (SELECT doc_id, dl, term,
             CAST(len(list_filter(toks, x -> x = term)) AS DOUBLE) AS tf
           FROM dd CROSS JOIN (SELECT DISTINCT term FROM qt)
           WHERE list_contains(toks, term)),
         dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
         contrib AS (SELECT qt.q_id, p.doc_id,
             CAST(floor((ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5)) * qt.qtf
               * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / greatest(s.avgdl, 0.000000001))))
               * 1000000 + 0.5) / 1000000 AS DECIMAL(20,6)) AS c
           FROM post p JOIN qt ON p.term = qt.term
           JOIN dfreq f ON p.term = f.term CROSS JOIN s),
         sc AS (SELECT q_id, doc_id, sum(c) AS score_dec
           FROM contrib GROUP BY q_id, doc_id),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY q_id ORDER BY score_dec DESC, doc_id) AS rn
           FROM sc WHERE score_dec > 0)
         SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rn AS BIGINT) AS "rank",
                doc_id,
                floor(CAST(score_dec AS DOUBLE) * 10000 + 0.5) / 10000 AS score
         FROM r WHERE rn <= 10 ORDER BY q_id, "rank""""

  // every token with cnt·200 ≥ N — the MG candidates are layout-
  // dependent but the exact-verified output is this closed form
  private val TextHeavyHittersOracleSql: String =
    """WITH d AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT unnest(toks) AS token FROM d),
         n AS (SELECT count(*) AS total FROM t)
         SELECT token, count(*) AS cnt FROM t, n GROUP BY token, total
         HAVING count(*) * 200 >= total ORDER BY cnt DESC, token"""

  // DSIR importance weights: per-doc sum of (target-LM logprob -
  // raw-LM logprob); target LM fit on the lang='en' slice, both LMs
  // the 16-token-vocab unigram model with shared OOV mass
  private val TextDsirWeightsOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS token FROM d),
         cnt AS (SELECT token, count(*) AS c FROM e GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cnt),
         topv AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
         iv AS (SELECT sum(c) AS inv FROM topv),
         oov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                        ELSE ln(1.0 / n) END AS oov_lp FROM n CROSS JOIN iv),
         lm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM topv CROSS JOIN n),
         te AS (SELECT doc_id, unnest(toks) AS token FROM d WHERE lang = 'en'),
         tcnt AS (SELECT token, count(*) AS c FROM te GROUP BY 1),
         tn AS (SELECT sum(c) AS n FROM tcnt),
         ttopv AS (SELECT token, c FROM tcnt ORDER BY c DESC, token LIMIT 16),
         tiv AS (SELECT sum(c) AS inv FROM ttopv),
         toov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                         ELSE ln(1.0 / n) END AS oov_lp FROM tn CROSS JOIN tiv),
         tlm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM ttopv CROSS JOIN tn),
         scored AS (SELECT e.doc_id, count(*) AS n_tokens,
             sum(coalesce(t.lp, (SELECT oov_lp FROM toov))
                 - coalesce(r.lp, (SELECT oov_lp FROM oov))) AS lw
           FROM e LEFT JOIN tlm t ON e.token = t.token
                  LEFT JOIN lm r ON e.token = r.token GROUP BY e.doc_id)
         SELECT d.doc_id, coalesce(CAST(s.n_tokens AS BIGINT), 0) AS n_tokens,
           floor(coalesce(s.lw, 0.0) * 10000 + 0.5) / 10000 AS log_weight
         FROM d LEFT JOIN scored s USING (doc_id) ORDER BY doc_id"""

  // eval slice = doc_id ≡ 0 (mod 20); n_shared = distinct word
  // 4-grams a training doc shares with any eval doc
  private val TextDecontaminateOracleSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
                 THEN list_transform(range(1, len(toks)-2), i -> array_to_string(toks[i:i+3], ' '))
                 ELSE [] END) AS shingles FROM d),
         ev AS (SELECT DISTINCT unnest(shingles) AS sh FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id, unnest(shingles) AS sh FROM s WHERE doc_id % 20 != 0)
         SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (sh)
         GROUP BY doc_id ORDER BY doc_id"""

  // KMV sketch overlap: same md5 hash order in both engines, so the
  // k-min sketch — and therefore the estimate — is bit-identical
  private val TextOverlapKmvOracleSql: String =
    """WITH d AS (SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT DISTINCT source, unnest(list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END)) AS sh FROM d),
         h AS (SELECT source, md5(sh) AS h FROM s),
         sk AS (SELECT source, h FROM
                  (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
                WHERE rn <= 32),
         srcs AS (SELECT DISTINCT source FROM sk),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b
                   FROM srcs a JOIN srcs b ON a.source < b.source),
         u AS (SELECT source_a, source_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
                 SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
                 FROM pairs p JOIN sk s ON s.source = p.source_a
                 UNION ALL
                 SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
                 FROM pairs p JOIN sk s ON s.source = p.source_b)
               GROUP BY 1, 2, 3),
         r AS (SELECT source_a, source_b, in_a * in_b AS in_both,
                      row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
               FROM u)
         SELECT source_a, source_b,
                floor((CAST(sum(in_both) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS kmv_jaccard
         FROM r WHERE rn <= 32 GROUP BY 1, 2 ORDER BY 1, 2"""

  // Bradley-Terry MM fit, 3 iterations unrolled (the kmeans
  // unroll precedent): duels = id-successor doc pairs with
  // different sources, longer text wins (ties -> smaller doc_id);
  // per iteration s_i = W_i / sum_j n_ij/(s_i+s_j), mean-normalized
  private val EvalBradleyTerryOracleSql: String =
    """WITH duel AS (
           SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source ELSE b.source END AS winner,
                  CASE WHEN a.n_chars >= b.n_chars THEN b.source ELSE a.source END AS loser
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
           WHERE a.source != b.source),
         w AS (SELECT winner AS s, loser AS o, count(*) AS c FROM duel GROUP BY 1, 2),
         dir AS (SELECT s, o, c FROM w UNION ALL SELECT o AS s, s AS o, 0 AS c FROM w),
         dd AS (SELECT s, o, sum(c) AS w_so FROM dir GROUP BY 1, 2),
         nij AS (SELECT d.s, d.o, d.w_so, d.w_so + r.w_so AS n
                 FROM dd d JOIN dd r ON r.s = d.o AND r.o = d.s),
         tot AS (SELECT s, sum(w_so) AS wi, sum(n) AS games FROM nij GROUP BY 1),
         k AS (SELECT count(*) AS k FROM tot),
         it0 AS (SELECT s, 1.0 AS st FROM tot),
         d1 AS (SELECT n.s, sum(n.n / (a.st + b.st)) AS den FROM nij n
                JOIN it0 a ON a.s = n.s JOIN it0 b ON b.s = n.o GROUP BY 1),
         r1 AS (SELECT t.s, CASE WHEN d.den > 0 THEN t.wi / d.den ELSE 0.0 END AS st
                FROM tot t JOIN d1 d ON d.s = t.s),
         n1 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r1) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r1) ELSE 0.0 END AS st FROM r1),
         d2 AS (SELECT n.s, sum(n.n / (a.st + b.st)) AS den FROM nij n
                JOIN n1 a ON a.s = n.s JOIN n1 b ON b.s = n.o GROUP BY 1),
         r2 AS (SELECT t.s, CASE WHEN d.den > 0 THEN t.wi / d.den ELSE 0.0 END AS st
                FROM tot t JOIN d2 d ON d.s = t.s),
         n2 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r2) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r2) ELSE 0.0 END AS st FROM r2),
         d3 AS (SELECT n.s, sum(n.n / (a.st + b.st)) AS den FROM nij n
                JOIN n2 a ON a.s = n.s JOIN n2 b ON b.s = n.o GROUP BY 1),
         r3 AS (SELECT t.s, CASE WHEN d.den > 0 THEN t.wi / d.den ELSE 0.0 END AS st
                FROM tot t JOIN d3 d ON d.s = t.s),
         n3 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r3) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r3) ELSE 0.0 END AS st FROM r3),
         fin AS (SELECT t.s AS source, CAST(t.games AS BIGINT) AS n_games,
                   CAST(t.wi AS BIGINT) AS n_wins,
                   floor(n3.st * 10000 + 0.5) / 10000 AS strength
                 FROM tot t JOIN n3 ON n3.s = t.s)
         SELECT source, n_games, n_wins, strength,
                CAST(row_number() OVER (ORDER BY strength DESC, source) AS BIGINT) AS "rank"
         FROM fin ORDER BY source"""

  // temperature mixing: quota ∝ √count, largest-remainder rounding,
  // deterministic md5-rank selection within each lang stratum.
  // Weights are integer-scaled (floor(√count·1e6 + 0.5)) so their
  // SUM is a long sum — no float-summation-order dependence in
  // either engine (Mixing.weight's contract)
  private val TemperatureMixOracleSql: String =
    """WITH st AS (SELECT lang, count(*) AS g_cnt FROM documents GROUP BY 1),
         sw AS (SELECT lang, CAST(floor(sqrt(CAST(g_cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM st),
         qt AS (SELECT lang, 200 * CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS ideal FROM sw),
         qb AS (SELECT lang, CAST(floor(ideal) AS BIGINT) AS base, ideal - floor(ideal) AS rem FROM qt),
         qf AS (SELECT *, 200 - sum(base) OVER () AS leftover,
                row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM qb),
         qq AS (SELECT lang, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota FROM qf),
         r AS (SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn FROM documents)
         SELECT lang, doc_id FROM r JOIN qq USING (lang) WHERE rn <= quota
         ORDER BY lang, doc_id"""

  // per-domain cap: top-5 docs per source by (n_chars desc, doc_id)
  // — the engine computes it with the bounded-heap GroupedTopK, the
  // oracle with the window definition it implements
  private val DomainCapOracleSql: String =
    """WITH r AS (SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS "rank"
         FROM documents)
         SELECT doc_id, source, n_chars, "rank" FROM r WHERE "rank" <= 5 ORDER BY doc_id"""

  // PSI over fixed 100-char length buckets between the same two
  // synthetic versions q_corpus_diff compares; Laplace-smoothed
  // shares so empty buckets stay finite
  private val CorpusDriftOracleSql: String =
    """WITH cur AS (SELECT text FROM documents),
         v1 AS (SELECT CASE WHEN doc_id % 10 = 3 THEN text || ' v1' ELSE text END AS text
                FROM documents WHERE doc_id % 10 != 7
                UNION ALL
                SELECT text FROM documents WHERE doc_id % 10 = 4),
         b1 AS (SELECT least(CAST(floor(length(text) / 100.0) AS BIGINT), 9) AS bucket,
                       count(*) AS c1 FROM v1 GROUP BY 1),
         b2 AS (SELECT least(CAST(floor(length(text) / 100.0) AS BIGINT), 9) AS bucket,
                       count(*) AS c2 FROM cur GROUP BY 1),
         g AS (SELECT unnest(range(0, 10)) AS bucket),
         j AS (SELECT g.bucket, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
               FROM g LEFT JOIN b1 USING (bucket) LEFT JOIN b2 USING (bucket)),
         p AS (SELECT bucket, c1, c2,
                      (c1 + 1) / (sum(c1) OVER () + 10) AS p1,
                      (c2 + 1) / (sum(c2) OVER () + 10) AS p2 FROM j)
         SELECT bucket, c1, c2,
                floor(p1 * 1000000 + 0.5) / 1000000 AS p1,
                floor(p2 * 1000000 + 0.5) / 1000000 AS p2,
                floor((p2 - p1) * ln(p2 / p1) * 1000000 + 0.5) / 1000000 AS psi_term
         FROM p ORDER BY bucket"""

  private val PackSequencesOracleSql: String =
    """WITH t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM documents),
         c AS (SELECT doc_id, n_bpe_tokens,
           CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM t)
         SELECT doc_id, n_bpe_tokens, start_offset // 256 AS seq_id,
                start_offset % 256 AS seq_offset
         FROM c ORDER BY doc_id"""

  // next-event training pairs: context = previous 3 event types in
  // timeline order, short histories dropped (not padded)
  private val SequenceExamplesOracleSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT user_id, event_id, ts_sec, event_type,
                      lag(event_type, 1) OVER w AS h1,
                      lag(event_type, 2) OVER w AS h2,
                      lag(event_type, 3) OVER w AS h3
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, ts_sec,
                h3 || ' ' || h2 || ' ' || h1 AS context,
                event_type AS target
         FROM g WHERE h3 IS NOT NULL ORDER BY user_id, event_id"""

  /** Every gate, in the order Bench and Verify run them. */
  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", Relational.q1Agg,
      """SELECT l_returnflag, l_linestatus,
         floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
         floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
         floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
         count(*) AS count_order,
         floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Gate("q_scan_filter", Relational.qScanFilter,
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1996-01-01'
           AND l_discount > 0.05
         ORDER BY l_orderkey, l_partkey, l_quantity"""),
    Gate("q_join_broadcast", Relational.qJoinBroadcast,
      """SELECT r_name AS region_name, n_name AS nation_name,
         count(*) AS n_customers, floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY region_name, nation_name"""),
    Gate("q_join_shuffle", Relational.qJoinShuffle,
      """SELECT c_mktsegment, count(*) AS n_orders,
         floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    Gate("q_semi_join", Relational.qSemiJoin,
      """SELECT l_returnflag, count(*) AS n_lines,
         floor((sum(l_quantity)) * 100 + 0.5) / 100 AS qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Gate("q_anti_join", Relational.qAntiJoin,
      """SELECT c_mktsegment, count(*) AS n_customers_without_orders
         FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    Gate("q_left_join_zerofill", Relational.qLeftJoinZerofill,
      """SELECT p_partkey,
         coalesce(cnt, 0) AS order_count,
         coalesce(qty, 0.0) AS total_qty
         FROM part LEFT JOIN (
           SELECT l_partkey, count(*) AS cnt, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS qty
           FROM lineitem GROUP BY l_partkey
         ) ON p_partkey = l_partkey
         ORDER BY p_partkey"""),
    Gate("q_topk_multisort", Relational.qTopKMultiSort,
      """SELECT l_partkey,
         count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS click_count,
         count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS order_count,
         count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS pay_count
         FROM lineitem GROUP BY l_partkey
         ORDER BY click_count DESC, order_count DESC, pay_count DESC, l_partkey
         LIMIT 10"""),
    Gate("q_sessionize", Sessions.qSessionize,
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g)
         SELECT user_id, session_idx, min(ts_sec) AS start_sec,
                max(ts_sec) - min(ts_sec) AS visit_length,
                count(*) AS step_length,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
         FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),
    Gate("q_session_window", Sessions.qSessionWindow,
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g)
         SELECT user_id, min(ts_sec) AS start_sec,
                max(ts_sec) - min(ts_sec) AS visit_length,
                count(*) AS step_length,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
         FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_sec"""),
    Gate("q_session_stats", Sessions.qSessionStats,
      """WITH e AS (SELECT user_id, event_id, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
         sess AS (SELECT user_id, session_idx,
                  max(ts_sec) - min(ts_sec) AS visit_length,
                  count(*) AS step_length
                  FROM s GROUP BY user_id, session_idx)
         SELECT count(*) AS session_count,
           floor((sum(CASE WHEN visit_length <= 60 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS visit_1m,
           floor((sum(CASE WHEN visit_length > 60 AND visit_length <= 600 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS visit_1m_10m,
           floor((sum(CASE WHEN visit_length > 600 AND visit_length <= 1800 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS visit_10m_30m,
           floor((sum(CASE WHEN visit_length > 1800 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS visit_30m_plus,
           floor((sum(CASE WHEN step_length <= 3 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS step_1_3,
           floor((sum(CASE WHEN step_length > 3 AND step_length <= 9 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS step_4_9,
           floor((sum(CASE WHEN step_length > 9 THEN 1 ELSE 0 END) / count(*)) * 100 + 0.5) / 100 AS step_10_plus
         FROM sess"""),
    Gate("q_page_convert_rate", Sessions.qPageConvertRate,
      """WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS prev_type, event_type FROM events),
         pc AS (SELECT prev_type || '_' || event_type AS split, count(*) AS pv
                FROM p WHERE prev_type IS NOT NULL GROUP BY 1),
         pos AS (SELECT * FROM (VALUES ('view_click', 1), ('click_purchase', 2)) t(split, pos)),
         j AS (SELECT pos.split, pos.pos, pc.pv FROM pos JOIN pc ON pos.split = pc.split),
         st AS (SELECT count(*) AS start_pv FROM events WHERE event_type = 'view')
         SELECT split, pv,
                floor(pv / coalesce(lag(pv) OVER (ORDER BY pos), start_pv) * 10000 + 0.5) / 10000 AS convert_rate
         FROM j CROSS JOIN st ORDER BY split"""),
    Gate("q_area_top3", AreaTop3.qAreaTop3,
      """WITH fact AS (
           SELECT r_name AS area, l_partkey AS product_id, n_name
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         counts AS (SELECT area, product_id, count(*) AS click_count,
                    string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nation_names
                    FROM fact GROUP BY area, product_id),
         ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY area
                    ORDER BY click_count DESC, product_id) AS BIGINT) AS "rank" FROM counts)
         SELECT area,
           CASE WHEN area IN ('AMERICA', 'ASIA') THEN 'A Level'
                WHEN area = 'EUROPE' THEN 'B Level'
                WHEN area = 'AFRICA' THEN 'C Level'
                ELSE 'D Level' END AS area_level,
           product_id, p_name AS product_name, click_count, nation_names, "rank"
         FROM ranked JOIN part ON product_id = p_partkey
         WHERE "rank" <= 3 ORDER BY area, "rank" """),
    Gate("q_window_topn", AreaTop3.qWindowTopN,
      """WITH ranked AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS "rank" FROM orders)
         SELECT o_orderpriority, "rank", o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS total_price
         FROM ranked WHERE "rank" <= 3 ORDER BY o_orderpriority, "rank" """),
    Gate("q_grouped_topk_custom", AreaTop3.qGroupedTopKCustom,
      """WITH ranked AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
         SELECT o_orderpriority, o_orderkey,
                floor(o_totalprice * 100 + 0.5) / 100 AS total_price
         FROM ranked WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey"""),
    Gate("q_json_extract", Scalars.qJsonExtract,
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100 AS total_value
         FROM events GROUP BY 1 ORDER BY k"""),
    Gate("q_date_buckets", Scalars.qDateBuckets,
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
         floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
         FROM orders GROUP BY 1 ORDER BY month"""),
    Gate("q_date_hour", Scalars.qDateHour,
      """SELECT strftime(ts, '%Y-%m-%d') AS date, CAST(hour(ts) AS BIGINT) AS hour,
         count(*) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY date, hour"""),
    Gate("q_concat_conditional", Scalars.qConcatConditional,
      """SELECT c_custkey || ':' || c_name AS custkey_name,
         CASE WHEN c_acctbal > 0 THEN 'positive' ELSE 'non_positive' END AS balance_status
         FROM customer ORDER BY custkey_name"""),
    Gate("q_sql_interface", Scalars.qSqlInterface,
      """WITH order_rev AS (
           SELECT o_custkey, count(*) AS n_orders,
                  floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
           FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment,
                count(*) AS n_customers,
                floor((sum(revenue)) * 100 + 0.5) / 100 AS segment_revenue,
                max(n_orders) AS max_orders
         FROM customer JOIN order_rev ON c_custkey = o_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment"""),
    Gate("q_pivot", Scalars.qPivot,
      """SELECT strftime(ts, '%Y-%m-%d') AS date,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1 ORDER BY date"""),
    Gate("q_csv_explode", Scalars.qCsvExplode,
      """WITH packed AS (
           SELECT l_orderkey,
                  string_agg(DISTINCT CAST(l_partkey AS VARCHAR), ',') AS part_ids
           FROM lineitem GROUP BY 1),
         exploded AS (
           SELECT CAST(unnest(string_split(part_ids, ',')) AS BIGINT) AS part_id
           FROM packed)
         SELECT part_id, count(*) AS n_orders
         FROM exploded GROUP BY 1
         ORDER BY n_orders DESC, part_id LIMIT 20"""),
    Gate("dedup_exact", Dedup.qDedupExact, DedupExactOracleSql),
    Gate("dedup_minhash_lsh", Dedup.qDedupMinhashLsh,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         j AS (SELECT doc_a, doc_b,
           len(list_intersect(sa.shingles, sb.shingles)) /
           (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, floor((jaccard) * 1000000 + 0.5) / 1000000 AS jaccard FROM j
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""),
    Gate("dedup_incremental", Dedup.qDedupIncremental, DedupIncrementalOracleSql),
    Gate("dedup_ngram_jaccard", Dedup.qDedupNgramJaccard,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d),
         e AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
         n AS (SELECT doc_id, count(*) AS ns FROM e GROUP BY 1),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
               FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT doc_a, doc_b, shared, shared / (na.ns + nb.ns - shared) AS jaccard
               FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
         SELECT doc_a, doc_b, shared, floor((jaccard) * 1000000 + 0.5) / 1000000 AS jaccard FROM j
         WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b"""),
    Gate("dedup_simhash", Dedup.qDedupSimhash,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS toks FROM d0),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM t),
         b AS (SELECT doc_id, p, strpos('0123456789abcdef', substr(hx, p, 1)) - 1 AS v
               FROM h CROSS JOIN range(1, 17) ps(p)),
         votes AS (SELECT doc_id, p,
            sum(CASE WHEN (v & 8) > 0 THEN 1 ELSE -1 END) AS s3,
            sum(CASE WHEN (v & 4) > 0 THEN 1 ELSE -1 END) AS s2,
            sum(CASE WHEN (v & 2) > 0 THEN 1 ELSE -1 END) AS s1,
            sum(CASE WHEN (v & 1) > 0 THEN 1 ELSE -1 END) AS s0
            FROM b GROUP BY doc_id, p),
         digits AS (SELECT doc_id, p, substr('0123456789abcdef',
            CAST(1 + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END + CASE WHEN s2 > 0 THEN 4 ELSE 0 END
               + CASE WHEN s1 > 0 THEN 2 ELSE 0 END + CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS INT), 1) AS c
            FROM votes),
         sig AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS sh FROM digits GROUP BY doc_id),
         bands AS (SELECT doc_id, bb AS band_id, substr(sh, CAST(1 + 2 * bb AS INT), 4) AS bucket
            FROM sig CROSS JOIN range(0, 7) bs(bb)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         ham AS (SELECT doc_a, doc_b,
            CAST(list_sum(list_transform(range(1, 17), p ->
              bit_count(xor(strpos('0123456789abcdef', substr(sa.sh, CAST(p AS INT), 1)) - 1,
                            strpos('0123456789abcdef', substr(sb.sh, CAST(p AS INT), 1)) - 1)))) AS BIGINT) AS hamming
            FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 12 ORDER BY doc_a, doc_b"""),
    // 24-bit-band config: identical signature pipeline, bands are 6 hex
    // chars at stride 2 (6 bands) instead of 4 hex chars (7 bands)
    Gate("dedup_simhash_wide", Dedup.qDedupSimhashWide,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         d AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS toks FROM d0),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM t),
         b AS (SELECT doc_id, p, strpos('0123456789abcdef', substr(hx, p, 1)) - 1 AS v
               FROM h CROSS JOIN range(1, 17) ps(p)),
         votes AS (SELECT doc_id, p,
            sum(CASE WHEN (v & 8) > 0 THEN 1 ELSE -1 END) AS s3,
            sum(CASE WHEN (v & 4) > 0 THEN 1 ELSE -1 END) AS s2,
            sum(CASE WHEN (v & 2) > 0 THEN 1 ELSE -1 END) AS s1,
            sum(CASE WHEN (v & 1) > 0 THEN 1 ELSE -1 END) AS s0
            FROM b GROUP BY doc_id, p),
         digits AS (SELECT doc_id, p, substr('0123456789abcdef',
            CAST(1 + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END + CASE WHEN s2 > 0 THEN 4 ELSE 0 END
               + CASE WHEN s1 > 0 THEN 2 ELSE 0 END + CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS INT), 1) AS c
            FROM votes),
         sig AS (SELECT doc_id, string_agg(c, '' ORDER BY p) AS sh FROM digits GROUP BY doc_id),
         bands AS (SELECT doc_id, bb AS band_id, substr(sh, CAST(1 + 2 * bb AS INT), 6) AS bucket
            FROM sig CROSS JOIN range(0, 6) bs(bb)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         ham AS (SELECT doc_a, doc_b,
            CAST(list_sum(list_transform(range(1, 17), p ->
              bit_count(xor(strpos('0123456789abcdef', substr(sa.sh, CAST(p AS INT), 1)) - 1,
                            strpos('0123456789abcdef', substr(sb.sh, CAST(p AS INT), 1)) - 1)))) AS BIGINT) AS hamming
            FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
         SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 12 ORDER BY doc_a, doc_b"""),
    Gate("dedup_clusters",
      (s: SparkSession, d: String) => Dedup.qDedupClusters(s, d),
      DedupClustersOracleSql),
    Gate("dedup_clusters_dist", Dedup.qDedupClustersDist, DedupClustersOracleSql),
    Gate("dedup_keep_best", Dedup.qDedupKeepBest, DedupKeepBestOracleSql),
    // takedown propagation: every 100th doc seeds a deletion that
    // removes its whole near-dup cluster; reasons tag the audit trail
    Gate("q_delete_propagate", Dedup.qDeletePropagate, (DedupClustersCtes +
      """,
         seeds AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
         sc AS (SELECT DISTINCT cluster_id FROM clusters JOIN seeds USING (doc_id)),
         via AS (SELECT c.doc_id FROM clusters c JOIN sc USING (cluster_id)
                 WHERE c.doc_id NOT IN (SELECT doc_id FROM seeds))
         SELECT doc_id, 'seed' AS reason FROM seeds
         UNION ALL SELECT doc_id, 'near_dup_of_seed' AS reason FROM via
         ORDER BY doc_id""")),
    // ExactSubstr-style span coverage: 8-token windows shared verbatim
    // across >= 2 distinct docs; per-doc interval merge (island scan)
    Gate("dedup_verbatim", Dedup.qVerbatimCoverage,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 8),
         wins AS (SELECT doc_id, n, p, md5(array_to_string(toks[p:p+7], ' ')) AS h
                  FROM (SELECT doc_id, toks, n, CAST(unnest(range(1, n - 6)) AS BIGINT) AS p FROM t)),
         shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT doc_id, n, p FROM wins JOIN shared USING (h)),
         c1 AS (SELECT doc_id, n, p, max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM cov),
         c2 AS (SELECT *, CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END AS is_new FROM c1),
         c3 AS (SELECT *, sum(is_new) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS UNBOUNDED PRECEDING) AS island FROM c2),
         c4 AS (SELECT doc_id, n, island, max(p + 7) - min(p) + 1 AS len FROM c3 GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens,
                floor((CAST(sum(len) AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS dup_frac
         FROM c4 GROUP BY doc_id, n ORDER BY doc_id"""),
    // span REMOVAL: each shared 8-token window is kept by its lowest
    // doc_id and cut from every other holder; text rebuilt from the
    // surviving tokens (whitespace normalized). Every doc returns.
    Gate("dedup_verbatim_rewrite", Dedup.qVerbatimRewrite,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         wins AS (SELECT doc_id, p, md5(array_to_string(toks[p:p+7], ' ')) AS h
                  FROM (SELECT doc_id, toks, CAST(unnest(range(1, n - 6)) AS BIGINT) AS p
                        FROM t WHERE n >= 8)),
         own AS (SELECT h, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd FROM wins GROUP BY h),
         cut AS (SELECT wins.doc_id, wins.p FROM wins JOIN own ON wins.h = own.h
                 WHERE own.nd >= 2 AND wins.doc_id != own.owner),
         ivl AS (SELECT doc_id, list({'s': p, 'e': p + 7}) AS ivs FROM cut GROUP BY doc_id),
         clean AS (SELECT t.doc_id, t.n, t.toks, coalesce(i.ivs, []) AS ivs
                   FROM t LEFT JOIN ivl i USING (doc_id)),
         outp AS (SELECT doc_id, n,
             list_transform(list_filter(range(1, n + 1),
                 i -> len(list_filter(ivs, iv -> i >= iv.s AND i <= iv.e)) = 0),
               i -> toks[i]) AS kept FROM clean)
         SELECT doc_id, CAST(n - len(kept) AS BIGINT) AS n_removed,
                coalesce(array_to_string(kept, ' '), '') AS clean_text
         FROM outp ORDER BY doc_id"""),
    Gate("dedup_paragraphs", Dedup.qDedupParagraphs, DedupParagraphsOracleSql),
    // containment (Broder): the prefix filter is lossless, so the
    // oracle is the brute-force definition — every pair's shared
    // shingle count vs each side's own set size, either direction
    // >= 0.9 keeps the pair with BOTH directional scores
    Gate("dedup_containment", Dedup.qDedupContainment,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d),
         e AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
         n AS (SELECT doc_id, count(*) AS ns FROM e GROUP BY 1),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
               FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         c AS (SELECT doc_a, doc_b, shared,
               shared / na.ns AS c_ab, shared / nb.ns AS c_ba
               FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
         SELECT doc_a, doc_b, shared,
                floor((c_ab) * 1000000 + 0.5) / 1000000 AS containment_ab,
                floor((c_ba) * 1000000 + 0.5) / 1000000 AS containment_ba
         FROM c WHERE greatest(c_ab, c_ba) >= 0.9 ORDER BY doc_a, doc_b"""),
    Gate("dedup_paragraphs_sql", SqlSurface.qDedupParagraphsSql,
      DedupParagraphsOracleSql),
    Gate("dedup_embedding", Similarity.qDedupEmbedding,
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
         ORDER BY id_a, id_b"""),
    Gate("dedup_embedding_blocked", Similarity.qDedupEmbeddingBlocked,
      """WITH cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         asg AS (SELECT vec_id, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, c_id AS bucket FROM best WHERE rn <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         v AS (SELECT id_a, id_b,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) AS sim
             FROM cand JOIN embeddings ea ON id_a = ea.vec_id JOIN embeddings eb ON id_b = eb.vec_id)
         SELECT id_a, id_b, floor(sim * 10000 + 0.5) / 10000 AS sim FROM v
         WHERE sim >= 0.45 ORDER BY id_a, id_b"""),
    // same blocked pipeline, but the centroid count is derived from the
    // corpus as greatest(8, ceil(sqrt(n))) — the exact sizing rule of
    // graft.operators.Similarity.embeddingNearDupScaled
    Gate("dedup_embedding_scaled", Similarity.qDedupEmbeddingScaled,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                  WHERE vec_id < (SELECT c FROM nc)),
         asg AS (SELECT vec_id, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, c_id AS bucket FROM best WHERE rn <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         v AS (SELECT id_a, id_b,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) AS sim
             FROM cand JOIN embeddings ea ON id_a = ea.vec_id JOIN embeddings eb ON id_b = eb.vec_id)
         SELECT id_a, id_b, floor(sim * 10000 + 0.5) / 10000 AS sim FROM v
         WHERE sim >= 0.45 ORDER BY id_a, id_b"""),
    Gate("sim_brute_force", Similarity.qSimBruteForce,
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q_id, vec_id AS neighbor_id,
            list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sim
            FROM embeddings CROSS JOIN q WHERE vec_id != q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    Gate("sim_ivf", Similarity.qSimIvf,
      """WITH cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM best WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket FROM assigned WHERE vec_id < 10),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // recall@5 of the nprobe=1 IVF search against the exact top-5:
    // both ranked lists recomputed with their gates' own definitions,
    // joined per query
    Gate("sim_ivf_recall", Similarity.qIvfRecall,
      """WITH q0 AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         bscored AS (SELECT q_id, vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sim
             FROM embeddings CROSS JOIN q0 WHERE vec_id != q_id),
         br AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn FROM bscored),
         exact AS (SELECT q_id, neighbor_id FROM br WHERE rn <= 5),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM best WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket FROM assigned WHERE vec_id < 10),
         iscored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         ir AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn FROM iscored),
         approx AS (SELECT q_id, neighbor_id FROM ir WHERE rn <= 5)
         SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           floor(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS recall
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.q_id ORDER BY e.q_id"""),
    // matryoshka truncation recall: exact top-5 at full dim vs at the
    // first-16-dim prefix (both sides truncated), per query
    Gate("sim_matryoshka_recall", Similarity.qMatryoshkaRecall,
      """WITH q0 AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         fs AS (SELECT q_id, vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sim
             FROM embeddings CROSS JOIN q0 WHERE vec_id != q_id),
         fr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn FROM fs),
         exact AS (SELECT q_id, neighbor_id FROM fr WHERE rn <= 5),
         t AS (SELECT vec_id, CAST(embedding AS DOUBLE[])[1:16] AS v FROM embeddings),
         tq AS (SELECT vec_id AS q_id, v AS q_vec FROM t WHERE vec_id < 10),
         ts AS (SELECT q_id, vec_id AS neighbor_id,
             list_cosine_similarity(q_vec, v) AS sim
             FROM t CROSS JOIN tq WHERE vec_id != q_id),
         tr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rn FROM ts),
         approx AS (SELECT q_id, neighbor_id FROM tr WHERE rn <= 5)
         SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           floor(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS recall
         FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.q_id ORDER BY e.q_id"""),
    Gate("sim_ivf_sq8", Similarity.qSimIvfSq8, SimIvfSq8OracleSql),
    // √n-centroid IVF search (the scale config): centroid count is
    // greatest(8, ceil(sqrt(n))) — Similarity.scaledCentroids — and
    // each query probes its 2 nearest cells; corpus vectors still
    // live in exactly one cell, so probed candidates are unique
    Gate("sim_ivf_scaled", Similarity.qSimIvfScaled,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                  WHERE vec_id < (SELECT c FROM nc)),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM rnk WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM rnk
               WHERE vec_id < 10 AND rn <= 2),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // TWO-LEVEL coarse assignment (sim_ivf_2level_scaled): same √n
    // cells and nprobe=2 as sim_ivf_scaled, but each vector first
    // ranks the ⌈√c⌉ super-centroids (the first ⌈√c⌉ centroids; every
    // centroid belongs to its nearest super) and scores ONLY the
    // member cells of its max(2, ⌈c^¼⌉) nearest supers. The oracle
    // unrolls exactly that algorithm — supers, membership, probing,
    // candidate rank — so the gate hashes the APPROXIMATION's own
    // contract (it deviates from the flat argmax by design; a shared
    // oracle would be red).
    Gate("sim_ivf_2level_scaled", Similarity.qSimIvfTwoLevelScaled,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         ps AS (SELECT greatest(2, CAST(ceil(pow(c, 0.25)) AS BIGINT)) AS p,
                       CAST(ceil(sqrt(c)) AS BIGINT) AS ns FROM nc),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec,
                         row_number() OVER (ORDER BY vec_id) AS cpos
                  FROM embeddings WHERE vec_id < (SELECT c FROM nc)),
         sup AS (SELECT c_id AS s_id, c_vec AS s_vec FROM cent
                 WHERE cpos <= (SELECT ns FROM ps)),
         mem AS (SELECT c_id, c_vec, s_id, row_number() OVER (PARTITION BY c_id ORDER BY
                   list_cosine_similarity(CAST(c_vec AS DOUBLE[]), CAST(s_vec AS DOUBLE[])) DESC, s_id) AS rn
                 FROM cent CROSS JOIN sup),
         memb AS (SELECT c_id, c_vec, s_id FROM mem WHERE rn = 1),
         vsup AS (SELECT e.vec_id, s.s_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(s.s_vec AS DOUBLE[])) DESC, s.s_id) AS srn
                  FROM embeddings e CROSS JOIN sup s),
         probed AS (SELECT vec_id, s_id FROM vsup WHERE srn <= (SELECT p FROM ps)),
         cand AS (SELECT e.vec_id, e.embedding, m.c_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(m.c_vec AS DOUBLE[])) AS c_sim
                  FROM embeddings e JOIN probed pr ON e.vec_id = pr.vec_id
                  JOIN memb m ON m.s_id = pr.s_id),
         crnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM cand),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM crnk WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM crnk
               WHERE vec_id < 10 AND rn <= 2),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // √n-centroid IVF + SQ8 reconstruction — the full compressed-
    // index scale recipe, corpus scored on min + code·step. The SAME
    // oracle also gates sim_ivf_indexed_scaled: the persisted √n-cell
    // index stores codes that reconstruct to the identical scoring
    // input, so build→prune→search must land on these exact rows.
    Gate("sim_ivf_sq8_scaled", Similarity.qSimIvfSq8Scaled, SimIvfSq8ScaledOracleSql),
    // IVF + product quantization: same coarse bucketing as the sq8
    // twins, corpus scored on its PQ (8x8-dim, 16-codeword)
    // reconstruction — the ADC scan of a 4-byte/vector index
    Gate("sim_ivf_pq", Similarity.qSimIvfPq, pqOracleSql(
      "cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8)",
      "rn = 1", "25")),
    Gate("sim_ivf_pq_scaled", Similarity.qSimIvfPqScaled, pqOracleSql(
      """nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
       cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                WHERE vec_id < (SELECT c FROM nc))""",
      "rn <= 2",
      "SELECT greatest(25, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings")),
    // the persisted-codes round trips: stored codes decode to the
    // identical ADC input and the join-back re-rank scores the same
    // exact cosines, so each shares its recompute twin's oracle — the
    // gates add the build→persist→prune→decode→join-back path
    Gate("sim_ivf_pq_indexed", Similarity.qSimIvfPqIndexed, pqOracleSql(
      "cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8)",
      "rn = 1", "25")),
    Gate("sim_ivf_pq_indexed_scaled", Similarity.qSimIvfPqIndexedScaled, pqOracleSql(
      """nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
       cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                WHERE vec_id < (SELECT c FROM nc))""",
      "rn <= 2",
      "SELECT greatest(25, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings")),
    // materialized-index round trip: stored SQ8 codes reconstruct to
    // the identical scoring input, so the oracle IS sim_ivf_sq8's —
    // what the gate adds is that the rows come off the persisted
    // bucketed index with cell pruning, not a recompute
    Gate("sim_ivf_indexed", Similarity.qSimIvfIndexed,
      """WITH cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         best AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM best WHERE rn = 1),
         rec AS (SELECT vec_id, bucket,
             CASE WHEN list_max(v) > list_min(v)
               THEN list_transform(v, x -> list_min(v) +
                 CAST(least(255.0, greatest(0.0, floor((x - list_min(v)) / ((list_max(v) - list_min(v)) / 255.0) + 0.5))) AS BIGINT)
                   * ((list_max(v) - list_min(v)) / 255.0))
               ELSE list_transform(v, x -> list_min(v)) END AS recon
             FROM (SELECT vec_id, bucket, CAST(embedding AS DOUBLE[]) AS v FROM assigned)),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket FROM assigned WHERE vec_id < 10),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), a.recon) AS sim
             FROM rec a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    Gate("sim_ivf_indexed_scaled", Similarity.qSimIvfIndexedScaled,
      SimIvfSq8ScaledOracleSql),
    // persisted two-level index: the sim_ivf_2level_scaled assignment
    // algebra + the SQ8 reconstruct-and-score step (corpus side scored
    // on its stored-code reconstruction, queries full-precision)
    Gate("sim_ivf_2level_indexed_scaled", Similarity.qSimIvfTwoLevelIndexedScaled,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         ps AS (SELECT greatest(2, CAST(ceil(pow(c, 0.25)) AS BIGINT)) AS p,
                       CAST(ceil(sqrt(c)) AS BIGINT) AS ns FROM nc),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec,
                         row_number() OVER (ORDER BY vec_id) AS cpos
                  FROM embeddings WHERE vec_id < (SELECT c FROM nc)),
         sup AS (SELECT c_id AS s_id, c_vec AS s_vec FROM cent
                 WHERE cpos <= (SELECT ns FROM ps)),
         mem AS (SELECT c_id, c_vec, s_id, row_number() OVER (PARTITION BY c_id ORDER BY
                   list_cosine_similarity(CAST(c_vec AS DOUBLE[]), CAST(s_vec AS DOUBLE[])) DESC, s_id) AS rn
                 FROM cent CROSS JOIN sup),
         memb AS (SELECT c_id, c_vec, s_id FROM mem WHERE rn = 1),
         vsup AS (SELECT e.vec_id, s.s_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(s.s_vec AS DOUBLE[])) DESC, s.s_id) AS srn
                  FROM embeddings e CROSS JOIN sup s),
         probed AS (SELECT vec_id, s_id FROM vsup WHERE srn <= (SELECT p FROM ps)),
         cand AS (SELECT e.vec_id, e.embedding, m.c_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(m.c_vec AS DOUBLE[])) AS c_sim
                  FROM embeddings e JOIN probed pr ON e.vec_id = pr.vec_id
                  JOIN memb m ON m.s_id = pr.s_id),
         crnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM cand),
         assigned AS (SELECT vec_id, embedding, c_id AS bucket FROM crnk WHERE rn = 1),
         rec AS (SELECT vec_id, bucket,
             CASE WHEN list_max(v) > list_min(v)
               THEN list_transform(v, x -> list_min(v) +
                 CAST(least(255.0, greatest(0.0, floor((x - list_min(v)) / ((list_max(v) - list_min(v)) / 255.0) + 0.5))) AS BIGINT)
                   * ((list_max(v) - list_min(v)) / 255.0))
               ELSE list_transform(v, x -> list_min(v)) END AS recon
             FROM (SELECT vec_id, bucket, CAST(embedding AS DOUBLE[]) AS v FROM assigned)),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, c_id AS q_bucket FROM crnk
               WHERE vec_id < 10 AND rn <= 2),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), a.recon) AS sim
             FROM rec a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // SRP-LSH (fixed 4 bands × 8 bits): plane signs are the md5
    // Rademacher convention (seed "lsh|plane|dim" — emb_project_rp's
    // algebra), band value packs 8 sign bits MSB-first, candidates =
    // any-band collisions distinct-folded, exact cosine re-rank
    Gate("sim_lsh_cosine", Similarity.qSimLshCosine,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, band_idx,
             list_sum(list_transform(range(8), j ->
               (CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  v[i] * (CASE WHEN substr(md5('lsh|' || (band_idx * 8 + j) || '|' || (i - 1)), 1, 1) < '8'
                               THEN 1.0 ELSE -1.0 END))) >= 0
                THEN 1 ELSE 0 END) * (1 << (8 - 1 - j)))) AS band_val
           FROM e CROSS JOIN (SELECT unnest(range(4)) AS band_idx) bands),
         cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
           FROM b c JOIN b q ON c.band_idx = q.band_idx AND c.band_val = q.band_val
           WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
         scored AS (SELECT q_id, neighbor_id,
             list_cosine_similarity(qe.v, ce.v) AS sim
           FROM cand JOIN e qe ON qe.vec_id = cand.q_id
                     JOIN e ce ON ce.vec_id = cand.neighbor_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // LSH near-dup pairs: pair-generation bits (smallest b in [8,24]
    // with 2^b >= n/4 — Similarity.lshPairBitsForN, band buckets O(1)
    // so candidates stay ~linear), the lower-id side probes its
    // Hamming-1 ball, candidates distinct-folded as bare id pairs,
    // vectors joined back for the exact cosine verify at 0.45
    Gate("dedup_embedding_lsh", Similarity.qDedupEmbeddingLsh,
      """WITH bb AS (SELECT CASE
             WHEN count(*) <= 1024 THEN 8
             WHEN count(*) <= 2048 THEN 9
             WHEN count(*) <= 4096 THEN 10
             WHEN count(*) <= 8192 THEN 11
             WHEN count(*) <= 16384 THEN 12
             WHEN count(*) <= 32768 THEN 13
             WHEN count(*) <= 65536 THEN 14
             WHEN count(*) <= 131072 THEN 15
             WHEN count(*) <= 262144 THEN 16
             WHEN count(*) <= 524288 THEN 17
             WHEN count(*) <= 1048576 THEN 18
             WHEN count(*) <= 2097152 THEN 19
             WHEN count(*) <= 4194304 THEN 20
             WHEN count(*) <= 8388608 THEN 21
             WHEN count(*) <= 16777216 THEN 22
             WHEN count(*) <= 33554432 THEN 23
             ELSE 24 END AS bits FROM embeddings),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, band_idx, bits,
             CAST(list_sum(list_transform(range(bits), j ->
               (CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  v[i] * (CASE WHEN substr(md5('lsh|' || (band_idx * bits + j) || '|' || (i - 1)), 1, 1) < '8'
                               THEN 1.0 ELSE -1.0 END))) >= 0
                THEN 1 ELSE 0 END) * (1 << (bits - 1 - j)))) AS BIGINT) AS band_val
           FROM e CROSS JOIN bb CROSS JOIN (SELECT unnest(range(4)) AS band_idx) bands),
         probe AS (SELECT vec_id, band_idx,
             unnest(flatten([[band_val],
               list_transform(range(bits), j ->
                 xor(band_val, CAST(1 << j AS BIGINT)))])) AS p_val
           FROM b),
         cand AS (SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
           FROM probe p JOIN b c ON p.band_idx = c.band_idx AND p.p_val = c.band_val
           WHERE p.vec_id < c.vec_id),
         scored AS (SELECT id_a, id_b,
             list_cosine_similarity(ea.v, eb.v) AS sim
           FROM cand JOIN e ea ON ea.vec_id = cand.id_a
                     JOIN e eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, floor((sim) * 10000 + 0.5) / 10000 AS sim
         FROM scored WHERE sim >= 0.45 ORDER BY id_a, id_b"""),
    // the SCALE config: bits per band stepped by corpus count
    // (Similarity.lshBitsForN — 8 under 2^16 rows, 16 under 2^28,
    // 24 beyond; integer thresholds, exact in both engines) plus
    // Hamming-2 MULTI-PROBE on the query side: each query band also
    // probes every 1- and 2-bit flip of its own value
    Gate("sim_lsh_cosine_scaled", Similarity.qSimLshCosineScaled,
      """WITH bb AS (SELECT CASE WHEN count(*) < 65536 THEN 8
                                 WHEN count(*) < 268435456 THEN 16
                                 ELSE 24 END AS bits FROM embeddings),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT vec_id, band_idx, bits,
             CAST(list_sum(list_transform(range(bits), j ->
               (CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  v[i] * (CASE WHEN substr(md5('lsh|' || (band_idx * bits + j) || '|' || (i - 1)), 1, 1) < '8'
                               THEN 1.0 ELSE -1.0 END))) >= 0
                THEN 1 ELSE 0 END) * (1 << (bits - 1 - j)))) AS BIGINT) AS band_val
           FROM e CROSS JOIN bb CROSS JOIN (SELECT unnest(range(4)) AS band_idx) bands),
         qp AS (SELECT vec_id, band_idx,
             unnest(flatten([[band_val],
               list_transform(range(bits), j ->
                 xor(band_val, CAST(1 << j AS BIGINT))),
               flatten(list_transform(range(bits), j ->
                 list_transform(range(j + 1, bits), k ->
                   xor(band_val, CAST((1 << j) | (1 << k) AS BIGINT)))))])) AS probe_val
           FROM b WHERE vec_id < 10),
         cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
           FROM b c JOIN qp q ON c.band_idx = q.band_idx AND c.band_val = q.probe_val
           WHERE c.vec_id != q.vec_id),
         scored AS (SELECT q_id, neighbor_id,
             list_cosine_similarity(qe.v, ce.v) AS sim
           FROM cand JOIN e qe ON qe.vec_id = cand.q_id
                     JOIN e ce ON ce.vec_id = cand.neighbor_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // hard negatives: brute-force ranking restricted to label-mismatch
    Gate("sim_hard_negatives", Similarity.qSimHardNegatives,
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q_id, vec_id AS neighbor_id, label AS neg_label,
            list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sim
            FROM embeddings CROSS JOIN q WHERE vec_id != q_id AND label != q_label),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, neg_label, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // triplets: one scored frame, rank-1 per (anchor, same-label?),
    // folded by conditional aggregation; margin rounds the RAW diff
    Gate("sim_triplets", Similarity.qSimTriplets,
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q_id, vec_id, label = q_label AS is_pos,
            list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS sim
            FROM embeddings CROSS JOIN q WHERE vec_id != q_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY q_id, is_pos ORDER BY sim DESC, vec_id) AS rn FROM scored),
         t AS (SELECT q_id,
            max(CASE WHEN is_pos THEN vec_id END) AS pos_id,
            max(CASE WHEN is_pos THEN sim END) AS pos_sim_raw,
            max(CASE WHEN NOT is_pos THEN vec_id END) AS neg_id,
            max(CASE WHEN NOT is_pos THEN sim END) AS neg_sim_raw
          FROM r WHERE rn = 1 GROUP BY q_id)
         SELECT q_id, pos_id, floor(pos_sim_raw * 10000 + 0.5) / 10000 AS pos_sim,
            neg_id, floor(neg_sim_raw * 10000 + 0.5) / 10000 AS neg_sim,
            floor((pos_sim_raw - neg_sim_raw) * 10000 + 0.5) / 10000 AS margin
         FROM t ORDER BY q_id"""),
    // the sim_ivf_scaled recipe with the label-mismatch predicate in
    // the probe join — negatives come only from probed cells
    Gate("sim_hard_negatives_scaled", Similarity.qSimHardNegativesScaled,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                  WHERE vec_id < (SELECT c FROM nc)),
         asg AS (SELECT vec_id, embedding, label, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, embedding, label, c_id AS bucket FROM rnk WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label, c_id AS q_bucket FROM rnk
               WHERE vec_id < 10 AND rn <= 2),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id, a.label AS neg_label,
             list_cosine_similarity(CAST(q_vec AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id AND a.label != q.q_label),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, neg_label, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    // embedding-space decontamination: train side single-cell, eval
    // side probes 4 cells (recall-leaning dials: threshold 0.40 below
    // the dedup family's 0.45; flags are advisory)
    Gate("sim_semantic_decontaminate", Similarity.qSemanticDecontaminate,
      """WITH nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM embeddings),
         cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
                  WHERE vec_id < (SELECT c FROM nc)),
         asg AS (SELECT vec_id, embedding, c_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(c_vec AS DOUBLE[])) AS c_sim
             FROM embeddings CROSS JOIN cent),
         rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         train AS (SELECT vec_id, embedding, c_id AS bucket FROM rnk WHERE rn = 1 AND vec_id >= 50),
         ev AS (SELECT vec_id AS eval_id, embedding AS e_vec, c_id AS e_bucket FROM rnk
                WHERE vec_id < 50 AND rn <= 4),
         scored AS (SELECT t.vec_id, eval_id,
             list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), CAST(e_vec AS DOUBLE[])) AS sim
             FROM train t JOIN ev ON t.bucket = ev.e_bucket)
         SELECT vec_id, eval_id, floor((sim) * 10000 + 0.5) / 10000 AS sim
         FROM scored WHERE sim >= 0.40 ORDER BY vec_id, eval_id"""),
    // k-NN graph: every vector's top-3 neighbors within its 2 probed
    // IVF cells — the blocked-candidate recipe of dedup_embedding_*
    // with a per-query top-k instead of a threshold. The fixed gate
    // pins 8 cells; the scaled gate derives greatest(8, ceil(√n))
    // in SQL, so the √n graph-build plan is the hash-checked one
    Gate("sim_knn_graph", Similarity.qSimKnnGraph, knnGraphOracleSql("8")),
    Gate("sim_knn_graph_scaled", Similarity.qSimKnnGraphScaled, knnGraphOracleSql(
      "SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings")),
    // thresholdless graph clustering: mutual k-NN edges + connected
    // components (the scaled knn CTEs feed the text-cluster closure)
    Gate("sim_mutual_knn_clusters", Similarity.qSimMutualKnnClusters,
      MutualKnnClustersOracleSql),
    // 2 PageRank rounds over the same scaled k-NN top-3 edges;
    // per-round HALF-UP 6dp rounding (the kmeans determinism rule)
    Gate("sim_pagerank_knn", Graph.qPagerankKnn, PagerankKnnOracleSql),
    Gate("text_stats", TextAnalysis.qTextStats,
      """WITH d AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           floor(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) * 10000 + 0.5) / 10000 AS avg_token_len
         FROM d ORDER BY doc_id"""),
    // PII redaction over deterministically INJECTED addresses (the
    // fixture has none): the same injection rule, the same Java∩RE2
    // regex chain, the same email → phone → IP order
    Gate("text_pii_redact", TextAnalysis.qTextPiiRedact,
      """WITH inj AS (SELECT doc_id, text
             || CASE WHEN doc_id % 5 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
             AS raw FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
         FROM inj ORDER BY doc_id"""),
    Gate("text_bm25_batch", TextAnalysis.qTextBm25Batch, TextBm25BatchOracleSql),
    // the persisted posting-list index scores EXACTLY like the
    // corpus-scan batch scorer (two plans, one semantics)
    Gate("text_bm25_indexed", TextAnalysis.qTextBm25Indexed, TextBm25BatchOracleSql),
    // normalization over injected markup/casing: strip tags, collapse
    // whitespace, trim, lowercase — the same chain, same order
    Gate("text_normalize", TextAnalysis.qTextNormalize,
      """WITH inj AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN upper(m) ELSE m END AS raw
           FROM (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '<p>' || text || '</p>  <br/>' ELSE text END AS m
             FROM documents))
         SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(lower(trim(regexp_replace(regexp_replace(raw, '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')))) AS BIGINT) AS n_chars_norm,
           lower(trim(regexp_replace(regexp_replace(raw, '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_text
         FROM inj ORDER BY doc_id"""),
    // boilerplate-frequency segment removal: segments in ≥2 distinct
    // docs dropped EVERYWHERE (vs dedup_paragraphs' keep-first)
    Gate("text_boilerplate", Dedup.qTextBoilerplate,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT doc_id, toks, greatest(1, CAST(ceil(len(toks) / 16.0) AS BIGINT)) AS n_segs FROM d),
         segs AS (SELECT doc_id, n_segs, seg_idx,
             array_to_string(toks[(seg_idx * 16 + 1):(seg_idx * 16 + 16)], ' ') AS seg
           FROM (SELECT doc_id, toks, n_segs, CAST(unnest(range(0, n_segs)) AS BIGINT) AS seg_idx FROM t)),
         df AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg),
         kept AS (SELECT s.* FROM segs s JOIN df USING (seg) WHERE seg_df < 2)
         SELECT doc_id, n_segs, count(*) AS n_kept,
                string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
         FROM kept GROUP BY doc_id, n_segs ORDER BY doc_id"""),
    Gate("text_quality", TextAnalysis.qTextQuality,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents)
         SELECT doc_id, floor((0.4 * least(len(toks) / 100.0, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS quality_score
         FROM d ORDER BY doc_id"""),
    // Gopher rule flags: one CTE of per-doc measures, thresholds in
    // the projection — booleans compare exactly, and the measures are
    // the same IEEE arithmetic both engines run
    Gate("text_gopher_rules", TextAnalysis.qTextGopherRules,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         m AS (SELECT doc_id, len(toks) AS n,
                 CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_len,
                 CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS alpha_frac,
                 len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS stop_cnt,
                 CAST(list_max(list_transform(list_distinct(toks), u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks) AS top_frac
               FROM d)
         SELECT doc_id,
           n BETWEEN 50 AND 100000 AS r_word_count,
           mean_len >= 3.0 AND mean_len <= 10.0 AS r_mean_word_len,
           alpha_frac >= 0.8 AS r_alpha,
           stop_cnt >= 2 AS r_stopwords,
           top_frac <= 0.15 AS r_repetition,
           (n BETWEEN 50 AND 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
             AND alpha_frac >= 0.8 AND stop_cnt >= 2 AND top_frac <= 0.15 AS keep
         FROM m ORDER BY doc_id"""),
    // hashing-trick classifier: six md5 hex digits → integer weight,
    // mean token weight through a logistic link — digit-for-digit
    Gate("text_quality_classifier", TextAnalysis.qTextQualityClassifier,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id,
                 list_sum(list_transform(toks, t ->
                   CAST(CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0))
                 / len(toks) AS mw
               FROM d WHERE len(toks) > 0)
         SELECT doc_id,
                floor((1.0 / (1.0 + exp(-4.0 * mw))) * 10000 + 0.5) / 10000 AS quality_prob,
                (1.0 / (1.0 + exp(-4.0 * mw))) >= 0.5 AS keep
         FROM s ORDER BY doc_id"""),
    Gate("text_langid", TextAnalysis.qTextLangid,
      """WITH d AS (SELECT lang, text, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         v AS (SELECT lang,
           length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS zh_chars,
           length(text) AS n,
           len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS v_en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS v_de,
           len(list_filter(toks, t -> t IN ('le','la','et','les','des'))) AS v_fr,
           len(list_filter(toks, t -> t IN ('el','la','y','los','que'))) AS v_es
           FROM d),
         p AS (SELECT lang, CASE WHEN zh_chars * 3 > n THEN 'zh'
            WHEN v_de > v_en AND v_de >= v_fr AND v_de >= v_es THEN 'de'
            WHEN v_fr > v_en AND v_fr >= v_es THEN 'fr'
            WHEN v_es > v_en THEN 'es'
            ELSE 'en' END AS pred_lang FROM v)
         SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY lang, pred_lang"""),
    Gate("text_fingerprint", TextAnalysis.qTextFingerprint,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents)
         SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM d ORDER BY doc_id"""),
    Gate("text_top_tokens", TextAnalysis.qTopTokens,
      """WITH d AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents)
         SELECT token, count(*) AS cnt FROM (SELECT unnest(toks) AS token FROM d)
         GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20"""),
    Gate("text_heavy_hitters", TextAnalysis.qHeavyHitters, TextHeavyHittersOracleSql),
    Gate("text_tokens_bpe", TextAnalysis.qTextTokensBpe,
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""),
    Gate("text_tfidf", TextAnalysis.qTextTfidf,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS token FROM d),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM
                (SELECT DISTINCT doc_id, token FROM e) GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT doc_id, token, tf, tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
               FROM tf JOIN df USING (token) CROSS JOIN n),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, token) AS BIGINT) AS "rank" FROM s)
         SELECT doc_id, "rank", token, tf,
                floor(tfidf * 10000 + 0.5) / 10000 AS tfidf
         FROM r WHERE "rank" <= 3 ORDER BY doc_id, "rank" """),
    // Spark's in-document-order fold to well under the 4-decimal
    // rounding (values ~1e3, double error ~1e-12)
    Gate("text_unigram_logprob", TextAnalysis.qTextUnigramLogprob,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS token FROM d),
         cnt AS (SELECT token, count(*) AS c FROM e GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cnt),
         topv AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
         iv AS (SELECT sum(c) AS inv FROM topv),
         oov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                        ELSE ln(1.0 / n) END AS oov_lp FROM n CROSS JOIN iv),
         lm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM topv CROSS JOIN n),
         scored AS (SELECT e.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN lm.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             sum(coalesce(lm.lp, (SELECT oov_lp FROM oov))) / count(*) AS alp
           FROM e LEFT JOIN lm ON e.token = lm.token GROUP BY e.doc_id)
         SELECT d.doc_id, coalesce(CAST(s.n_tokens AS BIGINT), 0) AS n_tokens,
           coalesce(s.n_oov, 0) AS n_oov,
           floor(coalesce(s.alp, 0.0) * 10000 + 0.5) / 10000 AS avg_logprob
         FROM d LEFT JOIN scored s USING (doc_id) ORDER BY doc_id"""),
    Gate("text_dsir_weights", TextAnalysis.qTextDsirWeights, TextDsirWeightsOracleSql),
    // bigram LM with unigram backoff: bigram conditional over the
    // FULL w1 count; scored per adjacent pair; mean over n-1 pairs
    Gate("text_bigram_logprob", TextAnalysis.qTextBigramLogprob,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS token FROM d),
         cnt AS (SELECT token, count(*) AS c FROM e GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cnt),
         topv AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
         iv AS (SELECT sum(c) AS inv FROM topv),
         oov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                        ELSE ln(1.0 / n) END AS oov_lp FROM n CROSS JOIN iv),
         lm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM topv CROSS JOIN n),
         prs AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg,
                 toks[CAST(i AS INT) + 1] AS w2
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM d WHERE len(toks) >= 2)),
         bgcnt AS (SELECT bg, count(*) AS c FROM prs GROUP BY 1),
         topbg AS (SELECT bg, c FROM bgcnt ORDER BY c DESC, bg LIMIT 32),
         bglm AS (SELECT bg, ln(CAST(t.c AS DOUBLE) /
               (SELECT c FROM cnt WHERE token = split_part(t.bg, ' ', 1))) AS lp
             FROM topbg t),
         scored AS (SELECT p.doc_id, count(*) AS n_pairs,
             CAST(sum(CASE WHEN b.lp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             sum(coalesce(b.lp, u.lp, (SELECT oov_lp FROM oov))) / count(*) AS alp
           FROM prs p LEFT JOIN bglm b ON p.bg = b.bg
           LEFT JOIN lm u ON p.w2 = u.token
           GROUP BY p.doc_id)
         SELECT d.doc_id,
           coalesce(CAST(s.n_pairs AS BIGINT), 0) AS n_pairs,
           coalesce(s.n_hits, 0) AS n_bigram_hits,
           floor(coalesce(s.alp, 0.0) * 10000 + 0.5) / 10000 AS avg_logprob
         FROM d LEFT JOIN scored s USING (doc_id) ORDER BY doc_id"""),
    // per-source quality percent-rank: the engine computes it from
    // the (source, quality) histogram (skew-free), the oracle from
    // the window definition — identical by the ties-share-min rule
    Gate("text_quality_calibrate", TextAnalysis.qQualityCalibrate,
      """WITH d AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         q AS (SELECT doc_id, source,
             floor((0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS quality
           FROM d)
         SELECT doc_id, source, quality,
           floor(percent_rank() OVER (PARTITION BY source ORDER BY quality) * 10000 + 0.5) / 10000 AS pct_rank
         FROM q ORDER BY doc_id"""),
    // BPE merge induction, 3 iterations unrolled: word-frequency
    // table once, then per-step pair argmax (max count, lexicographic
    // tie-break) + greedy left-to-right non-overlapping rewrite. Word
    // symbol state is a '|'-joined string so list_reduce's
    // acc-type-equals-element-type constraint is satisfied; the fold
    // replaces the state's LAST element when (last, next) is the
    // merge pair — exactly the Spark side's array fold.
    Gate("text_bpe_merges", TextAnalysis.qTextBpeMerges,
      """WITH w AS (SELECT w, count(*) AS freq FROM
           (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS w
            FROM documents) GROUP BY w),
         s0 AS (SELECT array_to_string(list_transform(range(1, len(w) + 1),
                  i -> substr(w, CAST(i AS INT), 1)), '|') AS st, freq FROM w),
         p1 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s0)
           GROUP BY 1, 2),
         m1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
         s1 AS (SELECT list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st, freq
           FROM s0 CROSS JOIN m1 m),
         p2 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s1)
           GROUP BY 1, 2),
         m2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
         s2 AS (SELECT list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st, freq
           FROM s1 CROSS JOIN m2 m),
         p3 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s2)
           GROUP BY 1, 2),
         m3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS step, a AS lhs, b AS rhs, a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM m1
         UNION ALL SELECT CAST(2 AS BIGINT), a, b, a || b, CAST(cnt AS BIGINT) FROM m2
         UNION ALL SELECT CAST(3 AS BIGINT), a, b, a || b, CAST(cnt AS BIGINT) FROM m3
         ORDER BY step"""),
    Gate("text_bm25", TextAnalysis.qTextBm25,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         s AS (SELECT count(*) AS n, coalesce(avg(dl), 0.0) AS avgdl FROM dd),
         f AS (SELECT
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'spark')) AS df1,
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'table')) AS df2,
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'query')) AS df3),
         scored AS (SELECT doc_id,
             ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * tf1 / (tf1 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * tf2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5))
               * tf3 / (tf3 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
             AS score_raw
           FROM (SELECT doc_id, dl,
               CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(toks, t -> t = 'table')) AS DOUBLE) AS tf2,
               CAST(len(list_filter(toks, t -> t = 'query')) AS DOUBLE) AS tf3
             FROM dd) CROSS JOIN s CROSS JOIN f)
         SELECT doc_id, floor(score_raw * 10000 + 0.5) / 10000 AS score
         FROM scored WHERE score_raw > 0.0
         ORDER BY score_raw DESC, doc_id LIMIT 10"""),
    // corpus-trained unigram LM scoring: vocab = top-16 tokens by
    // (count desc, token), one shared OOV mass for the rest; per-doc
    // mean ln p(token). The ORDER-INDEPENDENT sum here matches
    // hybrid retrieval: BM25 top-20 and dense (byte-histogram encoder
    // on docs AND query string) top-20, fused by reciprocal-rank
    // fusion 1/(60+rank) summed in fixed (bm25, dense) order; fused
    // top-10 carries both source ranks (NULL where one ranker missed)
    Gate("q_hybrid_search", TextAnalysis.qHybridSearch,
      s"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         s AS (SELECT count(*) AS n, coalesce(avg(dl), 0.0) AS avgdl FROM dd),
         f AS (SELECT
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'spark')) AS df1,
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'table')) AS df2,
             (SELECT count(*) FROM dd WHERE list_contains(toks, 'query')) AS df3),
         scored AS (SELECT doc_id,
             ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * tf1 / (tf1 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * tf2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5))
               * tf3 / (tf3 + 1.2 * (0.25 + 0.75 * dl / greatest(avgdl, 0.000000001)))
             AS score_raw
           FROM (SELECT doc_id, dl,
               CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(toks, t -> t = 'table')) AS DOUBLE) AS tf2,
               CAST(len(list_filter(toks, t -> t = 'query')) AS DOUBLE) AS tf3
             FROM dd) CROSS JOIN s CROSS JOIN f),
         bm AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_raw DESC, doc_id) AS BIGINT) AS bm25_rank
           FROM scored WHERE score_raw > 0.0),
         bm20 AS (SELECT * FROM bm WHERE bm25_rank <= 20),
         -- byte-accurate histogram (the mm_decode BLOB precedent):
         -- a byte's low hex nibble IS its value mod 16, so bin the
         -- even positions of the hex dump — parity with the Spark
         -- side's UTF-8 getBytes holds for NON-ASCII text too
         hx AS (SELECT doc_id, hex(encode(text)) AS h FROM ($MbDocs)),
         e AS (SELECT doc_id, list_transform(range(16),
             k -> CAST(len(list_filter(range(1, len(h) // 2 + 1),
               i -> substr(h, CAST(2 * i AS INT), 1) =
                    substr('0123456789ABCDEF', CAST(k + 1 AS INT), 1))) AS DOUBLE)) AS v FROM hx),
         qh AS (SELECT list_transform(range(16),
             k -> CAST(len(list_filter(range(1, len(qx) // 2 + 1),
               i -> substr(qx, CAST(2 * i AS INT), 1) =
                    substr('0123456789ABCDEF', CAST(k + 1 AS INT), 1))) AS DOUBLE)) AS qv
           FROM (SELECT hex(encode('spark table query')) AS qx)),
         ds AS (SELECT doc_id, list_cosine_similarity(v, qv) AS dsim FROM e CROSS JOIN qh),
         dn AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY dsim DESC, doc_id) AS BIGINT) AS dense_rank FROM ds),
         dn20 AS (SELECT * FROM dn WHERE dense_rank <= 20),
         fused AS (SELECT coalesce(b.doc_id, dnn.doc_id) AS doc_id,
             b.bm25_rank, dnn.dense_rank,
             coalesce(1.0 / (60.0 + b.bm25_rank), 0.0)
               + coalesce(1.0 / (60.0 + dnn.dense_rank), 0.0) AS rrf_raw
           FROM bm20 b FULL OUTER JOIN dn20 dnn ON b.doc_id = dnn.doc_id)
         SELECT doc_id, floor(rrf_raw * 10000 + 0.5) / 10000 AS rrf_score,
                bm25_rank, dense_rank
         FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT 10"""),
    // per-source corpus datasheet: one hash aggregate; median via
    // exact interpolated percentile (quantile_cont ≡ Spark
    // percentile), quality = the text_quality formula inline;
    // top_lang = the MODE of lang per source, ties to the greater
    // lang (the Spark side's max-over-(count,lang)-struct rule)
    Gate("q_corpus_report", TextAnalysis.qCorpusReport,
      """WITH d AS (SELECT source, lang,
             list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
           FROM documents),
         m AS (SELECT source, len(toks) AS n_toks,
             floor((0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS q
           FROM d),
         lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2),
         tl AS (SELECT source, lang AS top_lang FROM
                 (SELECT source, lang, row_number() OVER
                    (PARTITION BY source ORDER BY c DESC, lang DESC) AS rn
                  FROM lc) WHERE rn = 1)
         SELECT m.source, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                floor(quantile_cont(n_toks, 0.5) * 10000 + 0.5) / 10000 AS p50_tokens,
                floor(avg(q) * 10000 + 0.5) / 10000 AS avg_quality,
                any_value(top_lang) AS top_lang
         FROM m JOIN tl ON m.source = tl.source
         GROUP BY m.source ORDER BY m.source"""),
    // BPE application: train exactly as text_bpe_merges (the m1..m3
    // CTEs), then fold every document word through the three merges
    // in learned order and count surviving symbols per document
    Gate("text_bpe_apply", TextAnalysis.qTextBpeApply,
      """WITH w AS (SELECT w, count(*) AS freq FROM
           (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS w
            FROM documents) GROUP BY w),
         s0 AS (SELECT array_to_string(list_transform(range(1, len(w) + 1),
                  i -> substr(w, CAST(i AS INT), 1)), '|') AS st, freq FROM w),
         p1 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s0)
           GROUP BY 1, 2),
         m1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
         s1 AS (SELECT list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st, freq
           FROM s0 CROSS JOIN m1 m),
         p2 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s1)
           GROUP BY 1, 2),
         m2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
         s2 AS (SELECT list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st, freq
           FROM s1 CROSS JOIN m2 m),
         p3 AS (SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, sum(freq) AS cnt
           FROM (SELECT string_split(st, '|') AS l, freq,
                   unnest(range(1, len(string_split(st, '|')))) AS i FROM s2)
           GROUP BY 1, 2),
         m3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
         dw AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS dword
           FROM documents),
         dst0 AS (SELECT doc_id, dword, array_to_string(list_transform(
             range(1, len(dword) + 1), i -> substr(dword, CAST(i AS INT), 1)), '|') AS st
           FROM dw),
         da1 AS (SELECT doc_id, dword, list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st
           FROM dst0 CROSS JOIN m1 m),
         da2 AS (SELECT doc_id, dword, list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st
           FROM da1 CROSS JOIN m2 m),
         da3 AS (SELECT doc_id, dword, list_reduce(string_split(st, '|'), (acc, x) -> CASE
             WHEN regexp_extract(acc, '[^|]*$') = m.a AND x = m.b
             THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
             ELSE acc || '|' || x END) AS st
           FROM da2 CROSS JOIN m3 m)
         SELECT doc_id, count(*) AS n_words,
                CAST(sum(len(dword)) AS BIGINT) AS n_chars,
                CAST(sum(len(string_split(st, '|'))) AS BIGINT) AS n_bpe_symbols
         FROM da3 GROUP BY doc_id ORDER BY doc_id"""),
    // the big-kernel apply: 40 PINNED merges (no training CTEs),
    // one list_reduce pass per merge, generated from the engine's
    // own fixture constant
    Gate("text_bpe_apply_big", TextAnalysis.qTextBpeApplyBig, BpeApplyBigOracleSql),
    Gate("text_chunk", TextAnalysis.qTextChunk,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         c AS (SELECT doc_id, toks, greatest(1, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1) AS n_chunks FROM d),
         e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM c),
         s AS (SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
                      toks[chunk_id*24 + 1 : chunk_id*24 + 32] AS chunk FROM e)
         SELECT doc_id, chunk_id, start_tok,
                CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
                array_to_string(chunk, ' ') AS chunk_text
         FROM s ORDER BY doc_id, chunk_id"""),
    // context-window chunking: 32-token windows on a 24-token stride,
    // chunk count max(1, ceil((n-32)/24)+1) so short docs yield one
    // chunk and the tail window survives (possibly short)
    // alternating 10-token turns; piece = "<|role|>" + chunk (tags
    // 8/13 chars); spans are cumulative rendered offsets; loss on
    // assistant turns only
    Gate("text_sft_spans", TextAnalysis.qSftSpans,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         t AS (SELECT doc_id, toks,
                 unnest(range(0, CAST(floor((len(toks) - 1) / 10.0) AS BIGINT) + 1)) AS turn_idx
               FROM d WHERE len(toks) > 0),
         c AS (SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                 array_to_string(toks[(turn_idx * 10 + 1):(turn_idx * 10 + 10)], ' ') AS chunk
               FROM t),
         p AS (SELECT doc_id, turn_idx, chunk,
                 CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
                 CAST(length(chunk) + CASE WHEN turn_idx % 2 = 0 THEN 8 ELSE 13 END AS BIGINT) AS piece_len
               FROM c),
         s AS (SELECT *, CAST(coalesce(sum(piece_len) OVER (PARTITION BY doc_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_char
               FROM p)
         SELECT doc_id, turn_idx, role, chunk, start_char,
                start_char + piece_len AS end_char,
                (role = 'assistant') AS loss
         FROM s ORDER BY doc_id, turn_idx"""),
    // BPE tokens per whitespace word, rolled per source
    Gate("text_fertility", TextAnalysis.qTextFertility,
      """WITH d AS (SELECT source,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS bpe,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS ws
           FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
                CAST(sum(ws) AS BIGINT) AS ws_tokens,
                floor(CAST(sum(bpe) AS DOUBLE) / sum(ws) * 10000 + 0.5) / 10000 AS fertility
         FROM d GROUP BY source ORDER BY source"""),
    // forward skip-gram pairs at offsets +1/+2 (DuckDB lambda index
    // is 1-based where Spark's is 0-based — both read "the next and
    // next-next token"); PMI over pair/unigram shares, min count 5,
    // top 50 by (pmi DESC, w, c)
    Gate("text_skipgram_pmi", TextAnalysis.qSkipgramPmi,
      """WITH d AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         pr AS (SELECT p[1] AS w, p[2] AS c FROM
                 (SELECT unnest(list_filter(flatten(list_transform(toks, (t, i) -> [
                    CASE WHEN i + 1 <= len(toks) THEN [t, toks[i + 1]] END,
                    CASE WHEN i + 2 <= len(toks) THEN [t, toks[i + 2]] END])),
                    x -> x IS NOT NULL)) AS p FROM d)),
         pc AS (SELECT w, c, count(*) AS n_wc FROM pr GROUP BY 1, 2),
         uni AS (SELECT t, count(*) AS n_t FROM
                  (SELECT unnest(toks) AS t FROM d) GROUP BY 1),
         tot AS (SELECT (SELECT sum(n_wc) FROM pc) AS p_total,
                        (SELECT sum(n_t) FROM uni) AS n_total)
         SELECT pc.w, pc.c, pc.n_wc,
                floor(ln((CAST(pc.n_wc AS DOUBLE) / p_total) /
                  ((CAST(uw.n_t AS DOUBLE) / n_total) *
                   (CAST(uc.n_t AS DOUBLE) / n_total))) * 10000 + 0.5) / 10000 AS pmi
         FROM pc JOIN uni uw ON pc.w = uw.t JOIN uni uc ON pc.c = uc.t
         CROSS JOIN tot
         WHERE pc.n_wc >= 5
         ORDER BY pmi DESC, pc.w, pc.c LIMIT 50"""),
    // structural-symbol density, thresholded at 3% of chars; code
    // block injected on doc_id %6 == 0 (the PII-injection precedent)
    Gate("text_code_detect", TextAnalysis.qTextCodeDetect,
      """WITH r AS (SELECT doc_id,
           text || CASE WHEN doc_id % 6 = 0
             THEN ' def f(x): return {"k": x[0], "n": len(x)}; for (i = 0; i < 10; i++) { y[i] = x[i] <=> z; }'
             ELSE '' END AS raw
           FROM documents),
         s AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(raw, '[{}()\[\];=:<>]')) AS BIGINT) AS n_symbols,
                 floor(CASE WHEN length(raw) > 0
                     THEN CAST(len(regexp_extract_all(raw, '[{}()\[\];=:<>]')) AS DOUBLE) / length(raw)
                     ELSE 0.0 END * 10000 + 0.5) / 10000 AS symbol_ratio
               FROM r)
         SELECT doc_id, n_symbols, symbol_ratio,
                (symbol_ratio >= 0.03) AS is_code
         FROM s ORDER BY doc_id"""),
    Gate("text_decontaminate", TextAnalysis.qDecontaminate, TextDecontaminateOracleSql),
    // Bloom prefilter is one-sided and exact-verified, so its output
    // must be EXACTLY the unfiltered operator's rows
    Gate("text_decontaminate_bloom", TextAnalysis.qDecontaminateBloom,
      TextDecontaminateOracleSql),
    // Gopher-style repetition signals; max_run via run-boundary gaps
    Gate("text_repetition", TextAnalysis.qTextRepetition,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         g AS (SELECT doc_id, toks, len(toks) AS n,
                CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
                  ELSE [] END AS g2 FROM d),
         r AS (SELECT doc_id, n, g2,
                CASE WHEN n <= 1 THEN [0]
                  ELSE ([0] || list_filter(range(1, n), i -> toks[i+1] != toks[i]) || [n]) END AS b
               FROM g)
         SELECT doc_id,
           floor((CASE WHEN len(g2) = 0 THEN 0.0
             ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END) * 10000 + 0.5) / 10000 AS dup_2gram_frac,
           floor((CASE WHEN len(g2) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END) * 10000 + 0.5) / 10000 AS top_2gram_frac,
           CASE WHEN n <= 1 THEN CAST(n AS BIGINT)
             ELSE CAST(list_max(list_transform(range(1, len(b)), i -> b[i+1] - b[i])) AS BIGINT) END AS max_run
         FROM r ORDER BY doc_id"""),
    // cross-source vocabulary overlap: distinct (source, 4-gram)
    // pairs self-joined on the shingle, sized per source for Jaccard
    Gate("text_source_overlap", TextAnalysis.qSourceOverlap,
      """WITH d AS (SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT DISTINCT source, unnest(CASE WHEN len(toks) >= 4
                 THEN list_transform(range(1, len(toks)-2), i -> array_to_string(toks[i:i+3], ' '))
                 ELSE [] END) AS sh FROM d),
         sz AS (SELECT source, count(*) AS n FROM s GROUP BY 1),
         ov AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
                FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2)
         SELECT source_a, source_b, n_shared,
                floor((CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared)) * 10000 + 0.5) / 10000 AS jaccard
         FROM ov JOIN sz za ON za.source = ov.source_a
                 JOIN sz zb ON zb.source = ov.source_b
         ORDER BY source_a, source_b"""),
    Gate("text_overlap_kmv", TextAnalysis.qTextOverlapKmv, TextOverlapKmvOracleSql),
    // df=1 fraction per doc; docs under 3 tokens kept via left join
    Gate("text_ngram_novelty", TextAnalysis.qTextNgramNovelty,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END)) AS sh FROM d),
         f AS (SELECT sh, count(*) AS df FROM s GROUP BY 1),
         p AS (SELECT doc_id, count(*) AS n_shingles,
                      CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
               FROM s JOIN f USING (sh) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(p.n_shingles, 0) AS n_shingles,
                coalesce(p.n_unique, 0) AS n_unique,
                floor((CASE WHEN p.n_shingles IS NULL THEN 0.0
                       ELSE CAST(p.n_unique AS DOUBLE) / p.n_shingles END) * 10000 + 0.5) / 10000 AS novelty
         FROM d LEFT JOIN p ON d.doc_id = p.doc_id ORDER BY d.doc_id"""),
    // coverage of the V most frequent types at 5 candidate sizes
    Gate("text_vocab_coverage", TextAnalysis.qTextVocabCoverage,
      """WITH d AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         c AS (SELECT token, count(*) AS cnt FROM (SELECT unnest(toks) AS token FROM d) GROUP BY 1),
         r AS (SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk FROM c),
         t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         v AS (SELECT unnest([16, 64, 256, 1024, 4096]) AS vocab_size)
         SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
                count(*) AS n_types_used,
                floor((CAST(sum(r.cnt) AS DOUBLE) / t.total) * 10000 + 0.5) / 10000 AS coverage,
                floor((1.0 - CAST(sum(r.cnt) AS DOUBLE) / t.total) * 10000 + 0.5) / 10000 AS oov_rate
         FROM v JOIN r ON r.rk <= v.vocab_size CROSS JOIN t
         GROUP BY v.vocab_size, t.total ORDER BY vocab_size"""),
    // (k−1)/h_k cardinality from the same sketch; degrades to the
    // exact count when the source has fewer than k distinct shingles
    Gate("text_source_cardinality", TextAnalysis.qTextSourceCardinality,
      """WITH d AS (SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT DISTINCT source, unnest(list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END)) AS sh FROM d),
         h AS (SELECT source, md5(sh) AS h FROM s),
         sk AS (SELECT source, h FROM
                  (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
                WHERE rn <= 32),
         g AS (SELECT source, count(*) AS n_sketch, max(h) AS mh FROM sk GROUP BY 1)
         SELECT source, n_sketch,
                floor((CASE WHEN n_sketch < 32 THEN CAST(n_sketch AS DOUBLE)
                       ELSE 31.0 / (CAST(('0x' || substr(mh, 1, 12)) AS BIGINT) / 281474976710656.0) END) * 100 + 0.5) / 100 AS est_distinct
         FROM g ORDER BY source"""),
    // SQuAD-style scoring: normalized exact match + multiset token F1
    // over deterministic (pred, ref) pairs (every 5th doc vs itself,
    // the rest vs their id-successor)
    Gate("eval_token_f1", EvalScoring.qEvalTokenF1,
      """WITH d AS (SELECT doc_id, text FROM documents),
         p AS (SELECT a.doc_id AS pair_id, a.text AS pred, b.text AS ref
               FROM d a JOIN d b ON b.doc_id = CASE WHEN a.doc_id % 5 = 0 THEN a.doc_id ELSE a.doc_id + 1 END),
         n AS (SELECT pair_id,
                 lower(regexp_replace(trim(pred), '\s+', ' ', 'g')) AS pn,
                 lower(regexp_replace(trim(ref), '\s+', ' ', 'g')) AS rn
               FROM p),
         t AS (SELECT pair_id, pn, rn,
                 list_filter(string_split_regex(pn, '\s+'), x -> x != '') AS pt,
                 list_filter(string_split_regex(rn, '\s+'), x -> x != '') AS rt
               FROM n),
         o AS (SELECT pair_id, pn, rn, len(pt) AS np, len(rt) AS nr,
                 coalesce(CAST(list_sum(list_transform(list_distinct(pt), tk ->
                   least(len(list_filter(pt, x -> x = tk)),
                         len(list_filter(rt, x -> x = tk))))) AS BIGINT), 0) AS ov
               FROM t)
         SELECT pair_id,
                CAST(CASE WHEN pn = rn THEN 1 ELSE 0 END AS BIGINT) AS exact_match,
                ov AS n_overlap,
                floor((CASE WHEN np + nr = 0 THEN 0.0
                       ELSE 2.0 * ov / (np + nr) END) * 10000 + 0.5) / 10000 AS token_f1
         FROM o ORDER BY pair_id"""),
    // 3 synthetic raters corrupt lang→'zz' at rater·5% via the
    // hash24 draw; majority with ties to the smaller label
    Gate("eval_majority_vote", EvalScoring.qEvalMajorityVote,
      """WITH v AS (SELECT doc_id AS item_id, r,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id * 3 + r AS VARCHAR)), 1, 6)) AS BIGINT) * 20
                     < 16777216 * r
                THEN 'zz' ELSE lang END AS label
           FROM documents, (SELECT unnest([1, 2, 3]) AS r)),
         c AS (SELECT item_id, label, count(*) AS cnt FROM v GROUP BY 1, 2),
         rk AS (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY cnt DESC, label) AS rk,
                       sum(cnt) OVER (PARTITION BY item_id) AS n_raters FROM c)
         SELECT item_id, label AS maj_label, CAST(cnt AS BIGINT) AS n_agree,
                (cnt = n_raters) AS unanimous
         FROM rk WHERE rk = 1 ORDER BY item_id"""),
    Gate("eval_bradley_terry", EvalScoring.qBradleyTerry, EvalBradleyTerryOracleSql),
    // pass@k (HumanEval estimator): 5 hash-draw samples per problem
    // at pass rate (doc_id%5+1)/10; product form, zero factor => 1
    Gate("eval_pass_at_k", EvalScoring.qEvalPassAtK,
      """WITH s AS (SELECT doc_id, r,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id * 7 + r AS VARCHAR)), 1, 6)) AS BIGINT) * 10
                     < 16777216 * (doc_id % 5 + 1)
                THEN 1 ELSE 0 END AS p
           FROM documents, (SELECT unnest([1, 2, 3, 4, 5]) AS r)),
         c AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS n_correct FROM s GROUP BY 1)
         SELECT doc_id, CAST(5 AS BIGINT) AS n_samples, n_correct,
           floor((1.0 - (5 - n_correct) / 5.0) * 10000 + 0.5) / 10000 AS pass_at_1,
           floor((1.0 - ((5 - n_correct) / 5.0) * ((4 - n_correct) / 4.0) * ((3 - n_correct) / 3.0)) * 10000 + 0.5) / 10000 AS pass_at_3
         FROM c ORDER BY doc_id"""),
    // ECE reliability bins: conf = the heuristic quality score,
    // synthetic correctness draw under conf^2 (overconfident model),
    // 10 equal-width bins, per-bin |conf - acc| gap
    Gate("eval_ece", EvalScoring.qEvalEce,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         q AS (SELECT doc_id, CASE WHEN len(toks) > 0 THEN floor((0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 ELSE 0.0 END AS conf
           FROM d),
         s AS (SELECT doc_id, conf,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                       < floor(conf * conf * 16777216.0)
                  THEN 1 ELSE 0 END AS correct,
             least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin
           FROM q)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(conf) * 10000 + 0.5) / 10000 AS avg_conf,
           floor(avg(correct) * 10000 + 0.5) / 10000 AS avg_acc,
           floor(abs(avg(conf) - avg(correct)) * 10000 + 0.5) / 10000 AS gap
         FROM s GROUP BY bin ORDER BY bin"""),
    Gate("stream_bradley_terry", StreamReplays.qStreamBradleyTerry,
      EvalBradleyTerryOracleSql),
    Gate("stream_cluster_assign", StreamReplays.qStreamClusterAssign, KmeansOracleSql),
    // per prompt: candidates = 3 id-successors scored by token F1 vs
    // the prompt text; chosen/rejected = best/worst (ties: smaller/
    // larger cand_id); pairs kept only with a strictly positive margin
    Gate("eval_preference_pairs", EvalScoring.qPreferencePairs,
      """WITH d AS (SELECT doc_id, text FROM documents),
         p AS (SELECT a.doc_id AS prompt_id, a.doc_id + r.r AS cand_id,
                      b.text AS pred, a.text AS ref
               FROM d a CROSS JOIN (SELECT unnest([1, 2, 3]) AS r) r
               JOIN d b ON b.doc_id = a.doc_id + r.r),
         n AS (SELECT prompt_id, cand_id,
                 lower(regexp_replace(trim(pred), '\s+', ' ', 'g')) AS pn,
                 lower(regexp_replace(trim(ref), '\s+', ' ', 'g')) AS rn
               FROM p),
         t AS (SELECT prompt_id, cand_id,
                 list_filter(string_split_regex(pn, '\s+'), x -> x != '') AS pt,
                 list_filter(string_split_regex(rn, '\s+'), x -> x != '') AS rt
               FROM n),
         o AS (SELECT prompt_id, cand_id, len(pt) AS np, len(rt) AS nr,
                 coalesce(CAST(list_sum(list_transform(list_distinct(pt), tk ->
                   least(len(list_filter(pt, x -> x = tk)),
                         len(list_filter(rt, x -> x = tk))))) AS BIGINT), 0) AS ov
               FROM t),
         s AS (SELECT prompt_id, cand_id,
                 floor((CASE WHEN np + nr = 0 THEN 0.0
                        ELSE 2.0 * ov / (np + nr) END) * 10000 + 0.5) / 10000 AS token_f1
               FROM o),
         rk AS (SELECT *,
                 row_number() OVER (PARTITION BY prompt_id ORDER BY token_f1 DESC, cand_id) AS rb,
                 row_number() OVER (PARTITION BY prompt_id ORDER BY token_f1, cand_id DESC) AS rw
                FROM s),
         pair AS (SELECT prompt_id,
                 max(CASE WHEN rb = 1 THEN cand_id END) AS chosen_id,
                 max(CASE WHEN rb = 1 THEN token_f1 END) AS chosen_f1,
                 max(CASE WHEN rw = 1 THEN cand_id END) AS rejected_id,
                 max(CASE WHEN rw = 1 THEN token_f1 END) AS rejected_f1
                FROM rk GROUP BY prompt_id)
         SELECT prompt_id, chosen_id, rejected_id, chosen_f1, rejected_f1,
                floor((chosen_f1 - rejected_f1) * 10000 + 0.5) / 10000 AS margin
         FROM pair WHERE chosen_f1 > rejected_f1 ORDER BY prompt_id"""),
    // Lloyd's k-means: one oracle pins BOTH assignment shapes
    // (literal-projection emb_kmeans and broadcast-join
    // emb_kmeans_joined), the dedup_clusters / dedup_clusters_dist
    // precedent — two plans, one semantics
    Gate("emb_kmeans", Clustering.qEmbKmeans, KmeansOracleSql),
    // simplified silhouette over the same unrolled Lloyd fit: a/b =
    // euclidean distances to the nearest / second-nearest centroid,
    // silhouette on unrounded a,b, rounded at output
    Gate("emb_silhouette", Clustering.qEmbSilhouette, (kmeansCtes("8") + """,
         s AS (SELECT vec_id,
             max(CASE WHEN rn = 1 THEN c_id END) AS c1,
             max(CASE WHEN rn = 1 THEN d END) AS d1,
             max(CASE WHEN rn = 2 THEN d END) AS d2
           FROM rf GROUP BY vec_id)
         SELECT vec_id, CAST(c1 AS BIGINT) AS cluster,
           floor(sqrt(d1) * 10000 + 0.5) / 10000 AS a_dist,
           floor(sqrt(d2) * 10000 + 0.5) / 10000 AS b_dist,
           CASE WHEN greatest(sqrt(d1), sqrt(d2)) = 0 THEN 0.0
                ELSE floor((sqrt(d2) - sqrt(d1)) / greatest(sqrt(d1), sqrt(d2)) * 10000 + 0.5) / 10000
           END AS silhouette
         FROM s ORDER BY vec_id""")),
    // per-cluster prototype coreset: 10 nearest-to-centroid, ranked
    // on the rounded assignment distance (asc, vec_id ties)
    Gate("emb_cluster_sample", Clustering.qEmbClusterSample, (kmeansCtes("8") + """,
         asg AS (SELECT vec_id, CAST(c_id AS BIGINT) AS cluster,
                        floor(d * 10000 + 0.5) / 10000 AS dist
                 FROM rf WHERE rn = 1),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS BIGINT) AS "rank" FROM asg)
         SELECT vec_id, cluster, dist, "rank" FROM rk WHERE "rank" <= 10 ORDER BY vec_id""")),
    Gate("emb_kmeans_joined", Clustering.qEmbKmeansJoined, KmeansOracleSql),
    // outlier flag = top ⌈10%⌉ of own cluster by rounded dist DESC
    // (rank-based: no FP threshold recomputed engine-side)
    Gate("emb_outliers", Clustering.qEmbOutliers, (kmeansCtes("8") +
      """,
         asg AS (SELECT vec_id, CAST(c_id AS BIGINT) AS cluster,
                        floor(d * 10000 + 0.5) / 10000 AS dist
                 FROM rf WHERE rn = 1),
         rk AS (SELECT vec_id, cluster, dist,
                       row_number() OVER (PARTITION BY cluster
                         ORDER BY dist DESC, vec_id) AS r,
                       count(*) OVER (PARTITION BY cluster) AS nc
                FROM asg)
         SELECT vec_id, cluster, dist, (r <= (nc + 9) / 10) AS outlier
         FROM rk ORDER BY vec_id""")),
    // SemDeDup: fixed-k gate shares the kmeans config above; the
    // scaled gate derives k = max(8, ⌈√n⌉) from the same corpus in
    // SQL, so the √n plan is the hash-checked one
    Gate("dedup_semantic", Clustering.qSemanticDedup, semanticDedupOracleSql("8")),
    Gate("dedup_semantic_scaled", Clustering.qSemanticDedupScaled, semanticDedupOracleSql(
      "SELECT GREATEST(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM e")),
    Gate("q_temperature_mix", Mixing.qTemperatureMix, TemperatureMixOracleSql),
    // but would pass the ≤-quota filter forever) and weights are
    // integer-scaled — both mirrored from the Spark plan
    Gate("q_token_budget_mix", Mixing.qTokenBudgetMix,
      """WITH d AS (SELECT * FROM (SELECT doc_id, source,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_tok
           FROM documents) WHERE n_tok > 0),
         g AS (SELECT source, sum(n_tok) AS g_tok FROM d GROUP BY 1),
         gw AS (SELECT source, CAST(floor(sqrt(CAST(g_tok AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM g),
         qt AS (SELECT source, 20000 * CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS ideal FROM gw),
         qb AS (SELECT source, floor(ideal) AS base, ideal - floor(ideal) AS rem FROM qt),
         qf AS (SELECT *, 20000 - sum(base) OVER () AS leftover,
                row_number() OVER (ORDER BY rem DESC, source) AS rr FROM qb),
         qq AS (SELECT source, CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota FROM qf),
         c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
         SELECT source, doc_id, n_tok AS n_bpe_tokens
         FROM c JOIN qq USING (source) WHERE cum <= quota
         ORDER BY source, doc_id"""),
    // token-budget mixing: 20k-token budget split across sources
    // ∝ √(token mass), largest-remainder in whole tokens, quotas
    // filled greedily in md5 order (running sum must fit the quota).
    // Zero-token docs are dropped up front (they can't consume budget
    // waterfilling: min(n_s, c) with c solved by the monotone-prefix
    // closed form; capped residue floor'd, remainder +1 to the
    // lexicographically-first capped sources — Σ alloc = budget exact
    Gate("q_budget_waterfill", Mixing.qBudgetWaterfill,
      """WITH c AS (SELECT source,
           CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT) AS n_tok
           FROM documents GROUP BY 1),
         w AS (SELECT source, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY n_tok, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(row_number() OVER (ORDER BY n_tok, source) AS BIGINT) AS i,
                 CAST(count(*) OVER () AS BIGINT) AS s_all
               FROM c),
         u AS (SELECT *, (cum + n_tok * (s_all - i) <= 26000) AS uncapped FROM w),
         st AS (SELECT *,
                 CAST(sum(CASE WHEN uncapped THEN n_tok ELSE 0 END) OVER () AS BIGINT) AS k_tok,
                 CAST(sum(CASE WHEN uncapped THEN 0 ELSE 1 END) OVER () AS BIGINT) AS n_capped
                FROM u),
         cp AS (SELECT *,
                 CASE WHEN n_capped > 0
                   THEN CAST(floor((26000 - k_tok) / n_capped) AS BIGINT)
                   ELSE 0 END AS cap_base,
                 CAST(row_number() OVER (PARTITION BY uncapped ORDER BY source) AS BIGINT) AS rc
                FROM st)
         SELECT source, n_tok,
                CAST(CASE WHEN uncapped THEN n_tok
                     ELSE cap_base + CASE WHEN rc <= (26000 - k_tok - cap_base * n_capped)
                                          THEN 1 ELSE 0 END END AS BIGINT) AS alloc,
                NOT uncapped AS capped
         FROM cp ORDER BY source"""),
    Gate("q_mix_epochs", Mixing.qMixEpochs,
      """WITH g AS (SELECT source, sum(n_chars) AS mass, count(*) AS n_docs FROM documents GROUP BY 1),
         gw AS (SELECT source, n_docs, CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM g),
         qt AS (SELECT source, n_docs, 600 * CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS ideal FROM gw),
         qb AS (SELECT source, n_docs, CAST(floor(ideal) AS BIGINT) AS base, ideal - floor(ideal) AS rem FROM qt),
         qf AS (SELECT *, 600 - sum(base) OVER () AS leftover,
                row_number() OVER (ORDER BY rem DESC, source) AS rr FROM qb),
         qq AS (SELECT source, n_docs,
                base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota FROM qf),
         c AS (SELECT d.source, d.doc_id,
               quota // n_docs +
               CASE WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,6)) AS BIGINT) * n_docs
                         < (quota % n_docs) * 16777216 THEN 1 ELSE 0 END AS copies
               FROM documents d JOIN qq USING (source))
         SELECT source, doc_id, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
         FROM c WHERE copies >= 1 ORDER BY source, doc_id, epoch"""),
    // quality-weighted importance sampling: keep iff the 24-bit md5
    // uniform falls under floor(score · 2^24) — integer compare on
    // the 4-decimal-rounded score; kept rows carry weight 1/score
    Gate("q_quality_sample", Mixing.qQualitySample,
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, floor((0.4 * least(len(toks) / 100.0, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS quality_score
           FROM d)
         SELECT doc_id, quality_score,
                floor((1.0 / quality_score) * 10000 + 0.5) / 10000 AS weight
         FROM s
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               < CAST(floor(quality_score * 16777216.0) AS BIGINT)
         ORDER BY doc_id"""),
    // deterministic content-hash split: bucket = first 24 md5 bits
    // mod 100 (Spark computes it via conv(hex,16,10) — same integer)
    Gate("q_hash_split", Mixing.qHashSplit,
      """WITH h AS (SELECT doc_id, ('0x' || substr(md5(text),1,6))::BIGINT % 100 AS bucket FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM h ORDER BY doc_id"""),
    Gate("q_domain_cap", Mixing.qDomainCap, DomainCapOracleSql),
    // DoReMi one-shot reweight over synthetic md5-draw losses:
    // clipped excess -> exp score in integer millionths -> the exact
    // integer-ratio ideal B*(9*wi*k + S)/(10*S*k) -> largest remainder
    Gate("q_domain_reweight", Mixing.qDomainReweight, (DomainReweightCtes + """
         SELECT source,
           floor(proxy_loss * 10000 + 0.5) / 10000 AS proxy_loss,
           floor(ref_loss * 10000 + 0.5) / 10000 AS ref_loss,
           floor(excess * 10000 + 0.5) / 10000 AS excess,
           floor(ideal / 1000.0 * 1000000 + 0.5) / 1000000 AS weight,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM r ORDER BY source""")),
    // the DoReMi quotas REALIZED through the shared epoch resampler
    // (the q_mix_epochs arithmetic with the reweight quota table in
    // place of the sqrt-mass one) — the end-to-end mix gate
    Gate("q_mix_doremi", Mixing.qMixDoremi, (DomainReweightCtes + """,
         rq AS (SELECT source, CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota FROM r),
         g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
         qn AS (SELECT rq.source, quota, n_docs FROM rq JOIN g USING (source)),
         cp AS (SELECT dd.source, dd.doc_id,
               quota // n_docs +
               CASE WHEN CAST(('0x'||substr(md5(CAST(dd.doc_id AS VARCHAR)),1,6)) AS BIGINT) * n_docs
                         < (quota % n_docs) * 16777216 THEN 1 ELSE 0 END AS copies
               FROM documents dd JOIN qn USING (source))
         SELECT source, doc_id, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
         FROM cp WHERE copies >= 1 ORDER BY source, doc_id, epoch""")),
    // the chunk-level pretraining assembly: train split → verbatim
    // span removal within train → context-window chunking of the
    // cleaned text → prefix-sum packing of the chunks in
    // (doc_id·256 + chunk_id) order; empty chunks dropped
    Gate("pipeline_chunked_pretrain", Pipeline.qChunkedPretrain,
      """WITH tr AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
            FROM documents WHERE ('0x' || substr(md5(text),1,6))::BIGINT % 100 < 90),
         t AS (SELECT doc_id, toks, len(toks) AS n FROM tr),
         wins AS (SELECT doc_id, p, md5(array_to_string(toks[p:p+7], ' ')) AS h
                  FROM (SELECT doc_id, toks, CAST(unnest(range(1, n - 6)) AS BIGINT) AS p
                        FROM t WHERE n >= 8)),
         own AS (SELECT h, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd FROM wins GROUP BY h),
         cut AS (SELECT wins.doc_id, wins.p FROM wins JOIN own ON wins.h = own.h
                 WHERE own.nd >= 2 AND wins.doc_id != own.owner),
         ivl AS (SELECT doc_id, list({'s': p, 'e': p + 7}) AS ivs FROM cut GROUP BY doc_id),
         kept AS (SELECT t.doc_id,
             list_transform(list_filter(range(1, t.n + 1),
                 i -> len(list_filter(coalesce(i2.ivs, []), iv -> i >= iv.s AND i <= iv.e)) = 0),
               i -> t.toks[i]) AS ktoks
           FROM t LEFT JOIN ivl i2 USING (doc_id)),
         ck AS (SELECT doc_id, ktoks AS toks, len(ktoks) AS n FROM kept),
         nch AS (SELECT doc_id, toks, n,
                 greatest(1, CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1) AS n_chunks FROM ck),
         ch AS (SELECT doc_id, chunk_id,
                CAST(len(toks[chunk_id*24 + 1 : chunk_id*24 + 32]) AS BIGINT) AS n_chunk_tokens
                FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM nch)),
         chk AS (SELECT doc_id, chunk_id, n_chunk_tokens, doc_id * 256 + chunk_id AS pk
                 FROM ch WHERE n_chunk_tokens > 0),
         po AS (SELECT doc_id, chunk_id, n_chunk_tokens,
                CAST(sum(n_chunk_tokens) OVER (ORDER BY pk ROWS UNBOUNDED PRECEDING)
                     - n_chunk_tokens AS BIGINT) AS so FROM chk)
         SELECT doc_id, chunk_id, n_chunk_tokens,
                so // 256 AS seq_id, so % 256 AS seq_offset
         FROM po ORDER BY doc_id, chunk_id"""),
    Gate("q_corpus_diff", Pipeline.qCorpusDiff,
      """WITH cur AS (SELECT doc_id, text FROM documents),
         v1 AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 = 3 THEN text || ' v1' ELSE text END AS text
                FROM cur WHERE doc_id % 10 != 7
                UNION ALL
                SELECT doc_id + 10000000000 AS doc_id, text FROM cur WHERE doc_id % 10 = 4),
         j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                 md5(a.text) AS h1, md5(b.text) AS h2
               FROM v1 a FULL OUTER JOIN cur b ON a.doc_id = b.doc_id),
         st AS (SELECT doc_id,
                 CASE WHEN h1 IS NULL THEN 'added'
                      WHEN h2 IS NULL THEN 'removed'
                      WHEN h1 != h2 THEN 'changed'
                      ELSE 'unchanged' END AS status FROM j)
         SELECT doc_id, status FROM st WHERE status != 'unchanged'
         ORDER BY doc_id"""),
    Gate("q_corpus_drift", Pipeline.qCorpusDrift, CorpusDriftOracleSql),
    // corpus version diff: full-outer join of (id, md5) projections
    // of the synthetic previous version vs current; unchanged rows
    // excluded — the release-audit delta
    // Morton interleave of (user_id, corpus-hour) → per-cell (z>>8)
    // occupancy + exact x/y bounding boxes; the interleave SQL is
    // generated from the same bit recipe the Column side unrolls
    Gate("q_zorder_layout", Layout.qZorderLayout,
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         h0 AS (SELECT min(ts_sec) AS m FROM e),
         xy AS (SELECT event_id, user_id AS x, (ts_sec - m) // 3600 AS y FROM e, h0),
         z AS (SELECT *, ${operators.Layout.zValueSql("x", "y")} AS zv FROM xy)
         SELECT zv >> 8 AS cell, count(*) AS n_events,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y
         FROM z GROUP BY 1 ORDER BY cell"""),
    Gate("pack_sequences", Packing.qPackSequences, PackSequencesOracleSql),
    // concat-and-chunk packing at 256 tokens/sequence in doc_id order;
    // the oracle's single global cumsum is the semantic spec the
    // engine's two-phase distributed prefix sum must reproduce
    // curriculum pack: the same running-offset algebra in
    // (quality DESC, doc_id) order — the engine's two-phase prefix
    // sum over the (quality, id-range) composite bucket must equal
    // this single-window unroll exactly
    Gate("pack_curriculum", Packing.qCurriculumPack,
      """WITH d AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         q AS (SELECT doc_id,
             floor((0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.3 * (CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 AS quality,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM d),
         c AS (SELECT doc_id, quality, n_bpe_tokens,
           CAST(sum(n_bpe_tokens) OVER (ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM q)
         SELECT doc_id, quality, n_bpe_tokens, start_offset // 256 AS seq_id,
                start_offset % 256 AS seq_offset
         FROM c ORDER BY doc_id"""),
    // per-sequence doc-start offsets (attention-mask boundaries):
    // the pack assignment re-grouped by sequence; boundaries as a
    // sorted comma-joined string for engine-portable comparison
    Gate("pack_boundaries", Packing.qPackBoundaries,
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM documents),
         c AS (SELECT doc_id, n_bpe_tokens,
           CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM t),
         p AS (SELECT doc_id, n_bpe_tokens, start_offset // 256 AS seq_id,
                start_offset % 256 AS seq_offset FROM c)
         SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
           string_agg(CAST(seq_offset AS VARCHAR), ',' ORDER BY seq_offset) AS boundaries,
           CAST(sum(n_bpe_tokens) AS BIGINT) AS started_tokens
         FROM p GROUP BY seq_id ORDER BY seq_id"""),
    // corpus-level packing audit over the same prefix-sum assignment:
    // one row of fill/fragmentation numbers; end_seq of a zero-token
    // doc pins to its own sequence
    Gate("pack_efficiency", Packing.qPackEfficiency,
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM documents),
         c AS (SELECT doc_id, n_bpe_tokens,
           CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM t),
         p AS (SELECT doc_id, n_bpe_tokens, start_offset // 256 AS seq_id,
                CASE WHEN n_bpe_tokens > 0
                     THEN (start_offset + n_bpe_tokens - 1) // 256
                     ELSE start_offset // 256 END AS end_seq FROM c),
         agg AS (SELECT CAST(coalesce(sum(n_bpe_tokens), 0) AS BIGINT) AS total_tokens,
           CAST(CASE WHEN coalesce(sum(n_bpe_tokens), 0) = 0 THEN 0
                ELSE (coalesce(sum(n_bpe_tokens), 0) - 1) // 256 + 1 END AS BIGINT) AS n_seqs,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN end_seq > seq_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_crossing_docs,
           CAST(coalesce(sum(end_seq - seq_id), 0) AS BIGINT) AS n_crossings FROM p)
         SELECT total_tokens, n_seqs, n_docs, n_crossing_docs, n_crossings,
           CAST(CASE WHEN n_seqs = 0 THEN 0
                ELSE ((total_tokens - 1) % 256) + 1 END AS BIGINT) AS last_fill,
           CASE WHEN n_docs = 0 THEN 0.0
                ELSE floor(CAST(n_crossing_docs AS DOUBLE) / n_docs * 10000 + 0.5) / 10000 END AS crossing_share,
           CASE WHEN n_docs = 0 THEN 0.0
                ELSE floor(CAST(total_tokens AS DOUBLE) / n_docs * 10000 + 0.5) / 10000 END AS avg_doc_tokens
         FROM agg"""),
    // whole-doc FFD placement: one row per piece with its sequence
    // and offset — the recursive CTE replays the greedy scan exactly
    Gate("pack_whole_doc", Packing.qPackWholeDoc, (WholeDocFfdCtes + """
      SELECT doc_id, piece, tok AS n_tok, seq_id, off AS seq_offset
      FROM asg ORDER BY doc_id, piece""")),
    // one-row padding report over the same placement; n_seqs = max+1
    // (seq ids are contiguous by construction), split docs counted
    // via their unique piece #1
    Gate("pack_whole_doc_audit", Packing.qPackWholeDocAudit, (WholeDocFfdCtes + """
      SELECT CAST(coalesce(sum(CASE WHEN piece = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(coalesce(max(seq_id) + 1, 0) AS BIGINT) AS n_seqs,
             CAST(coalesce(sum(tok), 0) AS BIGINT) AS total_tokens,
             CAST(coalesce(sum(CASE WHEN piece = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_split_docs,
             CAST(coalesce(max(seq_id) + 1, 0) * 256 - coalesce(sum(tok), 0) AS BIGINT) AS padding_tokens,
             CASE WHEN coalesce(max(seq_id) + 1, 0) = 0 THEN 0.0
                  ELSE floor(CAST(sum(tok) AS DOUBLE) / (256 * (max(seq_id) + 1)) * 10000 + 0.5) / 10000 END AS fill_rate
      FROM asg""")),
    // the tokenizer hook: same packing, counts read from the
    // fixture's precomputed n_chars column instead of the regex
    // stand-in — an external tokenizer's materialized output
    Gate("pack_sequences_precounted", Packing.qPackSequencesPrecounted,
      """WITH c AS (SELECT doc_id, n_chars,
           CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_chars AS BIGINT) AS start_offset FROM documents)
         SELECT doc_id, n_chars AS n_tok, start_offset // 256 AS seq_id,
                start_offset % 256 AS seq_offset
         FROM c ORDER BY doc_id"""),
    // SQL-driven twins of the LLM operators (spark.sql entry points
    // over registered views + injected graft functions) must land on
    // exactly the rows of their DataFrame twins — one oracle each, two
    // entry surfaces
    Gate("pack_sequences_sql", SqlSurface.qPackSequencesSql, PackSequencesOracleSql),
    Gate("dedup_exact_sql", SqlSurface.qDedupExactSql, DedupExactOracleSql),
    Gate("q_temperature_mix_sql", SqlSurface.qTemperatureMixSql, TemperatureMixOracleSql),
    Gate("q_domain_cap_sql", SqlSurface.qDomainCapSql, DomainCapOracleSql),
    // serving-family SQL twins: same oracles as the standing-index
    // DataFrame paths (three plans, one semantics)
    Gate("text_bm25_sql", SqlSurface.qTextBm25Sql, TextBm25BatchOracleSql),
    Gate("sim_ivf_sql", SqlSurface.qSimIvfSql, SimIvfSq8OracleSql),
    // deterministic training-order shuffle: rank on md5(doc_id)
    Gate("q_global_shuffle", Packing.qGlobalShuffle,
      """SELECT doc_id,
         CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS position
         FROM documents ORDER BY doc_id"""),
    // adjacent same-source rate over the hash order vs the exact
    // without-replacement expectation; ratio ≈ 1 = no source clumping
    Gate("q_shuffle_audit", Packing.qShuffleAudit,
      """WITH p AS (SELECT doc_id, source,
                    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
                    FROM documents),
         adj AS (SELECT a.source AS sa, b.source AS sb
                 FROM p a JOIN p b ON b.pos = a.pos + 1),
         o AS (SELECT count(*) AS n_adj,
                      CAST(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS same_adj
               FROM adj),
         c AS (SELECT CAST(sum(ns * (ns - 1)) AS DOUBLE) AS num, CAST(sum(ns) AS BIGINT) AS nn
               FROM (SELECT count(*) AS ns FROM documents GROUP BY source))
         SELECT c.nn AS n_docs, o.n_adj, o.same_adj,
                floor((CAST(o.same_adj AS DOUBLE) / o.n_adj) * 1000000 + 0.5) / 1000000 AS observed_rate,
                floor((c.num / (c.nn * (c.nn - 1))) * 1000000 + 0.5) / 1000000 AS expected_rate,
                floor(((CAST(o.same_adj AS DOUBLE) / o.n_adj) / (c.num / (c.nn * (c.nn - 1)))) * 10000 + 0.5) / 10000 AS clump_ratio
         FROM o CROSS JOIN c"""),
    Gate("stream_blacklist", StreamingAnalogs.qStreamBlacklist,
      """WITH c AS (SELECT CAST(ts AS DATE) AS date, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS ad_id, count(*) AS n
           FROM events GROUP BY 1, 2, 3)
         SELECT DISTINCT user_id FROM c WHERE n >= 3 ORDER BY user_id"""),
    Gate("stream_running_totals", StreamingAnalogs.qStreamRunningTotals,
      """WITH clicks AS (SELECT ts, event_type AS province,
           'city_' || (user_id % 10) AS city, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS ad_id FROM events),
         c AS (SELECT CAST(ts AS DATE) AS d, user_id, ad_id, count(*) AS n
               FROM clicks GROUP BY 1, 2, 3),
         bl AS (SELECT DISTINCT user_id FROM c WHERE n >= 3)
         SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, province, city, ad_id,
                count(*) AS click_count
         FROM clicks WHERE user_id NOT IN (SELECT user_id FROM bl)
         GROUP BY 1, 2, 3, 4 ORDER BY date, province, city, ad_id"""),
    Gate("stream_province_top3", StreamingAnalogs.qStreamProvinceTop3,
      """WITH clicks AS (SELECT CAST(ts AS DATE) AS d, event_type AS province,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS ad_id FROM events),
         agg AS (SELECT d, province, ad_id, count(*) AS click_count FROM clicks GROUP BY 1, 2, 3),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY d, province
               ORDER BY click_count DESC, ad_id) AS BIGINT) AS "rank" FROM agg)
         SELECT strftime(d, '%Y-%m-%d') AS date, province, ad_id, click_count, "rank"
         FROM r WHERE "rank" <= 3 ORDER BY date, province, "rank" """),
    Gate("stream_sliding_window", StreamingAnalogs.qStreamSlidingWindow,
      """WITH clicks AS (SELECT ts,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS ad_id FROM events),
         w AS (
           SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, ad_id FROM clicks
           UNION ALL
           SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', ad_id FROM clicks)
         SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, ad_id, count(*) AS click_count
         FROM w GROUP BY 1, 2 ORDER BY window_start, ad_id"""),
    Gate("stream_attribution", StreamingAnalogs.qAttribution,
      """WITH c AS (SELECT event_type, user_id, epoch_ns(ts)//1000000000 AS sec,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS ad_id FROM events),
         imps AS (SELECT ad_id, user_id, sec AS imp_sec FROM c WHERE event_type = 'view'),
         clks AS (SELECT ad_id, user_id, sec AS click_sec FROM c WHERE event_type = 'click')
         SELECT i.ad_id AS ad_id, count(*) AS n_attributed
         FROM imps i JOIN clks k
           ON i.ad_id = k.ad_id AND i.user_id = k.user_id
          AND k.click_sec >= i.imp_sec AND k.click_sec <= i.imp_sec + 3600
         GROUP BY i.ad_id ORDER BY i.ad_id"""),
    // the STREAMING flatMapGroupsWithState sessionizer, replayed over
    // the bounded events table — must close exactly the sessions the
    // batch q_sessionize oracle computes (same SQL on purpose)
    Gate("stream_sessions", StatefulSessions.qStreamSessions,
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g)
         SELECT user_id, session_idx, min(ts_sec) AS start_sec,
                max(ts_sec) - min(ts_sec) AS visit_length,
                count(*) AS step_length,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
         FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),
    // the streaming replays must land on exactly the rows of their
    // batch twins — one oracle each, two execution shapes
    Gate("stream_decontaminate", StreamReplays.qStreamDecontaminate,
      TextDecontaminateOracleSql),
    Gate("stream_dsir", StreamReplays.qStreamDsir, TextDsirWeightsOracleSql),
    Gate("stream_dedup_incremental", StreamReplays.qStreamIncrementalDedup,
      DedupIncrementalOracleSql),
    // a twice-replayed feed through dropDuplicatesWithinWatermark
    // must leave exactly the distinct key pairs
    Gate("stream_dedup_watermark", StreamReplays.qStreamDedupWatermark,
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),
    // the stateful streaming constructor must concatenate to the
    // batch lag-window's rows — same oracle, two plans
    Gate("stream_sequence_examples", StatefulSequences.qStreamSequenceExamples,
      SequenceExamplesOracleSql),
    // additively-merged batch histograms must equal the one-shot PSI
    Gate("stream_corpus_drift", StreamReplays.qStreamCorpusDrift, CorpusDriftOracleSql),
    // MG-merged candidates + exact verify = the batch closed form
    Gate("stream_heavy_hitters", StreamReplays.qStreamHeavyHitters,
      TextHeavyHittersOracleSql),
    // epoch-weighted resampling with repetition: per-source doc quota
    // ∝ √(char mass) with largest-remainder rounding; each doc gets
    // ⌊quota/n⌋ epochs plus one more iff its 24-bit md5 hash clears
    // the exact integer threshold h·n < (quota mod n)·2^24 — the
    // map-only membership test the Spark side runs (Mixing.qMixEpochs)
    // continuous assembly: train split → chunk → pack, micro-batched
    // with the token prefix continued across batches — must equal the
    // one-shot pack of the same chain
    Gate("stream_chunk_pack", StreamReplays.qStreamChunkPack,
      """WITH tr AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
            FROM documents WHERE ('0x' || substr(md5(text),1,6))::BIGINT % 100 < 90),
         t AS (SELECT doc_id, toks, len(toks) AS n FROM tr),
         nch AS (SELECT doc_id, toks, n,
                 greatest(1, CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1) AS n_chunks FROM t),
         ch AS (SELECT doc_id, chunk_id,
                CAST(len(toks[chunk_id*24 + 1 : chunk_id*24 + 32]) AS BIGINT) AS n_chunk_tokens
                FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM nch)),
         chk AS (SELECT doc_id, chunk_id, n_chunk_tokens, doc_id * 256 + chunk_id AS pk
                 FROM ch WHERE n_chunk_tokens > 0),
         po AS (SELECT doc_id, chunk_id, n_chunk_tokens,
                CAST(sum(n_chunk_tokens) OVER (ORDER BY pk ROWS UNBOUNDED PRECEDING)
                     - n_chunk_tokens AS BIGINT) AS so FROM chk)
         SELECT doc_id, chunk_id, n_chunk_tokens,
                so // 256 AS seq_id, so % 256 AS seq_offset
         FROM po ORDER BY doc_id, chunk_id"""),
    // micro-batched queries against the standing index concatenate to
    // the one-shot search: sq8 / indexed / streamed — one oracle,
    // three execution shapes
    Gate("stream_ann_search", StreamReplays.qStreamAnnSearch, SimIvfSq8OracleSql),
    // micro-batched text queries against the standing posting index
    // concatenate to the one-shot batch search (three plans, one
    // semantics with text_bm25_batch / text_bm25_indexed)
    Gate("stream_bm25_search", StreamReplays.qStreamBm25Search, TextBm25BatchOracleSql),
    // the per-batch k-min merges land on EXACTLY the one-shot sketch
    // (k-min(union) identity), so the estimates match the batch twin
    Gate("stream_overlap_kmv", StreamReplays.qStreamOverlapKmv, TextOverlapKmvOracleSql),
    // media stub oracles decode BYTES from the hex dump of the BLOB
    // (byte i = 16·strpos(high) + strpos(low) − 17 over the hex
    // alphabet), so parity with the Spark side's (content(i) & 0xff)
    // arithmetic is exact for non-ASCII payloads too
    Gate("mm_decode", Multimodal.qMultimodalDecode,
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                octet_length(encode(text)) AS n FROM ($MbDocs)),
         byt AS (SELECT doc_id, n, list_transform(range(1, CAST(n AS INT) + 1),
             i -> (strpos('0123456789ABCDEF', substr(h, CAST(2 * i - 1 AS INT), 1)) * 16
                   + strpos('0123456789ABCDEF', substr(h, CAST(2 * i AS INT), 1)) - 17)) AS bs
           FROM b)
         SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(1 + (bs[1] % 64) AS BIGINT) AS width,
           CAST(1 + (bs[2] % 64) AS BIGINT) AS height,
           floor(CAST(list_sum(bs) AS DOUBLE) / n * 10000 + 0.5) / 10000 AS mean_byte
         FROM byt ORDER BY doc_id"""),
    Gate("mm_frames", Multimodal.qMultimodalFrames,
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                octet_length(encode(text)) AS n FROM ($MbDocs)),
         f0 AS (SELECT doc_id, h, n,
                CAST(unnest(range(0, (n + 63) // 64)) AS BIGINT) AS frame_idx FROM b),
         f AS (SELECT * FROM f0 WHERE frame_idx % 4 = 0)
         SELECT doc_id, frame_idx,
           CAST(least(64, n - frame_idx * 64) AS BIGINT) AS frame_len,
           CAST(list_sum(list_transform(range(1, CAST(least(64, n - frame_idx * 64) AS INT) + 1),
              i -> (strpos('0123456789ABCDEF', substr(h, CAST(2 * (frame_idx * 64 + i) - 1 AS INT), 1)) * 16
                    + strpos('0123456789ABCDEF', substr(h, CAST(2 * (frame_idx * 64 + i) AS INT), 1)) - 17))) % 256 AS BIGINT) AS checksum
         FROM f ORDER BY doc_id, frame_idx"""),
    // multimodal retrieval: stub byte-histogram embeddings (16 bins,
    // integer counts — bit-exact cross-engine) through the
    // sim_ivf_scaled search algebra (√n cells over the documents
    // count, nprobe 2, queries doc_id < 10)
    Gate("mm_embed_ann", Multimodal.qMultimodalEmbedAnn,
      s"""WITH hx AS (SELECT doc_id, hex(encode(text)) AS h FROM ($MbDocs)),
         e AS (SELECT doc_id AS vec_id, list_transform(range(16),
             k -> CAST(len(list_filter(range(1, len(h) // 2 + 1),
               i -> substr(h, CAST(2 * i AS INT), 1) =
                    substr('0123456789ABCDEF', CAST(k + 1 AS INT), 1))) AS DOUBLE)) AS v
           FROM hx),
         nc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c FROM e),
         cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                  WHERE vec_id < (SELECT c FROM nc)),
         asg AS (SELECT vec_id, v, c_id,
             list_cosine_similarity(v, c_vec) AS c_sim
             FROM e CROSS JOIN cent),
         rnk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id) AS rn FROM asg),
         assigned AS (SELECT vec_id, v, c_id AS bucket FROM rnk WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, v AS q_vec, c_id AS q_bucket FROM rnk
               WHERE vec_id < 10 AND rn <= 2),
         scored AS (SELECT q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(q_vec, a.v) AS sim
             FROM assigned a JOIN q ON a.bucket = q.q_bucket AND a.vec_id != q.q_id),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS "rank" FROM scored)
         SELECT q_id, "rank", neighbor_id, floor((sim) * 10000 + 0.5) / 10000 AS sim FROM r
         WHERE "rank" <= 5 ORDER BY q_id, "rank" """),
    Gate("q_running_total", Analytic.qRunningTotal,
      """SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS total_price,
         floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)) * 100 + 0.5) / 100 AS running_revenue,
         CAST(date_diff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey), o_orderdate) AS BIGINT) AS gap_days
         FROM orders WHERE o_custkey < 100
         ORDER BY o_custkey, o_orderkey"""),
    Gate("q_set_ops", Analytic.qSetOps,
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1994),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
         SELECT (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS union_count,
                (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS intersect_count,
                (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS except_count"""),
    Gate("q_rollup", Analytic.qRollup,
      """SELECT coalesce(r_name, 'ALL') AS region_name,
                coalesce(n_name, 'ALL') AS nation_name,
                count(*) AS n_customers, floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY region_name, nation_name"""),
    Gate("q_cube", Analytic.qCube,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                count(*) AS n,
                floor(sum(l_quantity) * 100 + 0.5) / 100 AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus"""),
    Gate("q_percentiles", Analytic.qPercentiles,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50_value,
         floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95_value
         FROM events GROUP BY 1 ORDER BY event_type"""),
    // The sketches themselves are engine-specific; the contract the
    // oracle checks is "exact values match AND every tolerance
    // boolean is true" — a sketch drifting past tolerance flips a
    // boolean on the Spark side and fails the hash.
    Gate("q_approx_sketch", Analytic.qApproxSketch,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         true AS hll_within_8pct, true AS p50_within_5pct
         FROM events GROUP BY 1 ORDER BY event_type"""),
    // Count-min is fully deterministic (fixed multiplicative hashes,
    // counters sum) — the oracle rebuilds the whole sketch.
    Gate("q_cm_sketch", Analytic.qCmSketch,
      """WITH k AS (SELECT user_id FROM events),
         r AS (SELECT CAST(i AS BIGINT) AS row_id,
                      CASE i WHEN 0 THEN 654435747 WHEN 1 THEN 246822505 ELSE 266489896 END AS a,
                      CASE i WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END AS b
               FROM range(0, 3) t(i)),
         buck AS (SELECT user_id, row_id,
                    ((user_id % 1000000007) * a + b) % 1000000007 % 64 AS bucket
                  FROM k CROSS JOIN r),
         counters AS (SELECT row_id, bucket, count(*) AS c FROM buck GROUP BY 1, 2),
         watch AS (SELECT user_id, count(*) AS true_count FROM events
                   WHERE user_id % 7 = 0 GROUP BY 1),
         qb AS (SELECT user_id, true_count, row_id,
                  ((user_id % 1000000007) * a + b) % 1000000007 % 64 AS bucket
                FROM watch CROSS JOIN r),
         est AS (SELECT user_id, min(true_count) AS true_count, min(c) AS est_count
                 FROM qb JOIN counters USING (row_id, bucket) GROUP BY user_id)
         SELECT user_id, true_count, est_count,
                est_count >= true_count AS never_underestimates
         FROM est ORDER BY user_id"""),
    Gate("q_range_join", TemporalJoins.qRangeJoin,
      """WITH e AS (SELECT event_id, user_id, event_type,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         err AS (SELECT event_id AS err_id, user_id AS err_user, ts_sec AS err_sec
                 FROM e WHERE event_type = 'error')
         SELECT err_id, count(e.event_id) AS n_preceding
         FROM err LEFT JOIN e
           ON err_user = e.user_id
          AND e.ts_sec >= err_sec - 600 AND e.ts_sec < err_sec
         GROUP BY err_id ORDER BY err_id"""),
    Gate("q_asof_join", TemporalJoins.qAsofJoin,
      """WITH e AS (SELECT event_id, user_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         t AS (SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts_sec END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_sec
               FROM e)
         SELECT event_id, user_id, last_click_sec,
                ts_sec - last_click_sec AS gap_sec
         FROM t WHERE event_type = 'error' ORDER BY event_id"""),
    Gate("q_param_filter", ParamFilters.qParamFilter,
      """SELECT event_type, count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100 AS total_value
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
           AND strftime(ts, '%Y-%m-%d') <= '2024-01-25'
           AND value >= 10.0 AND value <= 150.0
           AND event_type IN ('view', 'click', 'purchase')
           AND props LIKE '%7%'
         GROUP BY 1 ORDER BY event_type"""),
    Gate("q_stratified_sample", ParamFilters.qStratifiedSample,
      """WITH e AS (SELECT user_id, event_id, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g),
         sess AS (SELECT user_id, session_idx, min(ts_sec) AS start_sec
                  FROM s GROUP BY user_id, session_idx),
         sh AS (SELECT user_id, session_idx,
                strftime(make_timestamp(start_sec * 1000000), '%Y-%m-%d_%H') AS date_hour FROM sess),
         st AS (SELECT date_hour, count(*) AS g_cnt FROM sh GROUP BY 1),
         qt AS (SELECT date_hour, g_cnt,
                 CAST(floor(100 * g_cnt / sum(g_cnt) OVER ()) AS BIGINT) AS base,
                 100 * g_cnt / sum(g_cnt) OVER ()
                   - floor(100 * g_cnt / sum(g_cnt) OVER ()) AS rem
                FROM st),
         qf AS (SELECT *, 100 - sum(base) OVER () AS leftover,
                 row_number() OVER (ORDER BY rem DESC, date_hour) AS rr
                FROM qt),
         qq AS (SELECT date_hour,
                 base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota FROM qf),
         r AS (SELECT sh.*, quota,
               CAST(row_number() OVER (PARTITION BY sh.date_hour
                 ORDER BY md5(user_id || '_' || session_idx), user_id, session_idx) AS BIGINT) AS rn
               FROM sh JOIN qq USING (date_hour))
         SELECT date_hour, user_id, session_idx FROM r WHERE rn <= quota
         ORDER BY date_hour, user_id, session_idx"""),
    Gate("q_salted_agg", ParamFilters.qSaltedAgg,
      """SELECT l_returnflag, count(*) AS cnt, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS qty
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    // plain (unsalted) join — the salted plan must produce exactly this
    Gate("q_skew_join_salted", ParamFilters.qSkewJoinSalted,
      """SELECT p_brand, count(*) AS n_items,
                floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand"""),
    // identical semantics, AQE-default plan — same oracle by design
    Gate("q_skew_join_plain_aqe", ParamFilters.qSkewJoinPlainAqe,
      """SELECT p_brand, count(*) AS n_items,
                floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand"""),
    Gate("pipeline_training_data", Pipeline.qTrainingPipeline,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d0),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         lsh_pairs AS (SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         gated AS (SELECT d.doc_id, d.lang, d.text,
             CAST(len(t.toks) AS BIGINT) AS n_tokens,
             floor((0.4 * least(len(t.toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks))
               + 0.3 * (CAST(len(list_filter(t.toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE) / len(t.toks))) * 10000 + 0.5) / 10000 AS quality
           FROM documents d JOIN d0 t ON d.doc_id = t.doc_id),
         passed AS (SELECT * FROM gated WHERE quality >= 0.35),
         exact AS (SELECT * FROM (SELECT *, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM passed) WHERE rn = 1),
         drops AS (SELECT DISTINCT p.doc_b AS doc_id FROM lsh_pairs p
           WHERE p.doc_a IN (SELECT doc_id FROM exact)
             AND p.doc_b IN (SELECT doc_id FROM exact))
         SELECT doc_id, lang, n_tokens, quality FROM exact
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id"""),
    // the same stages counted per source instead of filtered:
    // curated ⊆ exact ⊆ quality ⊆ docs, one row per source
    Gate("pipeline_funnel", Pipeline.qCurationFunnel,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d0),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         lsh_pairs AS (SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         passed AS (SELECT d.doc_id, d.text FROM documents d JOIN d0 t ON d.doc_id = t.doc_id
           WHERE floor((0.4 * least(len(t.toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks))
               + 0.3 * (CAST(len(list_filter(t.toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE) / len(t.toks))) * 10000 + 0.5) / 10000 >= 0.35),
         exact AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM passed) WHERE rn = 1),
         drops AS (SELECT DISTINCT p.doc_b AS doc_id FROM lsh_pairs p
           WHERE p.doc_a IN (SELECT doc_id FROM exact)
             AND p.doc_b IN (SELECT doc_id FROM exact)),
         curated AS (SELECT doc_id FROM exact
           WHERE doc_id NOT IN (SELECT doc_id FROM drops))
         SELECT d.source,
                count(*) AS n_docs,
                count(p.doc_id) AS n_quality,
                count(e.doc_id) AS n_exact,
                count(c.doc_id) AS n_curated
         FROM documents d
         LEFT JOIN (SELECT doc_id FROM passed) p ON d.doc_id = p.doc_id
         LEFT JOIN exact e ON d.doc_id = e.doc_id
         LEFT JOIN curated c ON d.doc_id = c.doc_id
         GROUP BY d.source ORDER BY d.source"""),
    // the full corpus build: eval holdout -> quality -> exact dedup ->
    // LSH removal -> 4-gram decontamination (vs the RAW eval slice,
    // drop when n_shared > 2) -> 256-token concat-and-chunk packing
    Gate("pipeline_pretrain_corpus", Pipeline.qPretrainCorpus,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents WHERE doc_id % 20 != 0),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d0),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         lsh_pairs AS (SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         gated AS (SELECT d.doc_id, d.lang, d.text,
             floor((0.4 * least(len(t.toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks))
               + 0.3 * (CAST(len(list_filter(t.toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE) / len(t.toks))) * 10000 + 0.5) / 10000 AS quality
           FROM documents d JOIN d0 t ON d.doc_id = t.doc_id),
         passed AS (SELECT * FROM gated WHERE quality >= 0.35),
         exact AS (SELECT * FROM (SELECT *, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM passed) WHERE rn = 1),
         drops AS (SELECT DISTINCT p.doc_b AS doc_id FROM lsh_pairs p
           WHERE p.doc_a IN (SELECT doc_id FROM exact)
             AND p.doc_b IN (SELECT doc_id FROM exact)),
         surv AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         ev AS (SELECT DISTINCT unnest(list_distinct(CASE WHEN len(toks) >= 4
                 THEN list_transform(range(1, len(toks)-2), i -> array_to_string(toks[i:i+3], ' '))
                 ELSE [] END)) AS sh
               FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
                     FROM documents WHERE doc_id % 20 = 0)),
         tr4 AS (SELECT v.doc_id, unnest(list_distinct(CASE WHEN len(t.toks) >= 4
                 THEN list_transform(range(1, len(t.toks)-2), i -> array_to_string(t.toks[i:i+3], ' '))
                 ELSE [] END)) AS sh
               FROM surv v JOIN d0 t ON v.doc_id = t.doc_id),
         contaminated AS (SELECT doc_id FROM
             (SELECT doc_id, count(*) AS n_shared FROM tr4 JOIN ev USING (sh) GROUP BY 1)
           WHERE n_shared > 2),
         clean AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         bpe AS (SELECT doc_id, lang, quality,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM clean),
         packed AS (SELECT *, CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM bpe)
         SELECT doc_id, lang, quality, n_bpe_tokens,
                start_offset // 256 AS seq_id, start_offset % 256 AS seq_offset
         FROM packed ORDER BY doc_id"""),
    // the model-shaped corpus build: classifier gate (unrounded prob
    // ≥ 0.5) instead of the heuristic; the Bloom decontamination
    // stage shares the plain decontamination SQL (identical output
    // by the one-sided-filter argument); everything else as above
    Gate("pipeline_pretrain_model", Pipeline.qPretrainCorpusModel,
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents WHERE doc_id % 20 != 0),
         s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d0),
         mh AS (SELECT doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         lsh_pairs AS (SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         gated AS (SELECT d.doc_id, d.lang, d.text,
             1.0 / (1.0 + exp(-4.0 * (list_sum(list_transform(t.toks, tok ->
               CAST(CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0))
               / len(t.toks)))) AS prob
           FROM documents d JOIN d0 t ON d.doc_id = t.doc_id WHERE len(t.toks) > 0),
         passed AS (SELECT doc_id, lang, text,
             floor(prob * 10000 + 0.5) / 10000 AS quality
           FROM gated WHERE prob >= 0.5),
         exact AS (SELECT * FROM (SELECT *, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM passed) WHERE rn = 1),
         drops AS (SELECT DISTINCT p.doc_b AS doc_id FROM lsh_pairs p
           WHERE p.doc_a IN (SELECT doc_id FROM exact)
             AND p.doc_b IN (SELECT doc_id FROM exact)),
         surv AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         ev AS (SELECT DISTINCT unnest(list_distinct(CASE WHEN len(toks) >= 4
                 THEN list_transform(range(1, len(toks)-2), i -> array_to_string(toks[i:i+3], ' '))
                 ELSE [] END)) AS sh
               FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
                     FROM documents WHERE doc_id % 20 = 0)),
         tr4 AS (SELECT v.doc_id, unnest(list_distinct(CASE WHEN len(t.toks) >= 4
                 THEN list_transform(range(1, len(t.toks)-2), i -> array_to_string(t.toks[i:i+3], ' '))
                 ELSE [] END)) AS sh
               FROM surv v JOIN d0 t ON v.doc_id = t.doc_id),
         contaminated AS (SELECT doc_id FROM
             (SELECT doc_id, count(*) AS n_shared FROM tr4 JOIN ev USING (sh) GROUP BY 1)
           WHERE n_shared > 2),
         clean AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         bpe AS (SELECT doc_id, lang, quality,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM clean),
         packed AS (SELECT *, CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_bpe_tokens AS BIGINT) AS start_offset FROM bpe)
         SELECT doc_id, lang, quality, n_bpe_tokens,
                start_offset // 256 AS seq_id, start_offset % 256 AS seq_offset
         FROM packed ORDER BY doc_id"""),
    // epoch-aware assembly: the q_mix_epochs resample (n_chars riding
    // along as the token count), a per-COPY md5 training order (the
    // '#'-salted hash scatters a doc's epochs), and the concat-and-
    // chunk packing cumsum over that order
    Gate("pipeline_epoch_pack", Pipeline.qEpochPack,
      """WITH g AS (SELECT source, sum(n_chars) AS mass, count(*) AS n_docs FROM documents GROUP BY 1),
         gw AS (SELECT source, n_docs, CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM g),
         qt AS (SELECT source, n_docs, 600 * CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS ideal FROM gw),
         qb AS (SELECT source, n_docs, CAST(floor(ideal) AS BIGINT) AS base, ideal - floor(ideal) AS rem FROM qt),
         qf AS (SELECT *, 600 - sum(base) OVER () AS leftover,
                row_number() OVER (ORDER BY rem DESC, source) AS rr FROM qb),
         qq AS (SELECT source, n_docs,
                base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota FROM qf),
         c AS (SELECT d.doc_id, d.n_chars,
               quota // n_docs +
               CASE WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,6)) AS BIGINT) * n_docs
                         < (quota % n_docs) * 16777216 THEN 1 ELSE 0 END AS copies
               FROM documents d JOIN qq USING (source)),
         e AS (SELECT doc_id, n_chars, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
               FROM c WHERE copies >= 1),
         r AS (SELECT *, md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)) AS rk FROM e),
         s AS (SELECT *, CAST(sum(n_chars) OVER (ORDER BY rk, doc_id, epoch ROWS UNBOUNDED PRECEDING)
                    - n_chars AS BIGINT) AS start_offset FROM r)
         SELECT doc_id, epoch, n_chars AS n_tok, start_offset // 256 AS seq_id,
                start_offset % 256 AS seq_offset
         FROM s ORDER BY doc_id, epoch"""),
    // the end-to-end RELEASE audit: BOTH corpus versions run the full
    // curation chain (version-tagged CTEs — dedup/LSH stay strictly
    // within a version), the current release packs into 256-token
    // sequences and 32-seq shards (stats recomputed from logic here,
    // from the on-disk read-back on the Spark side — that asymmetry
    // IS the verify-after-write), the two curated releases diff by
    // content hash, and the released docs roll up per source
    Gate("pipeline_release_audit", Pipeline.qReleaseAudit,
      """WITH pool AS (
           SELECT 2 AS ver, doc_id, source, text FROM documents
           UNION ALL
           SELECT 1, doc_id, source,
             CASE WHEN doc_id % 10 = 3 THEN text || ' v1' ELSE text END
           FROM documents WHERE doc_id % 10 != 7
           UNION ALL
           SELECT 1, doc_id + 10000000000, source,
             'the ' || CAST(doc_id + 10000000000 AS VARCHAR) ||
             ' and ' || CAST(doc_id + 10000000000 AS VARCHAR) ||
             ' of ' || CAST(doc_id + 10000000000 AS VARCHAR) ||
             ' to ' || CAST(doc_id + 10000000000 AS VARCHAR) ||
             ' a ' || CAST(doc_id + 10000000000 AS VARCHAR)
           FROM documents WHERE doc_id % 10 = 4),
         d0 AS (SELECT ver, doc_id, source, text,
             list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
           FROM pool),
         s AS (SELECT ver, doc_id, list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS shingles FROM d0),
         mh AS (SELECT ver, doc_id, shingles,
           list_min(list_transform(shingles, x -> md5('0|' || x))) AS mh0,
           list_min(list_transform(shingles, x -> md5('1|' || x))) AS mh1,
           list_min(list_transform(shingles, x -> md5('2|' || x))) AS mh2,
           list_min(list_transform(shingles, x -> md5('3|' || x))) AS mh3,
           list_min(list_transform(shingles, x -> md5('4|' || x))) AS mh4,
           list_min(list_transform(shingles, x -> md5('5|' || x))) AS mh5,
           list_min(list_transform(shingles, x -> md5('6|' || x))) AS mh6,
           list_min(list_transform(shingles, x -> md5('7|' || x))) AS mh7
           FROM s),
         bands AS (
           SELECT ver, doc_id, 0 AS band_id, md5(mh0 || mh1) AS bucket FROM mh
           UNION ALL SELECT ver, doc_id, 1, md5(mh2 || mh3) FROM mh
           UNION ALL SELECT ver, doc_id, 2, md5(mh4 || mh5) FROM mh
           UNION ALL SELECT ver, doc_id, 3, md5(mh6 || mh7) FROM mh),
         cand AS (SELECT DISTINCT a.ver, a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
           ON a.ver = b.ver AND a.band_id = b.band_id
              AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         lsh_pairs AS (SELECT ver, doc_a, doc_b FROM (
           SELECT c.ver, doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) /
             (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
           FROM cand c JOIN s sa ON c.ver = sa.ver AND doc_a = sa.doc_id
                       JOIN s sb ON c.ver = sb.ver AND doc_b = sb.doc_id)
           WHERE jaccard >= 0.5),
         passed AS (SELECT ver, doc_id, source, text FROM d0
           WHERE floor((0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
               + 0.3 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks))) * 10000 + 0.5) / 10000 >= 0.35),
         exact AS (SELECT ver, doc_id, source, text FROM
             (SELECT *, row_number() OVER
               (PARTITION BY ver, md5(text) ORDER BY doc_id) AS rn FROM passed)
           WHERE rn = 1),
         drops AS (SELECT DISTINCT p.ver, p.doc_b AS doc_id FROM lsh_pairs p
           JOIN exact ea ON p.ver = ea.ver AND p.doc_a = ea.doc_id
           JOIN exact eb ON p.ver = eb.ver AND p.doc_b = eb.doc_id),
         rel AS (SELECT * FROM exact e WHERE NOT EXISTS
             (SELECT 1 FROM drops d WHERE d.ver = e.ver AND d.doc_id = e.doc_id)),
         rel2 AS (SELECT doc_id, source, text FROM rel WHERE ver = 2),
         bpe AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens
           FROM rel2),
         packed AS (SELECT *,
             CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               - n_bpe_tokens AS BIGINT) AS start_offset FROM bpe),
         sharded AS (SELECT *, (start_offset // 256) // 32 AS shard,
             start_offset // 256 AS seq_id FROM packed),
         shard_stats AS (SELECT shard,
             count(*) AS n_docs,
             count(DISTINCT seq_id) AS n_seqs,
             CAST(sum(n_bpe_tokens) AS BIGINT) AS n_tokens
           FROM sharded GROUP BY shard),
         dj AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  md5(a.text) AS h1, md5(b.text) AS h2
                FROM (SELECT doc_id, text FROM rel WHERE ver = 1) a
                FULL OUTER JOIN rel2 b ON a.doc_id = b.doc_id),
         diffs AS (SELECT CASE WHEN h1 IS NULL THEN 'added'
                       WHEN h2 IS NULL THEN 'removed'
                       ELSE 'changed' END AS status
                   FROM dj WHERE h1 IS NULL OR h2 IS NULL OR h1 != h2)
         SELECT * FROM (
           SELECT 'total' AS entry, 'docs' AS k,
               CAST(sum(n_docs) AS BIGINT) AS n FROM shard_stats
           UNION ALL SELECT 'total', 'seqs', CAST(sum(n_seqs) AS BIGINT) FROM shard_stats
           UNION ALL SELECT 'total', 'tokens', CAST(sum(n_tokens) AS BIGINT) FROM shard_stats
           UNION ALL SELECT 'shard_docs', CAST(shard AS VARCHAR), n_docs FROM shard_stats
           UNION ALL SELECT 'shard_seqs', CAST(shard AS VARCHAR), n_seqs FROM shard_stats
           UNION ALL SELECT 'shard_tokens', CAST(shard AS VARCHAR), n_tokens FROM shard_stats
           UNION ALL SELECT 'diff', status, count(*) FROM diffs GROUP BY status
           UNION ALL SELECT 'release_docs', source, count(*) FROM rel2 GROUP BY source
           UNION ALL SELECT 'release_tokens', source, CAST(sum(n_bpe_tokens) AS BIGINT)
             FROM bpe GROUP BY source)
         ORDER BY entry, k"""),
    Gate("pipeline_curation_audit", Pipeline.qCurationAudit,
      """WITH d AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS token FROM d),
         cnt AS (SELECT token, count(*) AS c FROM e GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cnt),
         topv AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
         iv AS (SELECT sum(c) AS inv FROM topv),
         oov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                        ELSE ln(1.0 / n) END AS oov_lp FROM n CROSS JOIN iv),
         lm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM topv CROSS JOIN n),
         te AS (SELECT doc_id, unnest(toks) AS token FROM d WHERE lang = 'en'),
         tcnt AS (SELECT token, count(*) AS c FROM te GROUP BY 1),
         tn AS (SELECT sum(c) AS n FROM tcnt),
         ttopv AS (SELECT token, c FROM tcnt ORDER BY c DESC, token LIMIT 16),
         tiv AS (SELECT sum(c) AS inv FROM ttopv),
         toov AS (SELECT CASE WHEN n > inv THEN ln(CAST(n - inv AS DOUBLE) / n)
                         ELSE ln(1.0 / n) END AS oov_lp FROM tn CROSS JOIN tiv),
         tlm AS (SELECT token, ln(CAST(c AS DOUBLE) / n) AS lp FROM ttopv CROSS JOIN tn),
         scored AS (SELECT e.doc_id,
             sum(coalesce(t.lp, (SELECT oov_lp FROM toov))
                 - coalesce(r.lp, (SELECT oov_lp FROM oov))) AS lw
           FROM e LEFT JOIN tlm t ON e.token = t.token
                  LEFT JOIN lm r ON e.token = r.token GROUP BY e.doc_id),
         keep AS (SELECT d0.doc_id, d0.source, d0.n_chars, d0.text
                  FROM documents d0 JOIN scored s ON s.doc_id = d0.doc_id
                  WHERE floor(s.lw * 10000 + 0.5) / 10000 > 0),
         cap AS (SELECT doc_id, text,
                   row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
                 FROM keep),
         surv AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS nt
           FROM cap WHERE rk <= 5),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_capped,
                   CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens FROM surv)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
           (SELECT CAST(count(*) AS BIGINT) FROM keep) AS n_dsir_kept,
           n_capped, total_tokens,
           CAST(CASE WHEN total_tokens = 0 THEN 0
                ELSE (total_tokens - 1) // 256 + 1 END AS BIGINT) AS n_seqs,
           CAST(CASE WHEN total_tokens = 0 THEN 0
                ELSE ((total_tokens - 1) % 256) + 1 END AS BIGINT) AS last_fill
         FROM agg"""),
    // DSIR gate -> per-domain cap -> pack arithmetic, one audit row;
    // the composition of three gated operators (sequence shape is a
    // function of the survivor token total under concat-and-chunk)
    // the RLHF data chain composed: synthetic 3-rater majority gate ->
    // preference pairs over CLEAN prompts -> source duels -> 3-round
    // Bradley-Terry MM fit -> one audit row (exact decimal margin sum)
    Gate("pipeline_rlhf_audit", Pipeline.qRlhfAudit,
      """WITH d AS (SELECT doc_id, text FROM documents),
         v AS (SELECT doc_id AS item_id, r,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id * 3 + r AS VARCHAR)), 1, 6)) AS BIGINT) * 20
                  < 16777216 * r THEN 'zz' ELSE lang END AS label
           FROM documents, (SELECT unnest([1, 2, 3]) AS r)),
         c AS (SELECT item_id, label, count(*) AS cnt FROM v GROUP BY 1, 2),
         mrk AS (SELECT *, row_number() OVER (PARTITION BY item_id ORDER BY cnt DESC, label) AS rk FROM c),
         maj AS MATERIALIZED (SELECT item_id, label AS maj_label FROM mrk WHERE rk = 1),
         clean AS (SELECT item_id FROM maj WHERE maj_label != 'zz'),
         p AS (SELECT a.doc_id AS prompt_id, a.doc_id + r.r AS cand_id,
                      b.text AS pred, a.text AS ref
               FROM d a CROSS JOIN (SELECT unnest([1, 2, 3]) AS r) r
               JOIN d b ON b.doc_id = a.doc_id + r.r),
         n AS (SELECT prompt_id, cand_id,
                 lower(regexp_replace(trim(pred), '\s+', ' ', 'g')) AS pn,
                 lower(regexp_replace(trim(ref), '\s+', ' ', 'g')) AS rn
               FROM p),
         t AS (SELECT prompt_id, cand_id,
                 list_filter(string_split_regex(pn, '\s+'), x -> x != '') AS pt,
                 list_filter(string_split_regex(rn, '\s+'), x -> x != '') AS rt
               FROM n),
         o AS (SELECT prompt_id, cand_id, len(pt) AS np, len(rt) AS nr,
                 coalesce(CAST(list_sum(list_transform(list_distinct(pt), tk ->
                   least(len(list_filter(pt, x -> x = tk)),
                         len(list_filter(rt, x -> x = tk))))) AS BIGINT), 0) AS ov
               FROM t),
         s AS (SELECT prompt_id, cand_id,
                 floor((CASE WHEN np + nr = 0 THEN 0.0
                        ELSE 2.0 * ov / (np + nr) END) * 10000 + 0.5) / 10000 AS token_f1
               FROM o),
         rk2 AS (SELECT *,
                 row_number() OVER (PARTITION BY prompt_id ORDER BY token_f1 DESC, cand_id) AS rb,
                 row_number() OVER (PARTITION BY prompt_id ORDER BY token_f1, cand_id DESC) AS rw
                FROM s),
         pair AS MATERIALIZED (SELECT prompt_id,
                 max(CASE WHEN rb = 1 THEN cand_id END) AS chosen_id,
                 max(CASE WHEN rb = 1 THEN token_f1 END) AS chosen_f1,
                 max(CASE WHEN rw = 1 THEN cand_id END) AS rejected_id,
                 max(CASE WHEN rw = 1 THEN token_f1 END) AS rejected_f1
                FROM rk2 GROUP BY prompt_id),
         cpair AS MATERIALIZED (SELECT pr.prompt_id, pr.chosen_id, pr.rejected_id,
                 floor((pr.chosen_f1 - pr.rejected_f1) * 10000 + 0.5) / 10000 AS margin
               FROM pair pr JOIN clean ON clean.item_id = pr.prompt_id
               WHERE pr.chosen_f1 > pr.rejected_f1),
         duel AS (SELECT ws.source AS winner, ls.source AS loser
               FROM cpair
               JOIN documents ws ON ws.doc_id = cpair.chosen_id
               JOIN documents ls ON ls.doc_id = cpair.rejected_id
               WHERE ws.source != ls.source),
         w AS (SELECT winner AS s, loser AS o, count(*) AS c FROM duel GROUP BY 1, 2),
         dir AS (SELECT s, o, c FROM w UNION ALL SELECT o AS s, s AS o, 0 AS c FROM w),
         dd AS (SELECT s, o, sum(c) AS w_so FROM dir GROUP BY 1, 2),
         nij AS MATERIALIZED (SELECT dx.s, dx.o, dx.w_so, dx.w_so + r.w_so AS n
                 FROM dd dx JOIN dd r ON r.s = dx.o AND r.o = dx.s),
         tot AS (SELECT s, sum(w_so) AS wi, sum(n) AS games FROM nij GROUP BY 1),
         k AS (SELECT count(*) AS k FROM tot),
         it0 AS (SELECT s, 1.0 AS st FROM tot),
         d1 AS (SELECT nx.s, sum(nx.n / (a.st + b.st)) AS den FROM nij nx
                JOIN it0 a ON a.s = nx.s JOIN it0 b ON b.s = nx.o GROUP BY 1),
         r1 AS (SELECT t2.s, CASE WHEN dn.den > 0 THEN t2.wi / dn.den ELSE 0.0 END AS st
                FROM tot t2 JOIN d1 dn ON dn.s = t2.s),
         n1 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r1) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r1) ELSE 0.0 END AS st FROM r1),
         d2 AS (SELECT nx.s, sum(nx.n / (a.st + b.st)) AS den FROM nij nx
                JOIN n1 a ON a.s = nx.s JOIN n1 b ON b.s = nx.o GROUP BY 1),
         r2 AS (SELECT t2.s, CASE WHEN dn.den > 0 THEN t2.wi / dn.den ELSE 0.0 END AS st
                FROM tot t2 JOIN d2 dn ON dn.s = t2.s),
         n2 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r2) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r2) ELSE 0.0 END AS st FROM r2),
         d3 AS (SELECT nx.s, sum(nx.n / (a.st + b.st)) AS den FROM nij nx
                JOIN n2 a ON a.s = nx.s JOIN n2 b ON b.s = nx.o GROUP BY 1),
         r3 AS (SELECT t2.s, CASE WHEN dn.den > 0 THEN t2.wi / dn.den ELSE 0.0 END AS st
                FROM tot t2 JOIN d3 dn ON dn.s = t2.s),
         n3 AS (SELECT s, CASE WHEN (SELECT sum(st) FROM r3) > 0
                  THEN st * (SELECT k FROM k) / (SELECT sum(st) FROM r3) ELSE 0.0 END AS st FROM r3),
         fin AS MATERIALIZED (SELECT t2.s AS source, floor(n3.st * 10000 + 0.5) / 10000 AS strength
                 FROM tot t2 JOIN n3 ON n3.s = t2.s),
         toprow AS (SELECT source AS top_source, strength AS top_strength,
                 row_number() OVER (ORDER BY strength DESC, source) AS r FROM fin),
         agg AS (SELECT (SELECT count(*) FROM maj) AS n_items,
                 (SELECT count(*) FROM clean) AS n_clean,
                 (SELECT count(*) FROM cpair) AS n_pairs,
                 (SELECT CAST(coalesce(sum(CAST(margin AS DECIMAL(20,4))), 0) AS DOUBLE) FROM cpair) AS margin_sum,
                 (SELECT count(*) FROM fin) AS n_ranked)
         SELECT CAST(n_items AS BIGINT) AS n_items, CAST(n_clean AS BIGINT) AS n_clean,
                CAST(n_pairs AS BIGINT) AS n_pairs,
                CASE WHEN n_pairs = 0 THEN 0.0
                     ELSE floor(margin_sum / n_pairs * 10000 + 0.5) / 10000 END AS mean_margin,
                CAST(n_ranked AS BIGINT) AS n_ranked, tr.top_source, tr.top_strength
         FROM agg CROSS JOIN (SELECT top_source, top_strength FROM toprow WHERE r = 1) tr"""),
    Gate("q_funnel", Sessions.qFunnel,
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
                    epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
         v AS (SELECT user_id, session_idx,
               min(CASE WHEN event_type = 'view' THEN ts_sec END) AS v_sec
               FROM s GROUP BY 1, 2),
         c AS (SELECT s.user_id, s.session_idx,
               min(CASE WHEN s.event_type = 'click' AND s.ts_sec > v.v_sec THEN s.ts_sec END) AS c_sec
               FROM s JOIN v ON s.user_id = v.user_id AND s.session_idx = v.session_idx
               GROUP BY 1, 2),
         p AS (SELECT s.user_id, s.session_idx,
               min(CASE WHEN s.event_type = 'purchase' AND s.ts_sec > c.c_sec THEN s.ts_sec END) AS p_sec
               FROM s JOIN c ON s.user_id = c.user_id AND s.session_idx = c.session_idx
               GROUP BY 1, 2)
         SELECT count(*) AS n_sessions, count(v_sec) AS n_view,
                count(c_sec) AS n_view_click, count(p_sec) AS n_view_click_purchase,
                floor((count(c_sec) / CAST(count(v_sec) AS DOUBLE)) * 10000 + 0.5) / 10000 AS rate_click,
                floor((count(p_sec) / CAST(count(c_sec) AS DOUBLE)) * 10000 + 0.5) / 10000 AS rate_purchase
         FROM v JOIN c USING (user_id, session_idx) JOIN p USING (user_id, session_idx)"""),
    Gate("q_sequence_examples", Sessions.qSequenceExamples, SequenceExamplesOracleSql),
    Gate("vec_norms", Vectors.qVectorNorms,
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         n AS (SELECT label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v),
         u AS (SELECT label, norm, abs(1.0 - sqrt(list_sum(list_transform(
                 list_transform(e, x -> CASE WHEN norm = 0.0 THEN 0.0 ELSE x / norm END),
                 x -> x * x)))) AS unit_err FROM n)
         SELECT label, count(*) AS n,
                floor(avg(norm) * 10000 + 0.5) / 10000 AS avg_norm,
                floor(max(norm) * 10000 + 0.5) / 10000 AS max_norm,
                floor(max(unit_err) * 10000 + 0.5) / 10000 AS max_unit_err
         FROM u GROUP BY 1 ORDER BY label"""),
    // SQ8 scalar quantization: code sum is an exact integer checksum
    // of all 64 codes; MSE fold runs in array order in both engines
    Gate("emb_quantize_sq8", Vectors.qEmbQuantizeSq8,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         m AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax,
                      (list_max(v) - list_min(v)) / 255.0 AS scl FROM e),
         c AS (SELECT vec_id, v, vmin, vmax, scl,
                 CASE WHEN vmax > vmin
                   THEN list_transform(v, x -> CAST(least(255.0, greatest(0.0, floor((x - vmin) / scl + 0.5))) AS BIGINT))
                   ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
               FROM m)
         SELECT vec_id,
                floor(vmin * 10000 + 0.5) / 10000 AS qmin,
                floor(vmax * 10000 + 0.5) / 10000 AS qmax,
                CAST(list_sum(codes) AS BIGINT) AS code_sum,
                floor((list_sum(list_transform(range(1, len(v) + 1),
                        i -> (v[i] - (vmin + codes[i] * scl)) * (v[i] - (vmin + codes[i] * scl))))
                       / len(v)) * 100000000 + 0.5) / 100000000 AS recon_mse
         FROM c ORDER BY vec_id"""),
    // sparse random projection: the ±1 sign matrix is replayed from
    // md5("rp|j|i") per cell (the engine precomputes it driver-side;
    // the oracle derives it inline — same bits either way)
    Gate("emb_project_rp", Vectors.qEmbProjectRp,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         j AS (SELECT unnest(range(16)) AS dim)
         SELECT vec_id, dim,
           floor((list_sum(list_transform(range(1, 65), i ->
             v[i] * (CASE WHEN substr(md5('rp|' || dim || '|' || (i - 1)), 1, 1) < '8'
                          THEN 1.0 ELSE -1.0 END))) / 4.0) * 10000 + 0.5) / 10000 AS val
         FROM e CROSS JOIN j ORDER BY vec_id, dim"""),
    // second-moment matrix, upper triangle in long format; the oracle
    // pays the 64²-per-row cross join the partial-agg plan avoids
    Gate("emb_gram", Vectors.qEmbGram,
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         idx AS (SELECT unnest(range(64)) AS j),
         jk AS (SELECT a.j AS j, b.j AS k FROM idx a CROSS JOIN idx b WHERE b.j >= a.j)
         SELECT j, k, floor(sum(v[j + 1] * v[k + 1]) * 10000 + 0.5) / 10000 AS g
         FROM e CROSS JOIN jk GROUP BY j, k ORDER BY j, k"""),
    Gate("q_value_histogram", Vectors.qValueHistogram,
      """SELECT CAST(floor(value / 20.0) * 20 AS BIGINT) AS bucket_low, count(*) AS n,
         floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
         FROM events GROUP BY 1 ORDER BY bucket_low"""),
  )

  /** Name-keyed views of [[gates]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap
  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
