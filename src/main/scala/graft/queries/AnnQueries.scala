package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Curation, Dedup, DetHash, Multimodal, Similarity, TextAnalysis}

/** Similarity-search extension queries (SURVEY.md §7.5): brute-force
  * cosine top-k, RP-LSH ANN, IVF-Flat (inline + persisted index),
  * int8 quantized dots, PQ/ADC, IVF-PQ (plain + residual) and
  * SemDeDup semantic dedup. Oracles rebuild the same centroids/
  * codebooks from the same frozen [[graft.ext.DetHash]] seeds. */
object AnnQueries {

  /** Shared IVF oracle CTEs: unnested vectors + norms, the
    * deterministic 16-centroid seed sample (same md5 key as
    * [[Similarity.ivfCentroids]]), rounded cosine of every vector to
    * every centroid, and the argmax cell assignment. generate_subscripts
    * is 1-based; `i` is kept 1-based here and shifted where a query
    * compares against Spark's 0-based posexplode. */
  private val ivfCte = s"""
    v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings),
    n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
    cents AS (SELECT vec_id AS cell_id FROM embeddings
              ORDER BY ${DetHash.sqlHash52("vec_id::VARCHAR")}, vec_id LIMIT 16),
    cv AS (SELECT c.cell_id, v.i, v.x FROM cents c JOIN v ON v.vec_id = c.cell_id),
    cn AS (SELECT cell_id, sqrt(sum(x * x)) AS nrm FROM cv GROUP BY cell_id),
    cdot AS (SELECT v.vec_id, c.cell_id, sum(v.x * c.x) AS dot
             FROM v JOIN cv c ON c.i = v.i GROUP BY 1, 2),
    csim AS (SELECT d.vec_id, d.cell_id,
                    round(d.dot / (n.nrm * cn.nrm), 4) AS sim
             FROM cdot d
             JOIN n ON n.vec_id = d.vec_id
             JOIN cn ON cn.cell_id = d.cell_id),
    assigned AS (SELECT vec_id, cell_id FROM (
                   SELECT vec_id, cell_id, row_number() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                   FROM csim) WHERE r = 1)"""

  /** Shared PQ oracle CTEs (m=8, ksub=16, dim 64, probes vec_id < 20):
    * deterministic sampled codebooks per subspace, argmin-L2 code
    * assignment for every vector, and the probes' dot-product lookup
    * tables — used by q97 (flat PQ) and q98 (IVF-PQ). */
  private val pqCte = s"""
        samp AS (SELECT vec_id, embedding,
                        row_number() OVER (ORDER BY h, vec_id) - 1 AS code
                 FROM (SELECT vec_id, embedding,
                              ${DetHash.sqlHash52("vec_id::VARCHAR")} AS h
                       FROM embeddings ORDER BY h, vec_id LIMIT 16)),
        cb AS (SELECT j.range AS subspace, s.code,
                      [x::DOUBLE for x in s.embedding[(j.range * 8 + 1)::INT:(j.range * 8 + 8)::INT]] AS centroid
               FROM samp s, range(0, 8) j),
        sub AS (SELECT e.vec_id, j.range AS subspace,
                       [x::DOUBLE for x in e.embedding[(j.range * 8 + 1)::INT:(j.range * 8 + 8)::INT]] AS sv
                FROM embeddings e, range(0, 8) j),
        dist AS (SELECT s.vec_id, s.subspace, c.code,
                        round(list_sum([(s.sv[t::INT] - c.centroid[t::INT])
                                        * (s.sv[t::INT] - c.centroid[t::INT])
                                        for t in range(1, 9)]), 4) AS d
                 FROM sub s JOIN cb c USING (subspace)),
        enc AS (SELECT vec_id, subspace, code FROM (
                  SELECT vec_id, subspace, code, row_number() OVER (
                    PARTITION BY vec_id, subspace ORDER BY d, code) AS r
                  FROM dist) WHERE r = 1),
        plut AS (SELECT p.vec_id AS probe_id, c.subspace, c.code,
                        round(list_sum([p.sv[t::INT] * c.centroid[t::INT]
                                        for t in range(1, 9)]), 4) AS part
                 FROM sub p JOIN cb c USING (subspace) WHERE p.vec_id < 20)"""

  /** Shared IVF probe/rank oracle tail (probes vec_id < 20, nProbe = 2,
    * k = 3) appended after [[ivfCte]] — q47 (inline plan) and q72
    * (persisted index) intentionally verify against the byte-identical
    * SQL, so a tweak here reaches both. */
  private val ivfProbeSql = """
        probec AS (SELECT vec_id AS probe_id, cell_id FROM (
                     SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                     FROM csim WHERE vec_id < 20) WHERE r <= 2),
        cand AS (SELECT p.probe_id, a.vec_id AS neighbor_id
                 FROM probec p JOIN assigned a ON a.cell_id = p.cell_id
                 WHERE a.vec_id <> p.probe_id),
        d AS (SELECT c.probe_id, c.neighbor_id, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.probe_id
              JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.i = va.i
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** Shared IVF-PQ oracle (probes vec_id < 20, nProbe = 2, k = 3):
    * q47's assignment CTEs composed with q97's PQ CTEs. q98 (inline
    * plan) and q104 (persisted index) intentionally verify against the
    * byte-identical SQL — the ivfProbeSql pattern that already pins
    * q47 vs q72. */
  private val ivfPqScoreCtes = s"""
        WITH $ivfCte,
        probec AS (SELECT vec_id AS probe_id, cell_id FROM (
                     SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                     FROM csim WHERE vec_id < 20) WHERE r <= 2),
        $pqCte,
        cand AS (SELECT p.probe_id, a.vec_id AS neighbor_id
                 FROM probec p JOIN assigned a ON a.cell_id = p.cell_id
                 WHERE a.vec_id <> p.probe_id),
        score AS (SELECT c.probe_id, c.neighbor_id,
                         round(sum(l.part), 4) AS score
                  FROM cand c
                  JOIN enc e ON e.vec_id = c.neighbor_id
                  JOIN plut l ON l.probe_id = c.probe_id
                             AND l.subspace = e.subspace AND l.code = e.code
                  GROUP BY 1, 2)"""

  private val ivfPqSql = s"""$ivfPqScoreCtes
        SELECT probe_id, neighbor_id, score, rank FROM (
          SELECT probe_id, neighbor_id, score, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
          FROM score)
        WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** Shared refined-residual IVF-PQ oracle (probes vec_id < 20,
    * nProbe = 2, m = 8, ksub = 16, k = 3): ivfCte's seed assignment +
    * q48's Lloyd CTE + re-assignment against the refined cells + the
    * q99 residual tail over them. q106 (inline plan) and q108
    * (persisted index) intentionally verify against the byte-identical
    * SQL — the ivfProbeSql/ivfPqSql pattern. */
  private val refinedResidualSql = s"""
        WITH $ivfCte,
        rc AS (SELECT a.cell_id, v.i, round(avg(v.x), 6) AS x
               FROM assigned a JOIN v ON v.vec_id = a.vec_id GROUP BY 1, 2),
        rcn AS (SELECT cell_id, sqrt(sum(x * x)) AS nrm FROM rc GROUP BY cell_id),
        rdot AS (SELECT v.vec_id, c.cell_id, sum(v.x * c.x) AS dot
                 FROM v JOIN rc c ON c.i = v.i GROUP BY 1, 2),
        rsim AS (SELECT d.vec_id, d.cell_id,
                        round(d.dot / (n.nrm * rn.nrm), 4) AS sim
                 FROM rdot d
                 JOIN n ON n.vec_id = d.vec_id
                 JOIN rcn rn ON rn.cell_id = d.cell_id),
        rassigned AS (SELECT vec_id, cell_id FROM (
                        SELECT vec_id, cell_id, row_number() OVER (
                          PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                        FROM rsim) WHERE r = 1),
        rprobec AS (SELECT vec_id AS probe_id, cell_id FROM (
                      SELECT vec_id, cell_id, row_number() OVER (
                        PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                      FROM rsim WHERE vec_id < 20) WHERE r <= 2),
        $pqCte,
        cvec AS (SELECT cell_id, list(x ORDER BY i) AS cev FROM rc GROUP BY cell_id),
        csub AS (SELECT cell_id, j.range AS subspace,
                        cev[(j.range * 8 + 1)::INT:(j.range * 8 + 8)::INT] AS cs
                 FROM cvec, range(0, 8) j),
        rsub AS (SELECT s.vec_id, s.subspace,
                        [s.sv[t::INT] - c.cs[t::INT] for t in range(1, 9)] AS rv
                 FROM sub s
                 JOIN rassigned a ON a.vec_id = s.vec_id
                 JOIN csub c ON c.cell_id = a.cell_id AND c.subspace = s.subspace),
        rcb AS (SELECT r.subspace, sm.code, r.rv AS centroid
                FROM rsub r JOIN samp sm ON sm.vec_id = r.vec_id),
        rdist AS (SELECT r.vec_id, r.subspace, c.code,
                         round(list_sum([(r.rv[t::INT] - c.centroid[t::INT])
                                         * (r.rv[t::INT] - c.centroid[t::INT])
                                         for t in range(1, 9)]), 4) AS d
                  FROM rsub r JOIN rcb c USING (subspace)),
        renc AS (SELECT vec_id, subspace, code FROM (
                   SELECT vec_id, subspace, code, row_number() OVER (
                     PARTITION BY vec_id, subspace ORDER BY d, code) AS r
                   FROM rdist) WHERE r = 1),
        rplut AS (SELECT p.vec_id AS probe_id, c.subspace, c.code,
                         round(list_sum([p.sv[t::INT] * c.centroid[t::INT]
                                         for t in range(1, 9)]), 4) AS part
                  FROM sub p JOIN rcb c USING (subspace) WHERE p.vec_id < 20),
        cdotc AS (SELECT pv.vec_id AS probe_id, c.cell_id,
                         round(sum(pv.x * c.x), 4) AS cd
                  FROM v pv JOIN rc c ON c.i = pv.i
                  WHERE pv.vec_id < 20 GROUP BY 1, 2),
        cand AS (SELECT p.probe_id, p.cell_id, a.vec_id AS neighbor_id
                 FROM rprobec p JOIN rassigned a ON a.cell_id = p.cell_id
                 WHERE a.vec_id <> p.probe_id),
        score AS (SELECT c.probe_id, c.neighbor_id,
                         round(max(d.cd) + sum(l.part), 4) AS score
                  FROM cand c
                  JOIN cdotc d ON d.probe_id = c.probe_id AND d.cell_id = c.cell_id
                  JOIN renc e ON e.vec_id = c.neighbor_id
                  JOIN rplut l ON l.probe_id = c.probe_id
                             AND l.subspace = e.subspace AND l.code = e.code
                  GROUP BY 1, 2)
        SELECT probe_id, neighbor_id, score, rank FROM (
          SELECT probe_id, neighbor_id, score, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
          FROM score)
        WHERE rank <= 3 ORDER BY probe_id, rank"""

  /** Memoized persisted-index build — the q72 discipline, shared by
    * every persisted-ANN query (q72/q104/q108). Memo key = sanitized
    * sf dir + embeddings.parquet mtime: a regenerated source table
    * (new mtime) forces a rebuild instead of silently probing a stale
    * index, and the mtime disambiguates any dirs the sanitizer would
    * collide. The index meta file, written LAST by
    * [[Similarity.ivfWrite]], proves a complete build; `build` runs at
    * most once per memo key, under the registry lock so concurrent
    * query runs don't race the write. Returns the loaded index. */
  private def memoizedIndex(s: SparkSession, dir: String, name: String)
      (build: String => Unit): Similarity.IvfIndex = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val stamp = new java.io.File(dir, "embeddings.parquet").lastModified()
    require(stamp > 0, s"$dir/embeddings.parquet is missing — a 0 mtime " +
      "would memo-collide every nonexistent source onto one stale index")
    val idx = new java.io.File(
      new java.io.File(sys.props("user.dir"), "target"),
      s"${name}_${tag}_$stamp").getAbsolutePath
    ExtensionQueries.synchronized {
      if (!new java.io.File(idx, Similarity.IvfMetaFile).exists()) build(idx)
    }
    Similarity.ivfLoad(s, idx)
  }

  /** The IVF queries' shared shape: 16 cells over the embeddings —
    * the deterministic seed sample, or one Lloyd step over it (q48) —
    * probed by vec_id < 20 at nProbe = 2, k = 3; PQ at m = 8, ksub = 16. */
  private def seed(emb: DataFrame) =
    Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
  private def refined(emb: DataFrame) = Similarity.ivfRefine(
    Similarity.ivfAssign(emb, "vec_id", "embedding", seed(emb)), "embedding")
  private def build(emb: DataFrame, centroids: DataFrame,
      codec: Similarity.IvfCodec, filterCol: Option[String] = None) =
    Similarity.ivfBuild(emb, "vec_id", "embedding", centroids, codec, filterCol)
  private def search(ix: Similarity.IvfIndex, emb: DataFrame,
      filterCol: Option[String] = None,
      rerank: Option[Similarity.IvfRerank] = None) =
    Similarity.ivfSearch(ix, emb.filter(col("vec_id") < 20), k = 3,
      nProbe = 2, filterCol, rerank).orderBy("probe_id", "rank")
  private val (raw, pq, pqResidual) = (Similarity.IvfCodec.Raw,
    Similarity.IvfCodec.Pq(m = 8, ksub = 16),
    Similarity.IvfCodec.Pq(m = 8, ksub = 16, residual = true))

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------
    // Similarity search: brute-force cosine top-k
    // ---------------------------------------------------------------
    Q("q35_cosine_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding)::DOUBLE AS x
                   FROM embeddings),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        d AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
              FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id <> a.vec_id
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 5 ORDER BY probe_id, rank""")),

    // ---------------------------------------------------------------
    // Similarity: embedding-cosine near-dup pairs via banded RP-LSH —
    // 4 bands x 8 sign-bits; candidates are an equi-join on
    // (band, bucket), exact cosine verifies candidates only. The
    // oracle mirrors the exact same candidate generation (weights are
    // md5-derived so both engines compute identical planes); the
    // all-pairs form survives as Similarity.nearDupPairs for small
    // data. Recall vs all-pairs follows the banding formula
    // (Similarity scaladoc) and is pinned by SimilaritySpec.
    // ---------------------------------------------------------------
    Q("q36_embed_near_dup",
      (s, dir) => Similarity.nearDupPairsLsh(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          minSim = 0.45, bands = 4, rowsPerBand = 8, dim = 64)
        .orderBy("id_a", "id_b"),
      Some("""
        WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding)::DOUBLE AS x
                   FROM embeddings),
        w AS (SELECT b.range AS b, d.range AS d,
                     ((('0x' || substr(md5('rp-' || b.range::VARCHAR || '-' || d.range::VARCHAR), 1, 13))::BIGINT
                       % 2001) - 1000)::DOUBLE AS wt
              FROM range(0, 32) b, range(0, 64) d),
        proj AS (SELECT v.vec_id, w.b, sum(w.wt * v.x) AS p
                 FROM v JOIN w ON w.d = v.i - 1 GROUP BY 1, 2),
        bkt AS (SELECT vec_id, b // 8 AS band,
                       sum(CASE WHEN p >= 0 THEN (1::BIGINT << (7 - (b % 8))::INT)
                                ELSE 0::BIGINT END) AS bucket
                FROM proj GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM bkt a JOIN bkt b
                   ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        d AS (SELECT c.id_a, c.id_b, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.id_a
              JOIN v vb ON vb.vec_id = c.id_b AND vb.i = va.i
              GROUP BY 1, 2)
        SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS sim
        FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
        WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.45
        ORDER BY id_a, id_b"""),
      "banded RP-LSH candidates + exact-cosine verify (equi-join, no n^2 product)"),

    // ---------------------------------------------------------------
    // Similarity: random-hyperplane LSH ANN
    // ---------------------------------------------------------------
    Q("q37_ann_lsh",
      (s, dir) => Similarity.annTopK(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3, nBits = 8, dim = 64,
          probeFilter = col("vec_id") < 20, nTables = 2)
        .orderBy("probe_id", "rank"),
      Some("""
        WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding)::DOUBLE AS x
                   FROM embeddings),
        w AS (SELECT b.range AS b, d.range AS d,
                     ((('0x' || substr(md5('rp-' || b.range::VARCHAR || '-' || d.range::VARCHAR), 1, 13))::BIGINT
                       % 2001) - 1000)::DOUBLE AS wt
              FROM range(0, 16) b, range(0, 64) d),
        proj AS (SELECT v.vec_id, w.b, sum(w.wt * v.x) AS p
                 FROM v JOIN w ON w.d = v.i - 1 GROUP BY 1, 2),
        bkt AS (SELECT vec_id, b // 8 AS table_id,
                       sum(CASE WHEN p >= 0 THEN (1::BIGINT << (7 - (b % 8))::INT)
                                ELSE 0::BIGINT END) AS bucket
                FROM proj GROUP BY 1, 2),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        cand AS (SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id
                 FROM bkt a JOIN bkt b
                   ON a.table_id = b.table_id AND a.bucket = b.bucket
                  AND a.vec_id < 20 AND b.vec_id <> a.vec_id),
        d AS (SELECT c.probe_id, c.neighbor_id, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.probe_id
              JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.i = va.i
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "multi-table RP-LSH ANN: equi-join on (table, bucket); compact array-literal projections"),

    // ---------------------------------------------------------------
    // Similarity: IVF-Flat ANN — deterministic centroid seed, map-side
    // (broadcast-packed) assignment and probe fan-out, candidates via
    // ONE equi-join on cell_id. The only corpus-sized shuffle in the
    // pipeline; the IVF counterpart to q37's LSH scale path.
    // ---------------------------------------------------------------
    Q("q47_ivf_ann",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, seed(emb), raw), emb)
      },
      Some(s"WITH $ivfCte, $ivfProbeSql"),
      "IVF-Flat ANN: broadcast-packed centroids, map-side assign, cell equi-join"),

    // ---------------------------------------------------------------
    // Similarity: one Lloyd refinement step over the IVF assignment —
    // element-wise mean per cell, verified component-by-component
    // (posexplode on the Spark side so array reassembly order is
    // checked too).
    // ---------------------------------------------------------------
    Q("q48_ivf_refine",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
        Similarity.ivfRefine(
            Similarity.ivfAssign(emb, "vec_id", "embedding", cents), "embedding")
          .select(col("cell_id"), posexplode(col("centroid")).as(Seq("i", "x")))
          .orderBy("cell_id", "i")
      },
      Some(s"""
        WITH $ivfCte
        SELECT a.cell_id, (v.i - 1)::INT AS i, round(avg(v.x), 6) AS x
        FROM assigned a JOIN v ON v.vec_id = a.vec_id
        GROUP BY 1, 2 ORDER BY cell_id, i"""),
      "Lloyd step: posexplode -> avg per (cell, component) -> ordered reassemble"),

    // ---------------------------------------------------------------
    // Similarity: the PERSISTED IVF index lifecycle — build once
    // (memoized per sf dir, like q53's bucketed tables), probe many.
    // Probing loads centroids + cell-partitioned inverted lists from
    // parquet; results must equal q47's inline plan, so the oracle is
    // the SAME ivfCte SQL.
    // ---------------------------------------------------------------
    Q("q72_ivf_index_probe",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(memoizedIndex(s, dir, "graft_ivfix_raw") { p =>
          Similarity.ivfWrite(build(emb, seed(emb), raw), p)
        }, emb)
      },
      Some(s"WITH $ivfCte, $ivfProbeSql"),
      "persisted IVF index probe == inline IVF; cells partition-pruned at read"),

    // ---------------------------------------------------------------
    // Int8-quantized ANN: per-vector max-abs/127 scalar quantization
    // (the 4× storage rung under IVF), then brute-force cosine on the
    // QUANTIZED vectors — scales cancel, int8 dots are exact in
    // doubles, so the oracle reproduces every similarity bit-exactly
    // whatever the accumulation order (stronger than the float paths,
    // which lean on round(4)).
    // ---------------------------------------------------------------
    Q("q79_quantized_ann",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", k = 5)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH sc AS (SELECT vec_id,
                           list_max([abs(x::DOUBLE) for x in embedding]) / 127.0 AS s
                    FROM embeddings),
        q AS (SELECT e.vec_id,
                     CASE WHEN sc.s = 0 THEN [0 for x in e.embedding]
                          ELSE [round(x::DOUBLE / sc.s)::INT for x in e.embedding]
                     END AS qv
              FROM embeddings e JOIN sc USING (vec_id)),
        v AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv)::DOUBLE AS x
              FROM q),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        d AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
              FROM v a JOIN v b ON a.i = b.i AND a.vec_id < 20 AND b.vec_id <> a.vec_id
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS qsim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, qsim, rank FROM s
        WHERE rank <= 5 ORDER BY probe_id, rank"""),
      "int8 scalar quantization; scales cancel in cosine; exact integer dots"),

    // ---------------------------------------------------------------
    // SemDeDup-style semantic dedup: within-IVF-cell cosine pruning,
    // senior-keeper rule. The oracle rebuilds the same deterministic
    // centroids, the same argmax assignment, every within-cell pair's
    // rounded cosine, and the same anti-join.
    // ---------------------------------------------------------------
    Q("q96_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          nCells = 16, minSim = 0.45)
        .orderBy("vec_id"),
      Some(s"""
        WITH $ivfCte,
        pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                  FROM assigned a JOIN assigned b
                    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
        pd AS (SELECT p.ia, p.ib, sum(va.x * vb.x) AS dot
               FROM pairs p
               JOIN v va ON va.vec_id = p.ia
               JOIN v vb ON vb.vec_id = p.ib AND vb.i = va.i
               GROUP BY 1, 2),
        ps AS (SELECT pd.ia, pd.ib,
                      round(pd.dot / (na.nrm * nb.nrm), 4) AS sim
               FROM pd
               JOIN n na ON na.vec_id = pd.ia
               JOIN n nb ON nb.vec_id = pd.ib),
        dropped AS (SELECT DISTINCT ib FROM ps WHERE sim >= 0.45)
        SELECT a.vec_id, a.cell_id
        FROM assigned a LEFT JOIN dropped d ON d.ib = a.vec_id
        WHERE d.ib IS NULL ORDER BY a.vec_id"""),
      "SemDeDup: cell-bucketed cosine pruning, senior keeper, no all-pairs"),

    // ---------------------------------------------------------------
    // Product quantization + asymmetric-distance search: 64 floats →
    // 8 one-byte codes (32×), probe builds an m×ksub dot-product LUT,
    // corpus rows score as m table lookups — never decoded. The oracle
    // rebuilds the deterministic codebooks, every argmin assignment,
    // the probe LUTs, and the summed scores.
    // ---------------------------------------------------------------
    Q("q97_pq_adc_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
        val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8, ksub = 16)
        Similarity.pqTopK(codes, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", cb, m = 8, ksub = 16, k = 3)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH $pqCte,
        score AS (SELECT l.probe_id, e.vec_id AS neighbor_id,
                         round(sum(l.part), 4) AS score
                  FROM enc e
                  JOIN plut l ON l.subspace = e.subspace AND l.code = e.code
                  WHERE e.vec_id <> l.probe_id
                  GROUP BY 1, 2)
        SELECT probe_id, neighbor_id, score, rank FROM (
          SELECT probe_id, neighbor_id, score, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
          FROM score)
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "PQ + ADC: 32x-compressed codes, LUT scoring, corpus never decoded"),

    // ---------------------------------------------------------------
    // IVF-PQ composition: PQ codes living in IVF cell-partitioned
    // inverted lists; a probe ADC-scores only its nProbe cells'
    // candidates. The oracle composes the q47 assignment CTEs with the
    // q97 PQ CTEs — both already independently oracle-pinned.
    // ---------------------------------------------------------------
    Q("q98_ivf_pq_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, seed(emb), pq), emb)
      },
      Some(ivfPqSql),
      "IVF-PQ: compressed inverted lists, probe touches nProbe cells only"),

    // ---------------------------------------------------------------
    // Persisted IVF-PQ index: the q72 lifecycle at the q98 layout —
    // codes live IN the cell partitions; a probe reads centroids +
    // codebooks (tiny) and only its probed cells' code partitions.
    // Raw vectors are never stored, never read. Same byte-identical
    // oracle as q98: persisted == inline.
    // ---------------------------------------------------------------
    Q("q104_ivf_pq_index_probe",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(memoizedIndex(s, dir, "graft_ivfix_pq") { p =>
          Similarity.ivfWrite(build(emb, seed(emb), pq), p)
        }, emb)
      },
      Some(ivfPqSql),
      "persisted IVF-PQ index probe == inline IVF-PQ; raw vectors never stored"),

    // ---------------------------------------------------------------
    // Residual IVF-PQ (classical FAISS encoding): PQ codes quantize
    // v − centroid(cell); score = exact probe·centroid + residual ADC.
    // The oracle derives residual subvectors from the assignment CTEs,
    // rebuilds the residual codebooks/codes/LUTs, and adds the
    // centroid dot per probed cell.
    // ---------------------------------------------------------------
    Q("q99_ivf_pq_residual",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, seed(emb), pqResidual), emb)
      },
      Some(s"""
        WITH $ivfCte,
        probec AS (SELECT vec_id AS probe_id, cell_id FROM (
                     SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                     FROM csim WHERE vec_id < 20) WHERE r <= 2),
        $pqCte,
        cvec AS (SELECT cell_id, list(x ORDER BY i) AS cev FROM cv GROUP BY cell_id),
        csub AS (SELECT cell_id, j.range AS subspace,
                        cev[(j.range * 8 + 1)::INT:(j.range * 8 + 8)::INT] AS cs
                 FROM cvec, range(0, 8) j),
        rsub AS (SELECT s.vec_id, s.subspace,
                        [s.sv[t::INT] - c.cs[t::INT] for t in range(1, 9)] AS rv
                 FROM sub s
                 JOIN assigned a ON a.vec_id = s.vec_id
                 JOIN csub c ON c.cell_id = a.cell_id AND c.subspace = s.subspace),
        rcb AS (SELECT r.subspace, sm.code, r.rv AS centroid
                FROM rsub r JOIN samp sm ON sm.vec_id = r.vec_id),
        rdist AS (SELECT r.vec_id, r.subspace, c.code,
                         round(list_sum([(r.rv[t::INT] - c.centroid[t::INT])
                                         * (r.rv[t::INT] - c.centroid[t::INT])
                                         for t in range(1, 9)]), 4) AS d
                  FROM rsub r JOIN rcb c USING (subspace)),
        renc AS (SELECT vec_id, subspace, code FROM (
                   SELECT vec_id, subspace, code, row_number() OVER (
                     PARTITION BY vec_id, subspace ORDER BY d, code) AS r
                   FROM rdist) WHERE r = 1),
        rplut AS (SELECT p.vec_id AS probe_id, c.subspace, c.code,
                         round(list_sum([p.sv[t::INT] * c.centroid[t::INT]
                                         for t in range(1, 9)]), 4) AS part
                  FROM sub p JOIN rcb c USING (subspace) WHERE p.vec_id < 20),
        cdotc AS (SELECT pv.vec_id AS probe_id, c.cell_id,
                         round(sum(pv.x * c.x), 4) AS cd
                  FROM v pv JOIN cv c ON c.i = pv.i
                  WHERE pv.vec_id < 20 GROUP BY 1, 2),
        cand AS (SELECT p.probe_id, p.cell_id, a.vec_id AS neighbor_id
                 FROM probec p JOIN assigned a ON a.cell_id = p.cell_id
                 WHERE a.vec_id <> p.probe_id),
        score AS (SELECT c.probe_id, c.neighbor_id,
                         round(max(d.cd) + sum(l.part), 4) AS score
                  FROM cand c
                  JOIN cdotc d ON d.probe_id = c.probe_id AND d.cell_id = c.cell_id
                  JOIN renc e ON e.vec_id = c.neighbor_id
                  JOIN rplut l ON l.probe_id = c.probe_id
                             AND l.subspace = e.subspace AND l.code = e.code
                  GROUP BY 1, 2)
        SELECT probe_id, neighbor_id, score, rank FROM (
          SELECT probe_id, neighbor_id, score, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
          FROM score)
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "residual IVF-PQ: exact centroid dot + residual ADC, the FAISS encoding"),

    // ---------------------------------------------------------------
    // Residual IVF-PQ over LLOYD-REFINED centroids — the composition
    // that makes residual coding actually work. The RecallSweep
    // measurement exposed that q99's sampled corpus-point centroids
    // invert residual coding's premise on unit-norm embeddings: the
    // residual v − c has norm sqrt(2 − 2cos) ≈ 1.24 > ||v|| = 1, so
    // coding the residual is HARDER than coding the vector (recall@10
    // 0.024 vs direct IVF-PQ's 0.122). One ivfRefine step (cell means,
    // q48) shrinks mean residual norm to ≈ 0.97 and refined-residual
    // recall to 0.138 — the classical FAISS ordering restored. Oracle:
    // ivfCte (seed assignment) + q48's Lloyd CTE + re-assignment
    // against the refined cells + q99's residual tail over them.
    // ---------------------------------------------------------------
    Q("q106_ivf_pq_residual_refined",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, refined(emb), pqResidual), emb)
      },
      Some(refinedResidualSql),
      "residual IVF-PQ over Lloyd-refined cells: residuals concentrate, recall recovers"),

    // ---------------------------------------------------------------
    // Trained flat PQ: one Lloyd refinement step per SUBSPACE over the
    // sampled codebooks (the q48 move applied to PQ), then encode and
    // ADC-score with the refined grid. Training is SAMPLE-BOUNDED
    // (trainCap=256 in deterministic hash order — the FAISS discipline:
    // refinement touches a fixed sample, encode touches the corpus);
    // recall is within noise of full-corpus training (0.132 vs 0.131
    // @m=8 sf0.1, RecallSweep/SCALING.md) while the training pass stops
    // scaling with data. Codes that lost all members keep their seed
    // centroid so the m×ksub grid stays complete. Oracle: q97's CTEs +
    // the same hash-ordered 256-row `tr` sample + avg-per-(subspace,
    // code, component) + re-encode.
    // ---------------------------------------------------------------
    Q("q107_pq_trained_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cb0 = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16)
        // trainCap binds at EVERY sf (256 < 500-row sf0.001 corpus): the
        // sampled training path is what the oracle certifies, and the
        // refinement pass cost is fixed while encode scales with corpus
        val cb = Similarity.pqRefineCodebooks(emb, "vec_id", "embedding",
          cb0, m = 8, ksub = 16, trainCap = 256)
        val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8, ksub = 16)
        Similarity.pqTopK(codes, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", cb, m = 8, ksub = 16, k = 3)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH $pqCte,
        tr AS (SELECT vec_id FROM (
                 SELECT vec_id, ${DetHash.sqlHash52("vec_id::VARCHAR")} AS h
                 FROM embeddings ORDER BY h, vec_id LIMIT 256)),
        memb AS (SELECT e.vec_id, e.subspace, e.code,
                        generate_subscripts(s.sv, 1) AS i, unnest(s.sv) AS x
                 FROM enc e JOIN sub s
                   ON s.vec_id = e.vec_id AND s.subspace = e.subspace
                 JOIN tr ON tr.vec_id = e.vec_id),
        ravg AS (SELECT subspace, code, i, round(avg(x), 6) AS x
                 FROM memb GROUP BY 1, 2, 3),
        rgrid AS (SELECT subspace, code, list(x ORDER BY i) AS centroid
                  FROM ravg GROUP BY 1, 2),
        rcb AS (SELECT c.subspace, c.code,
                       coalesce(g.centroid, c.centroid) AS centroid
                FROM cb c LEFT JOIN rgrid g USING (subspace, code)),
        rdist AS (SELECT s.vec_id, s.subspace, c.code,
                         round(list_sum([(s.sv[t::INT] - c.centroid[t::INT])
                                         * (s.sv[t::INT] - c.centroid[t::INT])
                                         for t in range(1, 9)]), 4) AS d
                  FROM sub s JOIN rcb c USING (subspace)),
        renc AS (SELECT vec_id, subspace, code FROM (
                   SELECT vec_id, subspace, code, row_number() OVER (
                     PARTITION BY vec_id, subspace ORDER BY d, code) AS r
                   FROM rdist) WHERE r = 1),
        rplut AS (SELECT p.vec_id AS probe_id, c.subspace, c.code,
                         round(list_sum([p.sv[t::INT] * c.centroid[t::INT]
                                         for t in range(1, 9)]), 4) AS part
                  FROM sub p JOIN rcb c USING (subspace) WHERE p.vec_id < 20),
        score AS (SELECT l.probe_id, e.vec_id AS neighbor_id,
                         round(sum(l.part), 4) AS score
                  FROM renc e
                  JOIN rplut l ON l.subspace = e.subspace AND l.code = e.code
                  WHERE e.vec_id <> l.probe_id
                  GROUP BY 1, 2)
        SELECT probe_id, neighbor_id, score, rank FROM (
          SELECT probe_id, neighbor_id, score, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rank
          FROM score)
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "trained PQ: one Lloyd step per subspace over the sampled codebooks, then ADC"),

    // ---------------------------------------------------------------
    // Persisted RESIDUAL IVF-PQ index over refined centroids — the
    // classical FAISS production layout persisted: cell partitions
    // hold m-byte codes of v − centroid(cell(v)), centroids are Lloyd
    // cell means, raw vectors never stored. The codec lives in the
    // index meta, so a probe cannot score residual codes as direct
    // ones. Same byte-identical oracle as q106: persisted == inline.
    // ---------------------------------------------------------------
    Q("q108_ivf_pq_residual_index_probe",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(memoizedIndex(s, dir, "graft_ivfix_pqres") { p =>
          Similarity.ivfWrite(build(emb, refined(emb), pqResidual), p)
        }, emb)
      },
      Some(refinedResidualSql),
      "persisted residual IVF-PQ index probe == inline refined-residual (q106)"),

    // ---------------------------------------------------------------
    // Attribute-filtered exact ANN: nearest neighbors constrained to
    // the probe's own label — the metadata-filtered vector search
    // every curation pipeline runs (same-language near-dups, same-
    // source retrieval). The constraint is the JOIN KEY, not a
    // post-filter: candidates are corpus ⋈ probes ON label, so
    // non-matching rows are never scored and k never under-fills.
    // ---------------------------------------------------------------
    Q("q109_filtered_ann",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", "label", k = 3)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding)::DOUBLE AS x
                   FROM embeddings),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        cand AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id
                 FROM embeddings p JOIN embeddings e
                   ON e.label = p.label AND e.vec_id <> p.vec_id
                 WHERE p.vec_id < 20),
        d AS (SELECT c.probe_id, c.neighbor_id, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.probe_id
              JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.i = va.i
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "metadata-filtered exact top-k: the predicate is the candidate join key"),

    // ---------------------------------------------------------------
    // Attribute-filtered IVF ANN: the same constraint pushed into the
    // inverted-list candidate join — candidates match on
    // (cell_id, label), so filtered-out rows never leave their scan.
    // At 100 TB this touches only the matching slice of each probed
    // cell instead of scoring everything and discarding 90%.
    // ---------------------------------------------------------------
    Q("q110_filtered_ivf_ann",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, seed(emb), raw, Some("label")), emb,
          filterCol = Some("label"))
      },
      Some(s"""
        WITH $ivfCte,
        probec AS (SELECT vec_id AS probe_id, cell_id FROM (
                     SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS r
                     FROM csim WHERE vec_id < 20) WHERE r <= 2),
        cand AS (SELECT p.probe_id, a.vec_id AS neighbor_id
                 FROM probec p
                 JOIN assigned a ON a.cell_id = p.cell_id
                 JOIN embeddings ea ON ea.vec_id = a.vec_id
                 JOIN embeddings ep ON ep.vec_id = p.probe_id
                                   AND ep.label = ea.label
                 WHERE a.vec_id <> p.probe_id),
        d AS (SELECT c.probe_id, c.neighbor_id, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.probe_id
              JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.i = va.i
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "filtered IVF: candidates equi-join on (cell_id, label), never post-filtered"),

    // ---------------------------------------------------------------
    // Two-stage IVF-PQ search — ADC shortlist (q98's compressed scan,
    // rank <= 10) then EXACT cosine re-ranking of only the shortlist,
    // joined back to the raw corpus by id. The production recall
    // recipe: corpus-wide cost stays m bytes/vector, exact-distance
    // work scales with |probes|×shortlist, recall climbs toward
    // IVF-Flat at the same nProbe (RecallSweep measures the curve).
    // ---------------------------------------------------------------
    Q("q111_ivf_pq_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        search(build(emb, seed(emb), pq), emb,
          rerank = Some(Similarity.IvfRerank(shortlist = 10, corpus = emb)))
      },
      Some(s"""$ivfPqScoreCtes,
        short AS (SELECT probe_id, neighbor_id FROM (
                    SELECT probe_id, neighbor_id, row_number() OVER (
                      PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS r
                    FROM score) WHERE r <= 10),
        rd AS (SELECT s.probe_id, s.neighbor_id, sum(va.x * vb.x) AS dot
               FROM short s
               JOIN v va ON va.vec_id = s.probe_id
               JOIN v vb ON vb.vec_id = s.neighbor_id AND vb.i = va.i
               GROUP BY 1, 2),
        rs AS (SELECT probe_id, neighbor_id,
                      round(dot / (na.nrm * nb.nrm), 4) AS sim,
                      row_number() OVER (PARTITION BY probe_id
                        ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
               FROM rd
               JOIN n na ON na.vec_id = probe_id
               JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM rs
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "two-stage search: ADC shortlist from compressed lists, exact re-rank on top"),

    // ---------------------------------------------------------------
    // Cross-table filtered ANN — the real production layout: the
    // filter attribute (documents.lang) lives in a DIFFERENT table
    // than the vectors. One metadata equi-join attaches it, then the
    // constraint becomes the candidate join key (q109's rule): at
    // 100 TB the join is one broadcast/shuffle of the metadata
    // columns, and the all-pairs product never materializes — only
    // same-lang pairs do.
    // ---------------------------------------------------------------
    Q("q127_cross_table_filtered_ann",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings").join(
          Tables(s, dir, "documents").select(
            col("doc_id").as("vec_id"), col("lang")), "vec_id")
        Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", "lang", k = 3)
          .orderBy("probe_id", "rank")
      },
      Some("""
        WITH emb AS (SELECT e.vec_id, e.embedding, d.lang
                     FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                     unnest(embedding)::DOUBLE AS x
              FROM emb),
        n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id),
        cand AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id
                 FROM emb p JOIN emb e
                   ON e.lang = p.lang AND e.vec_id <> p.vec_id
                 WHERE p.vec_id < 20),
        d AS (SELECT c.probe_id, c.neighbor_id, sum(va.x * vb.x) AS dot
              FROM cand c
              JOIN v va ON va.vec_id = c.probe_id
              JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.i = va.i
              GROUP BY 1, 2),
        s AS (SELECT probe_id, neighbor_id,
                     round(dot / (na.nrm * nb.nrm), 4) AS sim,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY round(dot / (na.nrm * nb.nrm), 4) DESC, neighbor_id) AS rank
              FROM d
              JOIN n na ON na.vec_id = probe_id
              JOIN n nb ON nb.vec_id = neighbor_id)
        SELECT probe_id, neighbor_id, sim, rank FROM s
        WHERE rank <= 3 ORDER BY probe_id, rank"""),
      "filter attribute joined from documents, then pushed into the candidate equi-join — no all-pairs, no post-filter under-fill")
  )
}
