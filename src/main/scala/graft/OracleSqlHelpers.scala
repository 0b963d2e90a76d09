package graft

/** Shared DuckDB oracle CTE fragments and unrolled-round SQL builders,
  * extended by every Queries* registry slice so entry bodies reference them
  * by bare name exactly as they did inside SparkEntry (pure move). */
private[graft] trait OracleSqlHelpers {
  // ---- shared DuckDB CTE fragments for the embeddings family --------------
  // quantized vectors + exact integer norms (dim = 64 in the test tables)
  protected val sqlVecs =
    """v AS (SELECT vec_id,
              [round(x::DOUBLE * 1000)::BIGINT for x in embedding] AS q,
              list_sum([round(x::DOUBLE * 1000)::BIGINT * round(x::DOUBLE * 1000)::BIGINT
                        for x in embedding]) AS nn
            FROM embeddings)"""
  // multi-table random-hyperplane LSH buckets: bits = smallest b in [4,24]
  // with 2^b*8 >= count(*) (identical integer derivation to
  // Similarity.sizedSignBits); weight(t,j,p) = +1 iff first md5 nibble of
  // "42|t|j|p" is even (identical to Similarity.hyperplanes, seed 42).
  // nTables must match the Spark-side call site: 16 for bucketedTopK; for
  // Dedup.embeddingNearDupPairs the threshold-adaptive default (r6) picks
  // 24 at the suite's θ=0.3 (16 at θ ≥ 0.4).
  protected def sqlLshBuckets(nTables: Int) =
    s"""nb AS (SELECT min(b) AS bits FROM range(4, 25) r(b),
                (SELECT count(*) AS n FROM embeddings) c
              WHERE (1::BIGINT << b) * 8 >= n OR b = 24),
       bk AS (SELECT vec_id, t,
                list_sum([CASE WHEN list_sum([
                    (CASE WHEN (instr('0123456789abcdef',
                         substr(md5(42 || '|' || t || '|' || j || '|' || (p - 1)), 1, 1)) - 1) % 2 = 0
                     THEN 1 ELSE -1 END) * q[p]
                  for p in range(1, 65)]) >= 0 THEN (1::BIGINT << j) ELSE 0 END
                for j in range(0, bits)]) AS bucket
              FROM v, range(0, $nTables) r(t), nb)"""
  // multi-probe query buckets (Lv et al. 2007, = Similarity.multiProbe):
  // each query bucket plus its `bits` Hamming-1 perturbations; pj = 0 is
  // the exact bucket, pj in 1..bits flips sign bit pj-1
  protected val sqlLshProbes =
    """qpb AS (SELECT vec_id, t,
                 CASE WHEN pj = 0 THEN bucket
                      ELSE xor(bucket, 1::BIGINT << (pj - 1)) END AS bucket
               FROM bk, nb, range(0, 25) r(pj)
               WHERE vec_id < 10 AND pj <= nb.bits)"""
  // same expansion over EVERY row (near-dup pair joins probe one whole side)
  protected val sqlLshProbesAll =
    """pb AS (SELECT vec_id, t,
                CASE WHEN pj = 0 THEN bucket
                     ELSE xor(bucket, 1::BIGINT << (pj - 1)) END AS bucket
              FROM bk, nb, range(0, 25) r(pj)
              WHERE pj <= nb.bits)"""
  // sharded-embedding fragments (q115/q117): vv = quantized vectors + norms
  // + the q72 hash-shard; bucket/probe/pair CTE generators parameterized by
  // shard predicate and bits CTE so the delta↔corpus chains stay readable
  protected val sqlEmbVv =
    """vv AS (SELECT vec_id,
              [round(x::DOUBLE * 1000)::BIGINT for x in embedding] AS q,
              list_sum([round(x::DOUBLE * 1000)::BIGINT * round(x::DOUBLE * 1000)::BIGINT
                        for x in embedding]) AS nn,
              (list_sum([ (instr('0123456789abcdef', substr(md5(vec_id::VARCHAR), k, 1)) - 1)
                          * pow(16, 15 - k)::BIGINT for k in range(1, 16)])::BIGINT % 5) AS shard
            FROM embeddings)"""
  protected def sqlEmbBits(cteName: String, shardPred: String) =
    s"""$cteName AS (SELECT min(b) AS bits FROM range(4, 25) r(b),
              (SELECT count(*) AS n FROM vv WHERE $shardPred) c
            WHERE (1::BIGINT << b) * 8 >= n OR b = 24)"""
  protected def sqlEmbShardBuckets(cteName: String, shardPred: String, bitsCte: String) =
    s"""$cteName AS (SELECT vec_id, t,
              list_sum([CASE WHEN list_sum([
                  (CASE WHEN (instr('0123456789abcdef',
                       substr(md5(42 || '|' || t || '|' || j || '|' || (p - 1)), 1, 1)) - 1) % 2 = 0
                   THEN 1 ELSE -1 END) * q[p]
                for p in range(1, 65)]) >= 0 THEN (1::BIGINT << j) ELSE 0 END
              for j in range(0, bits)]) AS bucket
            FROM vv, range(0, 24) r(t), $bitsCte WHERE $shardPred)"""
  protected def sqlEmbProbes(cteName: String, srcCte: String, bitsCte: String) =
    s"""$cteName AS (SELECT vec_id, t,
              CASE WHEN pj = 0 THEN bucket
                   ELSE xor(bucket, 1::BIGINT << (pj - 1)) END AS bucket
            FROM $srcCte, $bitsCte, range(0, 25) r(pj) WHERE pj <= $bitsCte.bits)"""
  protected def sqlEmbPairs(cteName: String, left: String, right: String, cond: String) =
    s"""$cteName AS (SELECT id_a, id_b FROM (
              SELECT cand.id_a, cand.id_b,
                     list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                       / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) AS cosine
              FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM $left a JOIN $right b ON a.t = b.t AND a.bucket = b.bucket
                      AND $cond) cand
              JOIN vv x ON x.vec_id = cand.id_a
              JOIN vv y ON y.vec_id = cand.id_b) t
            WHERE cosine >= 0.3)"""
  // PQ (q118, m=16 subspaces of dsub=4 dims, 64 centroids): one
  // per-subspace Lloyd assignment step — every (doc, sub) to its
  // exact-integer-distance argmin centroid of THAT subspace (ties to the
  // lowest cent_id); the sqlIvfAssign shape with `sub` in the key
  protected def sqlPqAssign(asgName: String, booksName: String): String =
    s"""$asgName AS (SELECT vec_id, sub, code FROM (
          SELECT sv.vec_id, sv.sub, b.cent_id AS code,
                 row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                   ORDER BY sv.svv - 2 * list_sum([p[1] * p[2] for p in list_zip(sv.svc, b.cv)]) + b.cc,
                            b.cent_id) AS cr
          FROM sv JOIN $booksName b ON b.sub = sv.sub) t WHERE cr = 1)"""
  // PQ: one per-subspace Lloyd update step — per (sub, code, dim) rounded
  // integer mean of the assigned sub-vectors; empty codes vanish
  protected def sqlPqUpdate(booksName: String, asgName: String): String =
    s"""$booksName AS (SELECT sub, cent_id, cv, list_sum([x * x for x in cv]) AS cc FROM (
          SELECT sub, code AS cent_id, list(mv ORDER BY spos) AS cv FROM (
            SELECT a.sub, a.code, i AS spos,
                   CAST(round(sum(sv.svc[i])::DOUBLE / count(*)) AS BIGINT) AS mv
            FROM $asgName a JOIN sv ON sv.vec_id = a.vec_id AND sv.sub = a.sub,
                 range(1, 5) r(i)
            GROUP BY a.sub, a.code, i) s GROUP BY sub, cent_id) u)"""
  // IVF: one Lloyd assignment step — every vector to its exact-integer-
  // distance argmin centroid (ties to the lowest cent_id)
  protected def sqlIvfAssign(asgName: String, centsName: String): String =
    s"""$asgName AS (SELECT vec_id, q, nn, cell FROM (
          SELECT v.vec_id, v.q, v.nn, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY v.nn - 2 * list_sum([p[1] * p[2] for p in list_zip(v.q, c.cv)]) + c.cc,
                            c.cent_id) AS cr
          FROM v, $centsName c) t WHERE cr = 1)"""
  // IVF: one Lloyd update step — per-cell, per-dim rounded mean of the
  // quantized components (integer-exact; empty cells vanish)
  protected def sqlIvfUpdate(centsName: String, asgName: String): String =
    s"""$centsName AS (SELECT cent_id, cv, list_sum([x * x for x in cv]) AS cc FROM (
          SELECT cell AS cent_id, list(m ORDER BY i) AS cv FROM (
            SELECT cell, i, CAST(round(sum(q[i])::DOUBLE / count(*)) AS BIGINT) AS m
            FROM $asgName, range(1, 65) r(i) GROUP BY cell, i) s GROUP BY cell) u)"""
  // IVF chain mirroring Similarity.ivfTopK defaults: nCells = max(4,⌈√N⌉),
  // hash-ordered centroid seeding, 4 Lloyd rounds, corpus assigned to its
  // final cell, queries (vec_id < 10) probing their nprobe nearest cells,
  // nprobe = max(min(cells, 32), 2*ceil(sqrt(cells))) (scales with the
  // index — identical derivation to Similarity.ivfTopK). The chain reads
  // whatever CTE is bound to `v`; `countSrc` sizes the cell count from the
  // same corpus (q122 binds v to the shard<>0 slice and counts it).
  protected def sqlIvfChainOver(countSrc: String) =
    s"""nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*)::DOUBLE)) AS INT)) AS cells
               FROM $countSrc),
        c0 AS (SELECT cent_id, cv, cc FROM (
          SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) AS cent_id,
                 q AS cv, nn AS cc
          FROM v) t WHERE cent_id <= (SELECT cells FROM nc)),
        ${sqlIvfAssign("ivf_a1", "c0")},
        ${sqlIvfUpdate("c1", "ivf_a1")},
        ${sqlIvfAssign("ivf_a2", "c1")},
        ${sqlIvfUpdate("c2", "ivf_a2")},
        ${sqlIvfAssign("ivf_a3", "c2")},
        ${sqlIvfUpdate("c3", "ivf_a3")},
        ${sqlIvfAssign("ivf_a4", "c3")},
        ${sqlIvfUpdate("c4", "ivf_a4")},
        ${sqlIvfAssign("ivf_asg", "c4")},
        ivf_q AS (SELECT vec_id, q, nn, cell FROM (
          SELECT v.vec_id, v.q, v.nn, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY v.nn - 2 * list_sum([p[1] * p[2] for p in list_zip(v.q, c.cv)]) + c.cc,
                            c.cent_id) AS cr
          FROM v, c4 c WHERE v.vec_id < 10) t
          WHERE cr <= (SELECT greatest(least(cells, 32), 2 * CAST(ceil(sqrt(cells::DOUBLE)) AS INT))
                       FROM nc))"""
  protected val sqlIvfChain = sqlIvfChainOver("embeddings")
  // PQ sub-vector table (m=16 subspaces of dsub=4 dims) over any
  // (vec_id, <vecCol>) CTE — `sv` feeds the shared Lloyd generators, so
  // the raw chain binds it to (v, q) and the residual chain to (rv, rq)
  protected def sqlPqSubVecs(src: String, vecCol: String) =
    s"""sv AS (SELECT vec_id, s AS sub,
                 [$vecCol[i] for i in range(s * 4 + 1, s * 4 + 5)] AS svc,
                 list_sum([$vecCol[i] * $vecCol[i] for i in range(s * 4 + 1, s * 4 + 5)]) AS svv
               FROM $src, range(0, 16) r(s))"""
  // one hash-ordered 64-doc seed set (from `seedSrc`) supplies every
  // subspace's initial centroids, then 2 per-subspace integer Lloyd rounds
  // over `sv` — the trainPqBooks chain (b2 = final books, af = final codes)
  protected def sqlPqTrainChain(seedSrc: String) =
    s"""sc AS (SELECT cent_id, vec_id FROM (
             SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) AS cent_id, vec_id
             FROM $seedSrc) t WHERE cent_id <= 64),
       b0 AS (SELECT sub, cent_id, svc AS cv, svv AS cc FROM sv JOIN sc USING (vec_id)),
       ${sqlPqAssign("a1", "b0")},
       ${sqlPqUpdate("b1", "a1")},
       ${sqlPqAssign("a2", "b1")},
       ${sqlPqUpdate("b2", "a2")},
       ${sqlPqAssign("af", "b2")}"""
  // corpus residuals against the trained coarse cells (Jégou 2011 §IV-A):
  // rq = q − centroid(cell), exact elementwise integer subtraction
  protected val sqlPqResidualVecs =
    """rv AS (SELECT a.vec_id, [p[1] - p[2] for p in list_zip(a.q, c.cv)] AS rq
              FROM ivf_asg a JOIN c4 c ON c.cent_id = a.cell)"""
  // flat (non-residual) IVF-PQ candidate scoring: per-query LUTs from the
  // raw sub-vectors, probed-cell candidates, ADC dot per (query, nbr).
  // `candWhere` optionally gates candidates (q125's filtered search).
  protected def sqlIvfPqFlatSearchWhere(candWhere: String) =
    s"""qn AS (SELECT vec_id AS query_id, nn FROM v WHERE vec_id < 10),
       lut AS (SELECT sv.vec_id AS query_id, b.sub, b.cent_id AS code,
                      list_sum([p[1] * p[2] for p in list_zip(sv.svc, b.cv)]) AS dot
               FROM sv JOIN b2 b ON b.sub = sv.sub WHERE sv.vec_id < 10),
       cand AS (SELECT iq.vec_id AS query_id, a.vec_id AS nbr_id
                FROM ivf_q iq JOIN ivf_asg a ON a.cell = iq.cell AND a.vec_id <> iq.vec_id
                $candWhere),
       sc2 AS (SELECT cd.query_id, cd.nbr_id, CAST(sum(l.dot) AS BIGINT) AS adc_dot
               FROM cand cd JOIN af a ON a.vec_id = cd.nbr_id
                    JOIN lut l ON l.query_id = cd.query_id AND l.sub = a.sub AND l.code = a.code
               GROUP BY 1, 2)"""
  protected val sqlIvfPqFlatSearch = sqlIvfPqFlatSearchWhere("")
  // residual IVF-PQ candidate scoring: the query's residual against EACH
  // probed cell's centroid feeds a (query, cell)-keyed LUT, and the exact
  // q·centroid base term is added once per candidate, so the ADC dot is
  // q·c + (q − c)·r̂ — all integer-exact (mirrors ivfPqTopKIndexed's
  // residual lookup tables). This is not the inner product q·(c + r̂) =
  // q·c + q·r̂: it differs by −c·r̂ per candidate.
  protected val sqlIvfPqResidualSearch =
    s"""qn AS (SELECT vec_id AS query_id, nn FROM v WHERE vec_id < 10),
       qres AS (SELECT iq.vec_id AS query_id, iq.cell,
                       [p[1] - p[2] for p in list_zip(iq.q, c.cv)] AS rq,
                       list_sum([p[1] * p[2] for p in list_zip(iq.q, c.cv)]) AS qc
                FROM ivf_q iq JOIN c4 c ON c.cent_id = iq.cell),
       qsv AS (SELECT query_id, cell, qc, s AS sub,
                      [rq[i] for i in range(s * 4 + 1, s * 4 + 5)] AS svc
               FROM qres, range(0, 16) r(s)),
       lut AS (SELECT qv.query_id, qv.cell, b.sub, b.cent_id AS code, qv.qc,
                      list_sum([p[1] * p[2] for p in list_zip(qv.svc, b.cv)]) AS dot
               FROM qsv qv JOIN b2 b ON b.sub = qv.sub),
       cand AS (SELECT iq.vec_id AS query_id, a.vec_id AS nbr_id, a.cell
                FROM ivf_q iq JOIN ivf_asg a ON a.cell = iq.cell AND a.vec_id <> iq.vec_id),
       sc2 AS (SELECT cd.query_id, cd.nbr_id,
                      CAST(max(l.qc) + sum(l.dot) AS BIGINT) AS adc_dot
               FROM cand cd JOIN af a ON a.vec_id = cd.nbr_id
                    JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
                      AND l.sub = a.sub AND l.code = a.code
               GROUP BY 1, 2)"""
  // ADC shortlist-50 + exact rerank to top-5 (pr/sl/rr/pq) — the shared
  // two-stage tail over any sc2 (query_id, nbr_id, adc_dot)
  protected val sqlAdcTail =
    s"""pr AS (SELECT query_id, nbr_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_dot::DOUBLE / NULLIF(sqrt(qn.nn::DOUBLE) * sqrt(nb.nn::DOUBLE), 0) DESC,
                                nbr_id) AS srank
              FROM sc2 JOIN qn USING (query_id) JOIN v nb ON nb.vec_id = sc2.nbr_id),
       sl AS (SELECT query_id, nbr_id FROM pr WHERE srank <= 50),
       rr AS (SELECT sl.query_id, sl.nbr_id,
                     list_sum([p[1] * p[2] for p in list_zip(qq.q, v.q)])::DOUBLE
                       / NULLIF(sqrt(qq.nn::DOUBLE) * sqrt(v.nn::DOUBLE), 0) AS cosine
              FROM sl JOIN v qq ON qq.vec_id = sl.query_id
                      JOIN v ON v.vec_id = sl.nbr_id),
       pq AS (SELECT query_id, nbr_id, cosine_micro, rank FROM (
                SELECT query_id, nbr_id,
                       CAST(round(cosine * 1000000) AS BIGINT) AS cosine_micro,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, nbr_id) AS rank
                FROM rr) t WHERE rank <= 5)"""
  // exact brute-force top-5 for the `hit` recall column
  protected val sqlExactTop5 =
    s"""ex AS (SELECT query_id, nbr_id FROM (
                SELECT qq.vec_id AS query_id, v.vec_id AS nbr_id,
                       row_number() OVER (PARTITION BY qq.vec_id
                         ORDER BY list_sum([p[1] * p[2] for p in list_zip(qq.q, v.q)])::DOUBLE
                                  / NULLIF(sqrt(qq.nn::DOUBLE) * sqrt(v.nn::DOUBLE), 0) DESC, v.vec_id) AS rk
                FROM v qq JOIN v ON qq.vec_id < 10 AND v.vec_id <> qq.vec_id) t
              WHERE rk <= 5)"""
  // BM25 top-20 for ('spark','join','window') over the whole documents
  // table — the q92 oracle, and (indexed/extended search being
  // bit-identical) also the q123/q124 oracle
  protected val sqlBm25TopK20 =
    """WITH toks AS (SELECT doc_id,
              unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS token
            FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       corpus AS (SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS TT FROM dl),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
              WHERE token IN ('spark', 'join', 'window') GROUP BY doc_id, token),
       dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       contrib AS (SELECT tf.doc_id,
                          CAST(round(ln(1.0 + (N - df + 0.5) / (df + 0.5)) * tf * 2.2
                               / (tf + 1.2 * (0.25 + 0.75 * dl / (TT::DOUBLE / N))) * 1000000) AS BIGINT) AS c_micro
                   FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), corpus),
       sel AS (SELECT doc_id, count(*) AS n_hit_terms, CAST(sum(c_micro) AS BIGINT) AS score_micro
               FROM contrib GROUP BY doc_id),
       r AS (SELECT doc_id, n_hit_terms, score_micro,
                    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
             FROM sel)
       SELECT doc_id, n_hit_terms, score_micro, rank FROM r WHERE rank <= 20 ORDER BY rank"""

  // BPE training loop, unrolled (q127/q128 — mirrors Bpe.train exactly):
  // w0 = unique normalized words with counts, each char-spaced; per merge
  // i: weighted adjacent-pair counts (bp), the (pc DESC, a, b) argmax (bb),
  // and the greedy fold re-segmentation (w) — DuckDB's list_reduce runs
  // the fold Bpe's encoder applies (append b to a trailing " a" tail, else
  // append " "+x)
  protected val sqlBpeBase =
    """bpwc AS (SELECT token AS word, count(*) AS cnt FROM (
              SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS token
              FROM documents) t WHERE len(token) > 0 GROUP BY 1),
       w0 AS (SELECT word, cnt, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS syms FROM bpwc)"""
  protected def sqlBpeMergeStep(i: Int): String =
    s"""bp$i AS (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS pc
             FROM (SELECT cnt, unnest([[p[1], p[2]] for p in list_zip(sy, sy[2:])]) AS pr
                   FROM (SELECT cnt, string_split(syms, ' ') AS sy FROM w${i - 1}) s) t
             WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
       bb$i AS (SELECT a, b, pc FROM bp$i ORDER BY pc DESC, a, b LIMIT 1),
       w$i AS (SELECT word, cnt, list_reduce(string_split(syms, ' '),
                 (acc, x) -> CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                                  THEN acc || m.b ELSE acc || ' ' || x END) AS syms
               FROM w${i - 1}, bb$i m)"""
  protected def sqlBpeChain(m: Int): String =
    sqlBpeBase + ",\n" + (1 to m).map(sqlBpeMergeStep).mkString(",\n")

  // one MMR greedy round (λ=1/2): max-sim of each unselected candidate to
  // the selected set, then the integer argmax rel_nano − max_sim with the
  // (DESC, nbr_id) tie-break — identical to Similarity.mmrRerank's round
  protected def sqlMmrStep(i: Int): String =
    s"""mmr_ms$i AS (SELECT p.query_id, p.nbr_id, max(p.sim_nano) AS ms
             FROM mmr_pairs p JOIN mmr_sel${i - 1} s
               ON s.query_id = p.query_id AND s.nbr_id = p.other_id
             GROUP BY p.query_id, p.nbr_id),
       mmr_step$i AS (SELECT query_id, nbr_id, CAST($i AS BIGINT) AS mmr_rank FROM (
             SELECT c.query_id, c.nbr_id,
                    row_number() OVER (PARTITION BY c.query_id
                      ORDER BY c.rel_nano - m.ms DESC, c.nbr_id) AS rn
             FROM mmr_cand c
             JOIN mmr_ms$i m ON m.query_id = c.query_id AND m.nbr_id = c.nbr_id
             WHERE NOT EXISTS (SELECT 1 FROM mmr_sel${i - 1} s
                               WHERE s.query_id = c.query_id AND s.nbr_id = c.nbr_id)) t
           WHERE rn = 1),
       mmr_sel$i AS (SELECT query_id, nbr_id, mmr_rank FROM mmr_sel${i - 1}
                     UNION ALL SELECT query_id, nbr_id, mmr_rank FROM mmr_step$i)"""

  protected def sqlMmrChain(k: Int): String =
    """mmr_cand AS (SELECT query_id, nbr_id,
              CAST(round(cosine * 1000000000) AS BIGINT) AS rel_nano
            FROM (SELECT query_id, nbr_id, cosine,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, nbr_id) AS rank
                  FROM (SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                          list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                            / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) AS cosine
                        FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id) t0) t
            WHERE rank <= 20),
       mmr_pairs AS (SELECT a.query_id, a.nbr_id, b.nbr_id AS other_id,
              CAST(round(list_sum([p[1] * p[2] for p in list_zip(x.q, y.q)])::DOUBLE
                / NULLIF(sqrt(x.nn::DOUBLE) * sqrt(y.nn::DOUBLE), 0) * 1000000000) AS BIGINT) AS sim_nano
            FROM mmr_cand a JOIN mmr_cand b
              ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id
            JOIN v x ON x.vec_id = a.nbr_id
            JOIN v y ON y.vec_id = b.nbr_id),
       mmr_sel1 AS (SELECT query_id, nbr_id, CAST(1 AS BIGINT) AS mmr_rank FROM (
              SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel_nano DESC, nbr_id) AS rn
              FROM mmr_cand) t WHERE rn = 1)""" + ",\n" +
      (2 to k).map(sqlMmrStep).mkString(",\n")

  protected val sqlPqHitSelect =
    """SELECT pq.query_id, pq.nbr_id, pq.cosine_micro, pq.rank,
              CAST(CASE WHEN ex.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
       FROM pq LEFT JOIN ex ON ex.query_id = pq.query_id AND ex.nbr_id = pq.nbr_id
       ORDER BY pq.query_id, pq.rank"""
  // LSH top-k candidates for queries vec_id < 10 (multi-probed query buckets
  // against exact corpus buckets; rank over exact cosine)
  protected val sqlLshTopK =
    s"""lsh_k AS (
          SELECT query_id, nbr_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
          FROM (
            SELECT cand.query_id, cand.nbr_id,
                   list_sum([p[1] * p[2] for p in list_zip(qq.q, cc.q)])::DOUBLE
                     / NULLIF(sqrt(qq.nn::DOUBLE) * sqrt(cc.nn::DOUBLE), 0) AS cosine
            FROM (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
                  FROM qpb q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
                  WHERE q.vec_id <> c.vec_id) cand
            JOIN v qq ON qq.vec_id = cand.query_id
            JOIN v cc ON cc.vec_id = cand.nbr_id) s
          QUALIFY rank <= 5)"""
  protected val sqlIvfTopK =
    s"""ivf_k AS (
          SELECT query_id, nbr_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                   list_sum([p[1] * p[2] for p in list_zip(q.q, c.q)])::DOUBLE
                     / NULLIF(sqrt(q.nn::DOUBLE) * sqrt(c.nn::DOUBLE), 0) AS cosine
            FROM ivf_asg c JOIN ivf_q q ON q.cell = c.cell AND q.vec_id <> c.vec_id) s
          QUALIFY rank <= 5)"""

  // full MinHash-LSH pair replay + recursive-CTE reachability closure over
  // the WHOLE corpus — the ground truth for q43 (full recompute), q109
  // (incremental fold), and q223 (component-keyed split). The CTE body is
  // shared (sqlCcClosureCtes) so the three can never drift apart; the
  // q43/q109 tail keeps only non-root (id, component=min reachable) rows.
  protected val sqlCcClosureCtes =
    """WITH RECURSIVE
       w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
       s AS (SELECT doc_id,
                    list_sort(list_distinct([
                      list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                 * pow(16, 15 - k)::BIGINT for k in range(1, 16)])
                      for x in list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                              for i in range(1, len(w) - 1)])])) AS sh
             FROM w),
       s2 AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
       ws AS (SELECT doc_id, unnest(sh)::VARCHAR AS x FROM s2),
       ww AS (SELECT doc_id,
                     list_sum([ (instr('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                                * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w0,
                     list_sum([ (instr('0123456789abcdef', substr(md5(x), k + 8, 1)) - 1)
                                * pow(16, 8 - k)::BIGINT for k in range(1, 9)]) AS w1
              FROM ws),
       sigl AS (SELECT doc_id, i, min((w0 + i * w1) % 2147483647) AS mh
                FROM ww, range(0, 12) r(i) GROUP BY doc_id, i),
       bands AS (SELECT doc_id, i // 3 AS bi,
                        md5(string_agg(mh::VARCHAR, '|' ORDER BY i)) AS bk
                 FROM sigl GROUP BY doc_id, i // 3),
       cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
       pairs AS (SELECT id_a, id_b FROM (
         SELECT c.ia AS id_a, c.ib AS id_b,
                len(list_intersect(x.sh, y.sh))::DOUBLE
                  / (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))) AS jaccard
         FROM cand c JOIN s2 x ON x.doc_id = c.ia JOIN s2 y ON y.doc_id = c.ib) t
         WHERE jaccard >= 0.8),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(a, b) AS (SELECT a, b FROM edges
                       UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

  protected val sqlCcClosure = sqlCcClosureCtes +
    """
       SELECT a AS id, min(b) AS component FROM reach
       GROUP BY a HAVING min(b) < a ORDER BY id"""

  /** DuckDB twin of q93: the same fixed-point micro-unit PageRank unrolled
    * as `iters` chained CTE pairs (contribs, ranks) — every arithmetic step
    * mirrors [[graft.operators.Graph.pageRank]] exactly (BIGINT transfer
    * floors, BIGINT sums, floored base), so the result hash-matches. */
  /** Unrolled synchronous label-propagation rounds over the q131
    * co-purchase graph: each round votes ONLY onto not-yet-labeled nodes
    * and argmaxes by (count DESC, label ASC) — Graph.labelPropagation's
    * label-once frontier, term for term. */
  /** q154 oracle: the q131 co-purchase edge CTE + [[Graph.kCore]]'s peel
    * unrolled round-for-round (degree, survivors, filtered edges). */
  protected def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e0 AS (SELECT p1 AS eu, p2 AS ev FROM pairs
                GROUP BY p1, p2 HAVING count(*) >= 2)"""
    val peel = (1 to rounds).map { i =>
      s""",
         d$i AS (SELECT node, count(*) AS deg FROM (
                 SELECT eu AS node FROM e${i - 1}
                 UNION ALL SELECT ev FROM e${i - 1}) u GROUP BY node),
         a$i AS (SELECT node FROM d$i WHERE deg >= $k),
         e$i AS (SELECT eu, ev FROM e${i - 1}
                 WHERE eu IN (SELECT node FROM a$i)
                   AND ev IN (SELECT node FROM a$i))"""
    }.mkString
    head + peel +
      s"""
         SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT eu AS node FROM e$rounds
           UNION ALL SELECT ev FROM e$rounds) u
         GROUP BY node ORDER BY node"""
  }

  protected def lpaOracleSql(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e0 AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2),
         e AS (SELECT p1 AS src, p2 AS dst FROM e0 UNION SELECT p2, p1 FROM e0),
         l0 AS (SELECT p_partkey AS node, p_brand AS label, CAST(0 AS BIGINT) AS round
                FROM part WHERE p_partkey % 23 = 0)"""
    val rounds = (1 to iters).map { i =>
      s""",
         v$i AS (SELECT e.dst AS cand, l.label, count(*) AS n
               FROM l${i - 1} l JOIN e ON l.node = e.src
               WHERE e.dst NOT IN (SELECT node FROM l${i - 1})
               GROUP BY 1, 2),
         n$i AS (SELECT cand AS node, label, CAST($i AS BIGINT) AS round FROM (
                 SELECT cand, label,
                        row_number() OVER (PARTITION BY cand ORDER BY n DESC, label) AS rn
                 FROM v$i) t WHERE rn = 1),
         l$i AS (SELECT * FROM l${i - 1} UNION ALL SELECT * FROM n$i)"""
    }.mkString
    head + rounds +
      s"\n         SELECT node, label, round FROM l$iters ORDER BY node"
  }

  /** [[pagerankOracleSql]]'s personalized twin: identical unrolled rounds,
    * but r0 and the per-round base are gated to the seed set (nation-0
    * suppliers) and scaled by |S| instead of N. */
  protected def pprOracleSql(iters: Int): String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e UNION SELECT node FROM seeds),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         ss AS (SELECT count(*) AS S FROM seeds),
         r0 AS (SELECT nodes.node,
                     CASE WHEN sd.node IS NOT NULL
                          THEN CAST(floor(1000000 / S) AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END AS r
               FROM nodes CROSS JOIN ss LEFT JOIN seeds sd ON sd.node = nodes.node)"""
    val iterations = (1 to iters).map { i =>
      s""",
         c$i AS (SELECT e.dst AS node,
                      CAST(sum(CAST(floor(p.r * 85 / (100 * deg.outdeg)) AS BIGINT)) AS BIGINT) AS inm
               FROM r${i - 1} p JOIN e ON p.node = e.src JOIN deg ON deg.src = e.src
               GROUP BY e.dst),
         r$i AS (SELECT nodes.node,
                      CASE WHEN sd.node IS NOT NULL
                           THEN CAST(floor(15000000 / (100 * S)) AS BIGINT)
                           ELSE CAST(0 AS BIGINT) END
                        + coalesce(c$i.inm, CAST(0 AS BIGINT)) AS r
               FROM nodes CROSS JOIN ss
                    LEFT JOIN seeds sd ON sd.node = nodes.node
                    LEFT JOIN c$i ON c$i.node = nodes.node)"""
    }.mkString
    head + iterations +
      s"\n         SELECT node, r AS rank_micro FROM r$iters ORDER BY rank_micro DESC, node LIMIT 20"
  }

  protected def pagerankOracleSql(iters: Int): String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         nn AS (SELECT count(*) AS N FROM nodes),
         r0 AS (SELECT node, CAST(floor(1000000 / N) AS BIGINT) AS r FROM nodes CROSS JOIN nn)"""
    val iterations = (1 to iters).map { i =>
      s""",
         c$i AS (SELECT e.dst AS node,
                      CAST(sum(CAST(floor(p.r * 85 / (100 * deg.outdeg)) AS BIGINT)) AS BIGINT) AS inm
               FROM r${i - 1} p JOIN e ON p.node = e.src JOIN deg ON deg.src = e.src
               GROUP BY e.dst),
         r$i AS (SELECT nodes.node,
                      CAST(floor(15000000 / (100 * N)) AS BIGINT)
                        + coalesce(c$i.inm, CAST(0 AS BIGINT)) AS r
               FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.node)"""
    }.mkString
    head + iterations +
      s"\n         SELECT node, r AS rank_micro FROM r$iters ORDER BY rank_micro DESC, node LIMIT 20"
  }

  /** q235 oracle: [[graft.operators.Stats.bradleyTerry]] unrolled — the
    * events-derived preference games, then `rounds` MM updates as
    * MATERIALIZED CTE pairs (d_r, s_r), each s_r referenced twice next
    * round (the pagerank-unroll lesson). All arithmetic is HUGEINT floor
    * division on non-negative operands — bit-identical to the Spark
    * side's Decimal(38,0) `div` path, no doubles anywhere. */
  protected def btOracleSql(rounds: Int): String = {
    val head =
      """WITH ev AS (SELECT user_id, event_type, value, event_id,
                lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
              FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         g AS MATERIALIZED (SELECT
                CASE WHEN nv > value THEN nt ELSE event_type END AS w,
                CASE WHEN nv > value THEN event_type ELSE nt END AS l
              FROM ev WHERE nt IS NOT NULL AND nt <> event_type),
         wins AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS n_wins
                  FROM g GROUP BY 1),
         pr AS (SELECT least(w, l) AS i, greatest(w, l) AS j,
                 CAST(count(*) AS BIGINT) AS n
                FROM g GROUP BY 1, 2),
         ed AS MATERIALIZED (SELECT i AS item, j AS other, n FROM pr
                UNION ALL SELECT j, i, n FROM pr),
         base AS MATERIALIZED (
           SELECT e.item, CAST(sum(e.n) AS BIGINT) AS n_games,
                  CAST(coalesce(max(w.n_wins), 0) AS BIGINT) AS n_wins
           FROM ed e LEFT JOIN wins w ON w.item = e.item GROUP BY e.item),
         s0 AS MATERIALIZED (SELECT item, CAST(1000000 AS BIGINT) AS s FROM base)"""
    val rds = (1 to rounds).map { r =>
      s""",
         d$r AS MATERIALIZED (SELECT e.item,
              CAST(sum((e.n::HUGEINT * 1000000000000) // (si.s + sj.s))
                AS BIGINT) AS d
            FROM ed e JOIN s${r - 1} si ON si.item = e.item
                      JOIN s${r - 1} sj ON sj.item = e.other
            GROUP BY e.item),
         s$r AS MATERIALIZED (SELECT b.item,
              CASE WHEN b.n_wins > 0 AND coalesce(d.d, 0) > 0
                   THEN greatest(CAST(1 AS BIGINT),
                     CAST((b.n_wins::HUGEINT * 1000000000000) // d.d AS BIGINT))
                   ELSE CAST(0 AS BIGINT) END AS s
            FROM base b LEFT JOIN d$r d ON d.item = b.item)"""
    }.mkString
    head + rds +
      s"""
         SELECT b.item, b.n_games, b.n_wins, s.s AS strength_micro,
                CASE WHEN t.t > 0 THEN
                  CAST((s.s::HUGEINT * 1000000) // t.t AS BIGINT)
                END AS share_micro
         FROM base b JOIN s$rounds s ON s.item = b.item
         CROSS JOIN (SELECT sum(s) AS t FROM s$rounds) t
         ORDER BY b.item"""
  }

  /** q212 oracle: [[graft.operators.Graph.bfsHops]] unrolled — the q93
    * customer–supplier graph, nation-0 supplier seeds (the q138 seed set),
    * one frontier CTE per hop. Every d_i is referenced three times
    * (carry + frontier join + NOT IN), so each is MATERIALIZED — plain
    * CTEs would inline ~3^maxHops scans (the r10 unigram-chain lesson). */
  protected def bfsOracleSql(maxHops: Int): String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         d0 AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node,
                CAST(0 AS BIGINT) AS hops
                FROM supplier WHERE s_nationkey = 0)"""
    val rounds = (1 to maxHops).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT node, hops FROM d${i - 1}
              UNION ALL
              SELECT node, CAST($i AS BIGINT) AS hops FROM (
                SELECT DISTINCT e.dst AS node
                FROM e JOIN d${i - 1} p ON p.node = e.src AND p.hops = ${i - 1}) f
              WHERE node NOT IN (SELECT node FROM d${i - 1}))"""
    }.mkString
    head + rounds +
      s"\n         SELECT node, hops FROM d$maxHops ORDER BY node"
  }

  // ---- unigram-LM tokenizer (q196-q198) ---------------------------------
  // Mirrors graft.operators.Unigram term for term: seed substrings, integer
  // micro costs round(-1e6*ln(cnt/total)), and the Viterbi DP unrolled as
  // one CTE per prefix length with min({'c','s'}) as the deterministic
  // (cost, segmentation-string) argmin — the same struct total order Spark
  // compares in Unigram.viterbiBest.

  /** Word table (len-capped), substring seed vocab, alphabet, initial
    * costs: CTEs ugwc/uwc/subs/sr/v0c/chars/vt0/v0. */
  protected def sqlUnigramSeed(maxWordLen: Int, maxPieceLen: Int,
      seedSize: Int): String =
    s"""ugwc AS (SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS token
              FROM documents) t WHERE len(token) > 0 GROUP BY 1),
         uwc AS MATERIALIZED (SELECT word, cnt FROM ugwc WHERE len(word) <= $maxWordLen),
         subs AS (SELECT substr(word, i + 1, l) AS piece, CAST(sum(cnt) AS BIGINT) AS cnt
              FROM uwc, range(0, $maxWordLen) s(i), range(1, ${maxPieceLen + 1}) p(l)
              WHERE i + l <= len(word) GROUP BY 1),
         sr AS (SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM subs),
         v0c AS (SELECT piece, cnt FROM sr WHERE rk <= $seedSize OR len(piece) = 1),
         chars AS (SELECT piece FROM v0c WHERE len(piece) = 1),
         vt0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v0c),
         v0 AS MATERIALIZED (SELECT piece, cnt,
                CAST(round(-ln(cnt::DOUBLE / total::DOUBLE) * 1e6) AS BIGINT) AS cost
              FROM v0c, vt0)"""

  /** One unrolled Viterbi pass over `uwc` under vocab CTE `v`: CTEs
    * dp{tag}_0..maxWordLen plus seg{tag} (word, cnt, s). */
  protected def sqlUnigramDp(tag: String, v: String, maxWordLen: Int,
      maxPieceLen: Int): String = {
    // every dp CTE is referenced by up to maxPieceLen successors: DuckDB
    // inlines plain CTEs, so without MATERIALIZED the unrolled DP expands
    // ~4^maxWordLen scans (measured: fd exhaustion on the parquet view
    // before it even finishes planning) — the SQL twin of the 3^k plan
    // blowup the Spark BPE loop hit in r9
    val dp0 = s"dp${tag}_0 AS MATERIALIZED (SELECT word, cnt, CAST(0 AS BIGINT) AS c, '' AS s FROM uwc)"
    val steps = (1 to maxWordLen).map { j =>
      val cands = (math.max(0, j - maxPieceLen) until j).map { i =>
        s"""SELECT p.word AS word, p.cnt AS cnt, p.c + v.cost AS c2,
                  CASE WHEN p.s = '' THEN v.piece ELSE p.s || ' ' || v.piece END AS s2
                FROM dp${tag}_$i p JOIN $v v ON v.piece = substr(p.word, ${i + 1}, ${j - i})
                WHERE len(p.word) >= $j"""
      }.mkString("\n              UNION ALL\n              ")
      s"""dp${tag}_$j AS MATERIALIZED (SELECT word, cnt, b['c'] AS c, b['s'] AS s FROM (
              SELECT word, cnt, min({'c': c2, 's': s2}) AS b FROM (
              $cands) u GROUP BY word, cnt) g)"""
    }
    val segs = (1 to maxWordLen).map(j =>
      s"SELECT word, cnt, s FROM dp${tag}_$j WHERE len(word) = $j")
      .mkString("\n              UNION ALL ")
    (dp0 +: steps).mkString(",\n         ") +
      s",\n         seg$tag AS MATERIALIZED ($segs)"
  }

  /** One EM update from seg{tag}: Viterbi piece counts, single-char count
    * floor, (cnt DESC, piece) prune to `vocabSize` (chars always survive),
    * fresh costs. CTEs pc/pcf/vc/vt/v{r}. */
  protected def sqlUnigramUpdate(tag: String, r: Int, vocabSize: Int): String =
    s"""pc$r AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
              SELECT cnt, unnest(string_split(s, ' ')) AS piece FROM seg$tag) t GROUP BY 1),
         pcf$r AS (SELECT coalesce(p.piece, ch.piece) AS piece,
                  CASE WHEN len(coalesce(p.piece, ch.piece)) = 1
                       THEN greatest(coalesce(p.cnt, CAST(0 AS BIGINT)), CAST(1 AS BIGINT))
                       ELSE p.cnt END AS cnt
                FROM pc$r p FULL JOIN chars ch ON ch.piece = p.piece),
         vc$r AS (SELECT piece, cnt FROM (SELECT piece, cnt,
                    row_number() OVER (ORDER BY cnt DESC, piece) AS rk
                  FROM pcf$r WHERE cnt IS NOT NULL) t
                WHERE rk <= $vocabSize OR len(piece) = 1),
         vt$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vc$r),
         v$r AS MATERIALIZED (SELECT piece, cnt,
                CAST(round(-ln(cnt::DOUBLE / total::DOUBLE) * 1e6) AS BIGINT) AS cost
              FROM vc$r, vt$r)"""

  /** Full training chain with the [[graft.operators.Unigram.train]]
    * defaults: seed + `emRounds` (DP, update) rounds; final vocab CTE is
    * v{emRounds}. */
  protected def sqlUnigramChain(maxWordLen: Int = 8, maxPieceLen: Int = 4,
      seedSize: Int = 64, vocabSize: Int = 48, emRounds: Int = 2): String = {
    val rounds = (1 to emRounds).map { r =>
      sqlUnigramDp(s"$r", s"v${r - 1}", maxWordLen, maxPieceLen) +
        ",\n         " + sqlUnigramUpdate(s"$r", r, vocabSize)
    }.mkString(",\n         ")
    sqlUnigramSeed(maxWordLen, maxPieceLen, seedSize) + ",\n         " + rounds
  }

  // Mirrors graft.operators.WordPiece term for term: ##-prefixed initial
  // symbols, likelihood score pc/(sc_a·sc_b) as ONE double division of
  // exact HUGEINT products (the Decimal(38,0) twin), (score DESC, a, b)
  // argmax, and the same greedy list_reduce fold as the BPE chain with the
  // WordPiece fusion rule (strip the right side's ## when fusing).

  /** Corpus word table + ##-symbol initial state: CTEs wpwc/wpw0. */
  protected val sqlWpBase =
    """wpwc AS (SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS token
              FROM documents) t WHERE len(token) > 0 GROUP BY 1),
         wpw0 AS MATERIALIZED (SELECT word, cnt,
                replace(trim(regexp_replace(word, '(.)', '\1 ', 'g')), ' ', ' ##') AS syms
              FROM wpwc)"""

  /** One WordPiece merge round: symbol counts, pair counts, likelihood
    * argmax, folded state. CTEs wps{i}/wpp{i}/wpb{i}/wpw{i}. */
  protected def sqlWpStep(i: Int): String =
    s"""wps$i AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS sc FROM (
             SELECT cnt, unnest(string_split(syms, ' ')) AS piece FROM wpw${i - 1}) t
           GROUP BY 1),
         wpp$i AS (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS pc
             FROM (SELECT cnt, unnest([[p[1], p[2]] for p in list_zip(sy, sy[2:])]) AS pr
                   FROM (SELECT cnt, string_split(syms, ' ') AS sy FROM wpw${i - 1}) s) t
             WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
         wpb$i AS MATERIALIZED (SELECT p.a, p.b, p.pc,
               p.a || CASE WHEN starts_with(p.b, '##') THEN substr(p.b, 3) ELSE p.b END AS merged,
               p.pc::DOUBLE / (x.sc::HUGEINT * y.sc::HUGEINT)::DOUBLE AS score
             FROM wpp$i p JOIN wps$i x ON x.piece = p.a JOIN wps$i y ON y.piece = p.b
             ORDER BY score DESC, p.a, p.b LIMIT 1),
         wpw$i AS MATERIALIZED (SELECT word, cnt, list_reduce(string_split(syms, ' '),
               (acc, x) -> CASE WHEN x = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
                                THEN acc || CASE WHEN starts_with(m.b, '##')
                                                 THEN substr(m.b, 3) ELSE m.b END
                                ELSE acc || ' ' || x END) AS syms
             FROM wpw${i - 1}, wpb$i m)"""

  protected def sqlWpChain(m: Int): String =
    sqlWpBase + ",\n         " + (1 to m).map(sqlWpStep).mkString(",\n         ")

  /** Encoding vocab + greedy MaxMatch walk over the distinct words of
    * `documents` (corpus words are ≤ 8 normalized chars — the same bound
    * the unigram DP oracle rides). CTEs wpv/wpdt/wpdw/wpj/wpg0..8/wpnp:
    * wpnp = (word, np) with np = piece count, [UNK] word = 1. */
  protected def sqlWpEncode(m: Int): String = {
    val mergedUnion = (1 to m)
      .map(i => s"UNION ALL SELECT merged AS piece FROM wpb$i")
      .mkString("\n              ")
    val steps = (1 to 8).map { i =>
      s"""wpg$i AS (SELECT g.word,
               CASE WHEN g.unk OR g.pos > len(g.word) THEN g.pos
                    WHEN j.lm IS NULL THEN len(g.word) + 1
                    ELSE g.pos + j.lm::INT END AS pos,
               CASE WHEN g.unk OR g.pos > len(g.word) OR j.lm IS NULL THEN g.np
                    ELSE g.np + 1 END AS np,
               CASE WHEN g.unk THEN TRUE
                    WHEN g.pos <= len(g.word) AND j.lm IS NULL THEN TRUE
                    ELSE FALSE END AS unk
             FROM wpg${i - 1} g LEFT JOIN wpj j ON j.word = g.word AND j.p = g.pos)"""
    }.mkString(",\n         ")
    s"""wpv AS MATERIALIZED (SELECT DISTINCT piece FROM (
              SELECT unnest(string_split(syms, ' ')) AS piece FROM wpw0
              $mergedUnion) t),
         wpdt AS (SELECT doc_id, token AS word, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT doc_id, unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS token
              FROM documents) t WHERE len(token) > 0 GROUP BY 1, 2),
         wpdw AS MATERIALIZED (SELECT DISTINCT word FROM wpdt),
         wpj AS MATERIALIZED (
           SELECT word, p, max(l) AS lm FROM (
             SELECT w.word, s.p, l.l
             FROM wpdw w, range(1, 9) s(p), range(1, 9) l(l), wpv v
             WHERE s.p + l.l <= len(w.word) + 1
               AND v.piece = CASE WHEN s.p = 1 THEN substr(w.word, s.p::INT, l.l::INT)
                                  ELSE '##' || substr(w.word, s.p::INT, l.l::INT) END) t
           GROUP BY 1, 2),
         wpg0 AS (SELECT word, 1 AS pos, 0 AS np, FALSE AS unk FROM wpdw),
         $steps,
         wpnp AS (SELECT word, CASE WHEN unk THEN 1 ELSE np END AS np FROM wpg8)"""
  }
}
