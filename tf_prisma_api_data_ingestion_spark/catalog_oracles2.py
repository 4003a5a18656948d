"""Second half of the DuckDB oracle SQL (the first is
catalog_oracles.py): ``SQL_*`` constants and ``_sql_*()`` functions. No
key is registered here: each key's (query, oracle) entry is in
catalog.CATALOG. Import through tf_prisma_api_data_ingestion_spark.catalog.
"""

from .catalog_queries import _MINHASH_RPB
from .operators import text
from .catalog_oracles import (
    SQL_DEDUP_INCREMENTAL,
    SQL_DEDUP_MINHASH_MD5,
    _PARTSUPP_CTE,
    _SQL_COS,
    _SQL_SHINGLES,
    _SQL_WS_TOKENS,
    _UH_SEEDS_VALUES,
    _sql_marker_hits,
)


SQL_TPCH_Q20 = f"""
WITH {_PARTSUPP_CTE.strip()},
shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS _qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY l_partkey, l_suppkey),
qual AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE CAST(ps_availqty AS DOUBLE) > 0.5 * _qty)
SELECT s_suppkey, s_name
FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
  AND s_suppkey IN (SELECT ps_suppkey FROM qual)
ORDER BY s_name
"""


SQL_DEDUP_PREFIX_JACCARD = f"""
WITH sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, round(i / (ma + mb - i), 4) AS jaccard_r
FROM inter WHERE 5 * i >= 3 * (ma + mb - i)
"""


SQL_TEXT_BM25_TOPK = """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents),
d AS (SELECT doc_id, len(ts) AS dl, ts FROM base),
stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM d),
hits AS (
  SELECT doc_id, dl, t, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ts) AS t FROM d)
  WHERE t IN ('hash', 'join', 'vector', 'stream')
  GROUP BY 1, 2, 3),
dfreq AS (SELECT t, count(*) AS df FROM hits GROUP BY t),
scored AS (
  SELECT h.doc_id,
         ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
          / (CAST(f.df AS DOUBLE) + 0.5))
         * (CAST(h.tf AS DOUBLE) * (1.2 + 1.0)
            / (CAST(h.tf AS DOUBLE)
               + 1.2 * (1.0 - 0.75 + 0.75 * CAST(h.dl AS DOUBLE)
                        / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
           AS w
  FROM hits h JOIN dfreq f USING (t) CROSS JOIN stats s)
SELECT doc_id, round(sum(w), 6) AS score,
       count(*) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


_SQL_COPURCHASE = """
cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
sp0 AS (SELECT a.s AS u, b.s AS v, count(*) AS sh
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2),
kk AS (SELECT 8 * count(*) AS k FROM supplier),
sp AS (SELECT u, v
       FROM (SELECT u, v,
                    row_number() OVER (ORDER BY sh DESC, u, v) AS rn
             FROM sp0), kk
       WHERE rn <= kk.k)
"""


SQL_OP_TRIANGLE_COUNT = f"""
WITH {_SQL_COPURCHASE.strip()},
tri AS (
  SELECT p1.u AS x, p1.v AS y, p2.v AS z
  FROM sp p1
  JOIN sp p2 ON p2.u = p1.v
  JOIN sp p3 ON p3.u = p1.u AND p3.v = p2.v)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY node
"""


SQL_OP_PAGERANK = """
WITH cs AS (SELECT DISTINCT o_custkey AS c, 10000000 + l_suppkey AS s
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
e AS (SELECT c AS src, s AS dst FROM cs
      UNION SELECT s AS src, c AS dst FROM cs),
nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
i1 AS (SELECT e.dst AS node, SUM(r0.r // o.deg) AS inc
       FROM e JOIN outdeg o ON e.src = o.src JOIN r0 ON r0.node = e.src
       GROUP BY 1),
r1 AS (SELECT n.node,
              CAST(150000000000 + (85 * COALESCE(i1.inc, 0)) // 100
                   AS BIGINT) AS r
       FROM nodes n LEFT JOIN i1 USING (node)),
i2 AS (SELECT e.dst AS node, SUM(r1.r // o.deg) AS inc
       FROM e JOIN outdeg o ON e.src = o.src JOIN r1 ON r1.node = e.src
       GROUP BY 1),
r2 AS (SELECT n.node,
              CAST(150000000000 + (85 * COALESCE(i2.inc, 0)) // 100
                   AS BIGINT) AS r
       FROM nodes n LEFT JOIN i2 USING (node)),
i3 AS (SELECT e.dst AS node, SUM(r2.r // o.deg) AS inc
       FROM e JOIN outdeg o ON e.src = o.src JOIN r2 ON r2.node = e.src
       GROUP BY 1),
r3 AS (SELECT n.node,
              CAST(150000000000 + (85 * COALESCE(i3.inc, 0)) // 100
                   AS BIGINT) AS r
       FROM nodes n LEFT JOIN i3 USING (node))
SELECT node, r AS rank_units FROM r3
"""


SQL_OP_GRAPH_BFS = f"""
WITH RECURSIVE {_SQL_COPURCHASE.strip()},
src AS (SELECT MIN(LEAST(u, v)) AS s FROM sp),
e AS (SELECT u AS a, v AS b FROM sp UNION SELECT v, u FROM sp),
walk(node, d) AS (
  SELECT s, 0 FROM src
  UNION ALL
  SELECT e.b, walk.d + 1
  FROM walk JOIN e ON e.a = walk.node
  WHERE walk.d < 4)
SELECT node, CAST(MIN(d) AS INT) AS dist FROM walk GROUP BY node
"""


SQL_DEDUP_CONTAINMENT = f"""
WITH sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b,
       round(i / least(ma, mb), 4) AS containment_r
FROM inter WHERE 5 * i >= 4 * least(ma, mb)
"""


SQL_OP_GROUP_CAP = """
SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_source
FROM (SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id) AS rn
      FROM documents)
WHERE rn <= 15
"""


SQL_OP_EQUIDEPTH_HISTOGRAM = """
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM (SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
GROUP BY bucket
"""


SQL_PLAN_LEAKPROOF_SPLIT = f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT doc_a, doc_b FROM inter WHERE i / (ma + mb - i) >= 0.2),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.m FROM edges e JOIN reach r ON e.src = r.n),
clus AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
hashed AS (
  SELECT doc_id, cluster_id,
         ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000 AS h
  FROM clus)
SELECT doc_id, cluster_id,
       CASE WHEN h < 100 THEN 'test'
            WHEN h < 200 THEN 'val'
            ELSE 'train' END AS split
FROM hashed
"""


SQL_OP_SKYLINE = """
-- NULL contract mirrors skyline_2d: rows with NULL cost/benefit are
-- excluded explicitly (a raw NOT EXISTS would keep them vacuously)
SELECT p_partkey, p_name, p_retailprice, CAST(p_size AS BIGINT) AS p_size
FROM part x
WHERE x.p_retailprice IS NOT NULL AND x.p_size IS NOT NULL
  AND NOT EXISTS (
  SELECT 1 FROM part y
  WHERE y.p_retailprice IS NOT NULL AND y.p_size IS NOT NULL
    AND y.p_retailprice <= x.p_retailprice AND y.p_size >= x.p_size
    AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size))
"""


SQL_OP_KNN_CLASSIFY = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 20 = 0),
c AS (SELECT * FROM e WHERE vec_id % 20 <> 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label,
         {_SQL_COS.format(a='q.v', b='c.v')} AS cos
  FROM q JOIN c ON c.vec_id <> q.vec_id),
top AS (
  SELECT query_id, label
  FROM (SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rn
        FROM scored)
  WHERE rn <= 5),
votes AS (SELECT query_id, label, count(*) AS votes FROM top GROUP BY 1, 2)
-- n_candidates = the real vote-pool size (sum of votes per query),
-- mirroring knn_classify's window sum — equals k only when the corpus
-- actually supplied k labeled neighbors
SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes,
       CAST(nc AS BIGINT) AS n_candidates
FROM (SELECT *, sum(votes) OVER (PARTITION BY query_id) AS nc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label ASC) AS rn
      FROM votes)
WHERE rn = 1
"""


SQL_OP_ITEM_CF = """
WITH inc AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ni AS (SELECT i, count(*) AS n FROM inc GROUP BY 1),
co AS (SELECT a.i AS u, b.i AS v, count(*) AS co
       FROM inc a JOIN inc b ON a.b = b.b AND a.i < b.i
       GROUP BY 1, 2 HAVING count(*) >= 2),
bo AS (SELECT u, v, co FROM co UNION ALL SELECT v, u, co FROM co),
sim AS (
  SELECT u AS item_a, v AS item_b, co,
         CAST(co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS sim
  FROM bo JOIN ni na ON bo.u = na.i JOIN ni nb ON bo.v = nb.i)
SELECT item_a, item_b, co, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY item_a
                                   ORDER BY sim DESC, item_b ASC) AS rn
      FROM sim)
WHERE rn <= 3
"""


SQL_OP_TARGET_ENCODE = """
WITH per AS (
  SELECT p_brand AS category, count(*) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS sum_y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1),
tot AS (SELECT sum(n) AS tn, sum(sum_y) AS ty FROM per)
SELECT category, n, sum_y,
       round(CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_r,
       round((CAST(sum_y AS DOUBLE)
              + 20.0 * (CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)))
             / (CAST(n AS DOUBLE) + 20.0), 6) AS enc_r
FROM per, tot
"""


SQL_OP_CHI2_TERMS = r"""
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(list_distinct(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'),
           x -> x <> ''))) AS term
  FROM documents),
per AS (SELECT term, count(*) AS df, CAST(sum(y) AS BIGINT) AS df_pos
        FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS npos
        FROM documents),
cells AS (
  SELECT term, df, df_pos,
         CAST(df_pos AS DOUBLE) AS a,
         CAST(df - df_pos AS DOUBLE) AS b,
         CAST(npos - df_pos AS DOUBLE) AS c,
         CAST((n - npos) - (df - df_pos) AS DOUBLE) AS d,
         CAST(n AS DOUBLE) AS nn
  FROM per, tot WHERE df >= 5)
SELECT term, df, df_pos,
       round(CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
                  THEN nn * (a * d - b * c) * (a * d - b * c)
                       / ((a + b) * (c + d) * (a + c) * (b + d))
                  ELSE 0.0 END, 6) AS chi2_r
FROM cells
ORDER BY chi2_r DESC, term ASC
LIMIT 20
"""


SQL_OP_WELCH_TTEST = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                       AS DECIMAL(18,0))) AS DOUBLE) AS s,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                       AS DECIMAL(18,0))
                  * CAST(CAST(value AS DECIMAL(18,2)) * 100
                         AS DECIMAL(18,0))) AS DOUBLE) AS ss
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
a AS (SELECT n AS n_a, s AS sa, ss AS ssa,
             CAST(n AS DOUBLE) AS nda FROM g WHERE event_type = 'click'),
b AS (SELECT n AS n_b, s AS sb, ss AS ssb,
             CAST(n AS DOUBLE) AS ndb FROM g WHERE event_type = 'view'),
m AS (
  SELECT n_a, n_b,
         sa / nda AS ma, sb / ndb AS mb,
         ((nda * ssa - sa * sa) / (nda * (nda - 1))) / (nda * 10000.0) AS va,
         ((ndb * ssb - sb * sb) / (ndb * (ndb - 1))) / (ndb * 10000.0) AS vb,
         nda, ndb
  FROM a, b)
SELECT n_a, n_b,
       round(ma / 100.0, 6) AS mean_a_r,
       round(mb / 100.0, 6) AS mean_b_r,
       round(((ma - mb) / 100.0) / sqrt(va + vb), 6) AS t_r,
       round(((va + vb) * (va + vb))
             / (va * va / (nda - 1) + vb * vb / (ndb - 1)), 3) AS df_r
FROM m
"""


SQL_OP_WEIGHTED_SAMPLE = """
WITH base AS (
  SELECT o_orderkey AS key,
         CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS DECIMAL(18,0)) AS BIGINT) AS w,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM orders),
-- PPS weight contract (mirrors weighted_systematic_sample): only
-- positive weights participate
pos AS (SELECT * FROM base WHERE w > 0),
c AS (
  SELECT key, w, h % 64 AS shard,
         sum(w) OVER (PARTITION BY h % 64 ORDER BY h, key) AS cum,
         sum(w) OVER (PARTITION BY h % 64) AS big
  FROM pos)
SELECT key, w AS weight_cents, CAST(shard AS BIGINT) AS shard,
       CAST((cum * 8) // big AS BIGINT) AS pick
FROM c
WHERE (cum * 8) // big > ((cum - w) * 8) // big
"""


SQL_OP_MARKOV_TRANSITIONS = """
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
n AS (SELECT prev AS src, event_type AS dst, count(*) AS n
      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
t AS (SELECT src, sum(n) AS tt FROM n GROUP BY 1)
SELECT src, dst, n,
       round(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS p_r
FROM n JOIN t USING (src)
"""


SQL_OP_BENFORD = """
WITH per AS (
  SELECT CAST(substr(CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                    * 100 AS DECIMAL(18,0)) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
tot AS (SELECT sum(n) AS t FROM per),
e AS (SELECT digit, n,
             CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS obs,
             CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
                        WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
                        WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
                        WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
                        ELSE 0.045757 END AS exp_r
      FROM per, tot)
SELECT digit, n, round(obs, 6) AS obs_r, exp_r,
       round(obs - exp_r, 6) AS dev_r
FROM e
"""


SQL_OP_KEY_PROFILE = """
WITH per AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
SELECT count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_cnt,
       round(quantile_cont(c, 0.5), 4) AS p50_cnt,
       round(quantile_cont(c, 0.9), 4) AS p90_cnt,
       round(quantile_cont(c, 0.99), 4) AS p99_cnt,
       round(CAST(max(c) AS DOUBLE)
             / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4)
         AS skew_ratio,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
         AS top_share
FROM per
"""


SQL_OP_ANOMALY_SEASONAL = """
WITH cells AS (
  SELECT sec - (sec % 86400) AS day,
         (sec % 86400) // 3600 AS hod, count(*) AS n
  FROM (SELECT epoch_us(ts) // 1000000 AS sec FROM events)
  GROUP BY 1, 2),
prof0 AS (
  SELECT hod, count(*) AS d, CAST(sum(n) AS DOUBLE) AS s,
         CAST(sum(n * n) AS DOUBLE) AS ss, CAST(count(*) AS DOUBLE) AS dd
  FROM cells GROUP BY 1),
prof AS (
  SELECT hod, s / dd AS mean,
         sqrt((dd * ss - s * s) / (dd * (dd - 1))) AS std
  FROM prof0 WHERE d >= 2),
z AS (
  SELECT day, c.hod, n, mean,
         (CAST(n AS DOUBLE) - mean) / std AS z
  FROM cells c JOIN prof p ON c.hod = p.hod
  WHERE std > 0)
SELECT day, hod, n, round(mean, 6) AS mean_r, round(z, 6) AS z_r
FROM z WHERE abs(z) >= 2.0
"""


SQL_SIM_QUANTIZE_INT8 = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
rng AS (
  SELECT d, min(v) AS lo, max(v) AS hi,
         CASE WHEN max(v) > min(v) THEN (max(v) - min(v)) / 255.0
              ELSE 1.0 END AS scale
  FROM ex GROUP BY 1),
aud AS (
  SELECT vec_id,
         CASE WHEN hi > lo
              THEN abs(v - (lo + CAST(LEAST(GREATEST(
                     floor((v - lo) / scale + 0.5), 0), 255) AS DOUBLE)
                     * scale))
              ELSE 0.0 END AS e,
         CASE WHEN hi > lo
                   AND (LEAST(GREATEST(floor((v - lo) / scale + 0.5), 0),
                              255) = 0
                        OR LEAST(GREATEST(floor((v - lo) / scale + 0.5),
                                          0), 255) = 255)
              THEN 1 ELSE 0 END AS cl
  FROM ex JOIN rng USING (d))
SELECT vec_id, round(max(e), 6) AS max_err_r,
       CAST(sum(cl) AS BIGINT) AS n_clipped
FROM aud GROUP BY 1
"""


SQL_OP_BLOOM_PREFILTER = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_orderkey IN
      (SELECT o_orderkey FROM orders WHERE o_totalprice > 490000)
"""


SQL_OP_DRIFT_KS = """
WITH b AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         // 100000 AS bin,
         CASE WHEN o_orderdate >= DATE '1996-01-01' THEN 1 ELSE 0 END AS c
  FROM orders),
g AS (SELECT bin,
             COUNT(*) FILTER (WHERE c = 0) AS r,
             COUNT(*) FILTER (WHERE c = 1) AS k
      FROM b GROUP BY bin),
cum AS (SELECT bin, r, k,
               CAST(SUM(r) OVER (ORDER BY bin) AS HUGEINT) AS cr,
               CAST(SUM(k) OVER (ORDER BY bin) AS HUGEINT) AS ck,
               CAST(SUM(r) OVER () AS HUGEINT) AS tr,
               CAST(SUM(k) OVER () AS HUGEINT) AS tk
        FROM g)
SELECT CAST(MAX(tr) AS BIGINT) AS n_ref,
       CAST(MAX(tk) AS BIGINT) AS n_cur,
       COUNT(*) AS n_bins,
       round(CASE WHEN MAX(tr) > 0 AND MAX(tk) > 0 THEN
             CAST(MAX(ABS(cr * tk - ck * tr)) AS DOUBLE)
             / (CAST(MAX(tr) AS DOUBLE) * CAST(MAX(tk) AS DOUBLE)) END,
             6) AS ks_r
FROM cum
"""


SQL_OP_DRIFT_BINS = """
WITH b AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         // 2500000 AS bin,
         CASE WHEN o_orderdate >= DATE '1996-01-01' THEN 1 ELSE 0 END AS c
  FROM orders),
g AS (SELECT bin,
             COUNT(*) FILTER (WHERE c = 0) AS n_ref,
             COUNT(*) FILTER (WHERE c = 1) AS n_cur
      FROM b GROUP BY bin),
t AS (SELECT bin, n_ref, n_cur,
             SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tk,
             n_ref + n_cur AS bt,
             SUM(n_ref) OVER () + SUM(n_cur) OVER () AS n
      FROM g)
SELECT bin, n_ref, n_cur,
       round(CASE WHEN tr > 0
                  THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) END,
             6) AS p_ref_r,
       round(CASE WHEN tk > 0
                  THEN CAST(n_cur AS DOUBLE) / CAST(tk AS DOUBLE) END,
             6) AS p_cur_r,
       round(CASE WHEN tr > 0 AND tk > 0 THEN
             (CAST(CAST(n_ref AS HUGEINT) * n - CAST(bt AS HUGEINT) * tr
                   AS DOUBLE)
              * CAST(CAST(n_ref AS HUGEINT) * n - CAST(bt AS HUGEINT) * tr
                     AS DOUBLE))
             / CAST(CAST(n AS HUGEINT) * bt * tr AS DOUBLE)
             + (CAST(CAST(n_cur AS HUGEINT) * n - CAST(bt AS HUGEINT) * tk
                     AS DOUBLE)
                * CAST(CAST(n_cur AS HUGEINT) * n - CAST(bt AS HUGEINT) * tk
                       AS DOUBLE))
             / CAST(CAST(n AS HUGEINT) * bt * tk AS DOUBLE) END,
             6) AS chi2_r
FROM t
ORDER BY bin
"""


SQL_OP_GINI_DIVERSITY = """
WITH c AS (SELECT source AS grp, lang, COUNT(*) AS c
           FROM documents GROUP BY 1, 2),
g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
             COUNT(*) AS n_cats,
             SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss
      FROM c GROUP BY grp)
SELECT grp, n, n_cats,
       round(1.0 - CAST(ss AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS gini_r,
       round((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / CAST(ss AS DOUBLE), 6) AS simpson_r
FROM g
ORDER BY grp
"""


SQL_OP_CRAMERS_V = """
WITH obs AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
                    COUNT(*) AS o
             FROM orders GROUP BY 1, 2),
xs AS (SELECT x, SUM(o) AS rt FROM obs GROUP BY x),
ys AS (SELECT y, SUM(o) AS ct FROM obs GROUP BY y),
tot AS (SELECT (SELECT SUM(rt) FROM xs) AS n,
               (SELECT COUNT(*) FROM xs) AS r,
               (SELECT COUNT(*) FROM ys) AS k),
m AS (SELECT COALESCE(c.o, 0) AS o, xs.rt, ys.ct, t.r, t.k, t.n
      FROM xs CROSS JOIN ys
      LEFT JOIN obs c ON c.x = xs.x AND c.y = ys.y
      CROSS JOIN tot t),
s AS (SELECT n, r, k,
             CAST(round(
               (CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
                     AS DOUBLE)
                * CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
                       AS DOUBLE))
               / CAST(CAST(n AS HUGEINT) * rt * ct AS DOUBLE)
               * 1000000.0) AS BIGINT) AS ts
      FROM m)
SELECT CAST(n AS BIGINT) AS n,
       CAST(r AS BIGINT) AS r_levels,
       CAST(k AS BIGINT) AS c_levels,
       round(CAST(SUM(ts) AS DOUBLE) / 1000000.0, 6) AS chi2_r,
       round(CASE WHEN LEAST(r, k) > 1 THEN
             sqrt((CAST(SUM(ts) AS DOUBLE) / 1000000.0)
                  / (CAST(n AS DOUBLE)
                     * CAST(LEAST(r, k) - 1 AS DOUBLE))) END, 6) AS v_r
FROM s
GROUP BY n, r, k
"""


SQL_TEXT_LM_LIKELIHOOD = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
pairs AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM words, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
dcnt AS (SELECT doc_id, w1, w2, COUNT(*) AS m FROM pairs GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(m) AS c12 FROM dcnt GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT UNNEST(ws) AS w FROM words)),
scored AS (
  SELECT d.doc_id, d.m,
         ((CAST(c.c12 AS HUGEINT) + 1) * 1000000000000)
         // (c1.c1 + voc.v) AS s
  FROM dcnt d
  JOIN c12 c USING (w1, w2)
  JOIN c1 USING (w1)
  CROSS JOIN voc)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       CAST((2 * SUM(m * s) + SUM(m)) // (2 * CAST(SUM(m) AS HUGEINT))
            AS DOUBLE) / 1000000.0 AS lm_ppm_r
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


SQL_PLAN_FEATURE_STORE = """
WITH per AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              AS DECIMAL(18,0)) AS cents
  FROM orders),
rfm AS (SELECT o_custkey, COUNT(*) AS frequency,
               CAST(SUM(cents) AS BIGINT) AS monetary_cents,
               MAX(o_orderdate) AS last
        FROM per GROUP BY 1),
lines AS (SELECT o_custkey, COUNT(*) AS nlines
          FROM lineitem JOIN per ON l_orderkey = o_orderkey GROUP BY 1),
pc AS (SELECT o_custkey, o_orderpriority, COUNT(*) AS pc
       FROM per GROUP BY 1, 2),
fav AS (SELECT o_custkey, o_orderpriority AS fav_priority
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY pc DESC, o_orderpriority ASC) AS rn FROM pc)
        WHERE rn = 1),
seg AS (SELECT c_mktsegment AS category, COUNT(*) AS n,
               CAST(SUM(CASE WHEN o_orderpriority IN
                             ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS sum_y
        FROM per JOIN customer ON o_custkey = c_custkey GROUP BY 1),
tot AS (SELECT SUM(n) AS tn, SUM(sum_y) AS ty FROM seg),
te AS (SELECT category,
              round((CAST(sum_y AS DOUBLE)
                     + 20.0 * (CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)))
                    / (CAST(n AS DOUBLE) + 20.0), 6) AS seg_enc_r
       FROM seg, tot),
maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders)
SELECT c_custkey, c_mktsegment AS mktsegment,
       COALESCE(frequency, 0) AS frequency,
       COALESCE(monetary_cents, 0) AS monetary_cents,
       CAST(date_diff('day', last, maxd) AS BIGINT) AS recency_days,
       CASE WHEN frequency IS NOT NULL THEN
            CAST((2 * CAST(nlines AS HUGEINT) * 1000000 + frequency)
                 // (2 * CAST(frequency AS HUGEINT)) AS DOUBLE)
            / 1000000.0 END AS avg_lines_r,
       fav_priority,
       te.seg_enc_r,
       CASE WHEN last >= DATE '1997-01-01' THEN 1 ELSE 0 END
         AS label_active
FROM customer
LEFT JOIN rfm ON c_custkey = rfm.o_custkey
LEFT JOIN lines ON c_custkey = lines.o_custkey
LEFT JOIN fav ON c_custkey = fav.o_custkey
LEFT JOIN te ON c_mktsegment = te.category
CROSS JOIN maxd
ORDER BY c_custkey
"""


SQL_PLAN_RAG_CONTEXT = r"""
WITH b2 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ts,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         w -> w <> '')) AS dl
  FROM documents),
qids AS (SELECT doc_id AS query_id, ts FROM b2 ORDER BY doc_id LIMIT 5),
qterms AS (SELECT DISTINCT query_id, unnest(list_distinct(ts)) AS t
           FROM qids),
cand AS (SELECT * FROM b2
         WHERE doc_id NOT IN (SELECT query_id FROM qids)),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM cand),
toks AS (SELECT doc_id, dl, unnest(ts) AS t FROM cand),
hits AS (SELECT doc_id, dl, t, COUNT(*) AS tf FROM toks
         WHERE t IN (SELECT DISTINCT t FROM qterms)
         GROUP BY 1, 2, 3),
dfreq AS (SELECT t, COUNT(*) AS df FROM hits GROUP BY 1),
perterm AS (
  SELECT q.query_id, h.doc_id,
         CAST(round(
           ((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
            / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(h.tf AS DOUBLE) * (1.2 + 1.0)
              / (CAST(h.tf AS DOUBLE)
                 + 1.2 * (1.0 - 0.75
                          + 0.75 * CAST(h.dl AS DOUBLE)
                            / (CAST(s.sumdl AS DOUBLE)
                               / CAST(s.n AS DOUBLE)))))
           * 1000000.0) AS BIGINT) AS wm
  FROM hits h
  JOIN dfreq d USING (t)
  JOIN qterms q USING (t)
  CROSS JOIN stats s),
qc AS (SELECT query_id, doc_id, SUM(wm) AS sm FROM perterm GROUP BY 1, 2),
short AS (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sm DESC, doc_id ASC) AS r0
          FROM qc QUALIFY r0 <= 6),
sets AS (SELECT s.query_id, s.doc_id, s.r0, s.sm,
                list_distinct(b.ts) AS st,
                len(list_distinct(b.ts)) AS nt
         FROM short s JOIN b2 b USING (doc_id)),
dropped AS (SELECT DISTINCT a.query_id, bb.doc_id
            FROM sets a JOIN sets bb
              ON a.query_id = bb.query_id AND a.r0 < bb.r0
            WHERE 9 * len(list_intersect(a.st, bb.st))
                  > 4 * (a.nt + bb.nt)),
surv AS (SELECT s.* FROM sets s
         LEFT JOIN dropped d
           ON s.query_id = d.query_id AND s.doc_id = d.doc_id
         WHERE d.doc_id IS NULL),
fin AS (SELECT query_id, doc_id, sm, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sm DESC, doc_id ASC) AS rank
        FROM surv QUALIFY rank <= 3)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       CAST(sm AS DOUBLE) / 1000000.0 AS score_r
FROM fin
ORDER BY query_id, rank
"""


SQL_DEDUP_MINHASH_RECALL = f"""
WITH sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
truth AS (SELECT doc_a, doc_b FROM inter
          WHERE i / (ma + mb - i) >= 0.2),
pre AS (SELECT doc_id, shingles,
            list_transform(shingles,
              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
              AS xr FROM sh),
ab(i, a, b) AS (VALUES {_UH_SEEDS_VALUES}),
seeded AS (
  SELECT doc_id, ab.i, min((ab.a * u.x + ab.b) % 2147483647) AS mn
  FROM pre, unnest(xr) u(x), ab
  GROUP BY doc_id, ab.i),
sigs AS (
  SELECT doc_id, i // {_MINHASH_RPB} AS bidx,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bk
  FROM seeded GROUP BY doc_id, i // {_MINHASH_RPB}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.bidx = b.bidx AND a.bk = b.bk
                         AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS i,
         len(sa.shingles) AS ma, len(sb.shingles) AS mb
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b),
lsh AS (SELECT doc_a, doc_b FROM verified
        WHERE i / (ma + mb - i) >= 0.2),
n AS (SELECT
        (SELECT COUNT(*) FROM truth) AS n_truth,
        (SELECT COUNT(*) FROM lsh) AS n_lsh,
        (SELECT COUNT(*) FROM truth JOIN lsh USING (doc_a, doc_b))
          AS n_both)
SELECT n_truth, n_lsh, n_both,
       CAST((2 * CAST(n_both AS HUGEINT) * 1000000 + n_truth)
            // (2 * CAST(n_truth AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS recall_r,
       CAST((2 * CAST(n_both AS HUGEINT) * 1000000 + n_lsh)
            // (2 * CAST(n_lsh AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS precision_r
FROM n
"""


SQL_STREAM_DRIFT = """
WITH b AS (
  SELECT strftime(time_bucket(INTERVAL '1 day', ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 500 AS bin
  FROM events),
win AS (SELECT window_start, bin, COUNT(*) AS n_bin FROM b GROUP BY 1, 2),
ref AS (SELECT bin, COUNT(*) AS rb FROM b GROUP BY 1),
tot AS (SELECT SUM(rb) AS nr FROM ref),
nws AS (SELECT window_start, SUM(n_bin) AS nw FROM win GROUP BY 1)
SELECT w.window_start, w.bin, w.n_bin,
       round((CAST(CAST(w.n_bin AS HUGEINT) * t.nr
                   - CAST(x.nw AS HUGEINT) * r.rb AS DOUBLE))
             * (CAST(CAST(w.n_bin AS HUGEINT) * t.nr
                     - CAST(x.nw AS HUGEINT) * r.rb AS DOUBLE))
             / CAST(CAST(x.nw AS HUGEINT) * r.rb * t.nr AS DOUBLE),
             6) AS chi2_term_r
FROM win w
JOIN ref r USING (bin)
JOIN nws x USING (window_start)
CROSS JOIN tot t
ORDER BY 1, 2
"""


SQL_OP_MARKOV_EVAL = """
WITH steps AS (
  SELECT LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events),
n AS (SELECT src, dst, COUNT(*) AS n FROM steps
      WHERE src IS NOT NULL GROUP BY 1, 2),
model AS (SELECT src, dst AS pred FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY src ORDER BY n DESC, dst ASC) AS rn FROM n)
          WHERE rn = 1),
agg AS (SELECT CAST(SUM(n.n) AS BIGINT) AS n_steps,
               CAST(SUM(CASE WHEN n.dst = m.pred THEN n.n ELSE 0 END)
                    AS BIGINT) AS n_hits
        FROM n JOIN model m USING (src))
SELECT n_steps, n_hits,
       CAST((2 * CAST(n_hits AS HUGEINT) * 1000000 + n_steps)
            // (2 * CAST(n_steps AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS acc_r
FROM agg
"""


SQL_OP_TE_CALIBRATION = """
WITH per AS (
  SELECT p_brand AS category, count(*) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS sum_y
  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
tot AS (SELECT sum(n) AS tn, sum(sum_y) AS ty FROM per),
enc AS (SELECT category,
               CAST(round(round((CAST(sum_y AS DOUBLE)
                                 + 20.0 * (CAST(ty AS DOUBLE)
                                           / CAST(tn AS DOUBLE)))
                                / (CAST(n AS DOUBLE) + 20.0), 6)
                          * 1000000.0) AS BIGINT) AS em
        FROM per, tot),
span AS (SELECT MIN(em) AS mn, MAX(em) AS mx FROM enc),
rws AS (SELECT p_brand AS category,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
j AS (SELECT ((e.em - s.mn) * 10) // (s.mx - s.mn + 1) AS bin, r.y, e.em
      FROM rws r JOIN enc e USING (category) CROSS JOIN span s),
g AS (SELECT bin, COUNT(*) AS n,
             SUM(CAST(em AS HUGEINT)) AS sp,
             SUM(CAST(y AS HUGEINT)) AS sy
      FROM j GROUP BY 1)
SELECT bin, n,
       CAST((2 * sp + n) // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS mean_pred_r,
       CAST((2 * sy * 1000000 + n) // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS rate_r
FROM g
ORDER BY bin
"""


SQL_OP_NEGATIVE_SAMPLE = """
WITH cat AS (SELECT it, ROW_NUMBER() OVER (ORDER BY it) - 1 AS rw
             FROM (SELECT DISTINCT s_suppkey AS it FROM supplier)),
ni AS (SELECT COUNT(*) AS n FROM cat),
pos AS (SELECT DISTINCT o_custkey AS usr, l_suppkey AS pos_item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
cand AS (SELECT usr, pos_item, j,
                ('0x' || substr(md5(CAST(usr AS VARCHAR) || '#'
                                    || CAST(pos_item AS VARCHAR) || '#'
                                    || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                % ni.n AS rw
         FROM pos, UNNEST([0, 1]) t(j), ni),
neg AS (SELECT c.usr, c.pos_item, CAST(c.j AS BIGINT) AS j,
               k.it AS neg_item
        FROM cand c JOIN cat k USING (rw))
SELECT n.usr AS "user", n.pos_item, n.j, n.neg_item
FROM neg n
LEFT JOIN pos p ON n.usr = p.usr AND n.neg_item = p.pos_item
WHERE p.usr IS NULL
ORDER BY 1, 2, 3
"""


SQL_PLAN_CORPUS_REPORT = r"""
WITH base AS (
  SELECT COUNT(*) AS n_docs,
         SUM(CAST(len(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> x <> '')) AS HUGEINT)) AS n_tokens,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT text) AS uniq
  FROM documents)
SELECT n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, n_langs, n_sources,
       CAST((2 * CAST(n_docs - uniq AS HUGEINT) * 1000000 + n_docs)
            // (2 * CAST(n_docs AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS dup_rate_r,
       CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000 + n_docs)
            // (2 * CAST(n_docs AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS mean_tokens_r
FROM base
"""


SQL_OP_AUC = """
WITH per AS (
  SELECT p_brand AS category, count(*) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS sum_y
  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
tot AS (SELECT sum(n) AS tn, sum(sum_y) AS ty FROM per),
enc AS (SELECT category,
               CAST(round(round((CAST(sum_y AS DOUBLE)
                                 + 20.0 * (CAST(ty AS DOUBLE)
                                           / CAST(tn AS DOUBLE)))
                                / (CAST(n AS DOUBLE) + 20.0), 6)
                          * 1000000.0) AS BIGINT) AS em
        FROM per, tot),
rws AS (SELECT e.em AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN enc e ON e.category = p_brand),
g AS (SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS np
      FROM rws GROUP BY s),
cum AS (SELECT s, n, np,
               CAST(SUM(n) OVER (ORDER BY s) AS HUGEINT) AS hi
        FROM g),
agg AS (SELECT CAST(SUM(np) AS HUGEINT) AS p,
               CAST(SUM(n - np) AS HUGEINT) AS nn,
               COUNT(*) AS n_scores,
               SUM(CAST(np AS HUGEINT) * ((hi - n + 1) + hi)) AS u2
        FROM cum)
SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       n_scores,
       CASE WHEN p > 0 AND nn > 0 THEN
         CAST((2 * (u2 - p * (p + 1)) * 1000000 + 2 * p * nn)
              // (2 * (2 * p * nn)) AS DOUBLE) / 1000000.0 END AS auc_r
FROM agg
"""


_SQL_SHINGLES_SAMPLED = _SQL_SHINGLES.replace(
    "FROM documents", "FROM documents_s", 1)     if "FROM documents" in _SQL_SHINGLES else _SQL_SHINGLES

SQL_DEDUP_MINHASH_RECALL_SAMPLED = f"""
WITH documents_s AS (
  SELECT * FROM documents
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 5 = 0),
sh AS ({_SQL_SHINGLES_SAMPLED}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
truth AS (SELECT doc_a, doc_b FROM inter
          WHERE i / (ma + mb - i) >= 0.2),
pre AS (SELECT doc_id, shingles,
            list_transform(shingles,
              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
              AS xr FROM sh),
ab(i, a, b) AS (VALUES {_UH_SEEDS_VALUES}),
seeded AS (
  SELECT doc_id, ab.i, min((ab.a * u.x + ab.b) % 2147483647) AS mn
  FROM pre, unnest(xr) u(x), ab
  GROUP BY doc_id, ab.i),
sigs AS (
  SELECT doc_id, i // {_MINHASH_RPB} AS bidx,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bk
  FROM seeded GROUP BY doc_id, i // {_MINHASH_RPB}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.bidx = b.bidx AND a.bk = b.bk
                         AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS i,
         len(sa.shingles) AS ma, len(sb.shingles) AS mb
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b),
lsh AS (SELECT doc_a, doc_b FROM verified
        WHERE i / (ma + mb - i) >= 0.2),
n AS (SELECT
        (SELECT COUNT(*) FROM truth) AS n_truth,
        (SELECT COUNT(*) FROM lsh) AS n_lsh,
        (SELECT COUNT(*) FROM truth JOIN lsh USING (doc_a, doc_b))
          AS n_both)
SELECT n_truth, n_lsh, n_both,
       CASE WHEN n_truth > 0 THEN
         CAST((2 * CAST(n_both AS HUGEINT) * 1000000 + n_truth)
              // (2 * CAST(n_truth AS HUGEINT)) AS DOUBLE)
         / 1000000.0 END AS recall_r
FROM n
"""


SQL_SIM_LSH_RECALL = f"""
WITH
hp AS (
  SELECT t, p, d,
         (('0x' || substr(md5('hp,' || t || ',' || p || ',' || d), 1, 15))::BIGINT
          % 2001) - 1000 AS c
  FROM range(4) AS r1(t), range(8) AS r2(p), range(64) AS r3(d)),
qv AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT) AS q
  FROM embeddings),
dots AS (
  SELECT qv.vec_id, hp.t, hp.p, SUM(qv.q * hp.c) AS dt
  FROM qv JOIN hp ON qv.d = hp.d
  GROUP BY 1, 2, 3),
bkt AS (
  SELECT vec_id, t,
         SUM(CASE WHEN dt >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS b
  FROM dots GROUP BY 1, 2),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
  FROM bkt qb JOIN bkt cb ON qb.t = cb.t AND qb.b = cb.b
  WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id),
lscored AS (
  SELECT c.query_id, c.vec_id, list_dot_product(q.v, t.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))) AS cos
  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e t ON t.vec_id = c.vec_id),
lsh AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
    FROM lscored) WHERE rn <= 5),
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM (SELECT * FROM e WHERE vec_id < 5) q
  JOIN e c ON c.vec_id <> q.vec_id),
bf AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
    FROM bscored) WHERE rn <= 5),
qp AS (
  SELECT vec_id, t,
         CASE WHEN p = 8 THEN b
              ELSE xor(b, CAST(1 AS BIGINT) << p) END AS b
  FROM bkt, range(0, 9) r(p)
  WHERE vec_id < 5),
mcand AS (
  SELECT DISTINCT qp.vec_id AS query_id, cb.vec_id AS vec_id
  FROM qp JOIN bkt cb ON qp.t = cb.t AND qp.b = cb.b
  WHERE cb.vec_id <> qp.vec_id),
mscored AS (
  SELECT c.query_id, c.vec_id, list_dot_product(q.v, t.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v))) AS cos
  FROM mcand c JOIN e q ON q.vec_id = c.query_id JOIN e t ON t.vec_id = c.vec_id),
mp AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
    FROM mscored) WHERE rn <= 5),
hits AS (SELECT query_id, COUNT(*) AS n_hits
         FROM bf JOIN lsh USING (query_id, vec_id) GROUP BY 1),
mph AS (SELECT query_id, COUNT(*) AS n_mp_hits
        FROM bf JOIN mp USING (query_id, vec_id) GROUP BY 1),
nbf AS (SELECT query_id, COUNT(*) AS n_exact FROM bf GROUP BY 1),
nl AS (SELECT query_id, COUNT(*) AS n_lsh FROM lsh GROUP BY 1)
SELECT nbf.query_id, nbf.n_exact,
       COALESCE(nl.n_lsh, 0) AS n_lsh,
       COALESCE(hits.n_hits, 0) AS n_hits,
       CAST((2 * CAST(COALESCE(hits.n_hits, 0) AS HUGEINT) * 1000000
             + nbf.n_exact)
            // (2 * CAST(nbf.n_exact AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS recall_r,
       COALESCE(mph.n_mp_hits, 0) AS n_mp_hits,
       CAST((2 * CAST(COALESCE(mph.n_mp_hits, 0) AS HUGEINT) * 1000000
             + nbf.n_exact)
            // (2 * CAST(nbf.n_exact AS HUGEINT)) AS DOUBLE)
       / 1000000.0 AS mp_recall_r
FROM nbf
LEFT JOIN nl USING (query_id)
LEFT JOIN hits USING (query_id)
LEFT JOIN mph USING (query_id)
ORDER BY nbf.query_id
"""


SQL_PLAN_SESSION_FEATURES = """
WITH flagged AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id, epoch_us(ts) AS ts_us,
         event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
           AS cents,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                   > 1800000000
              OR lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events),
numbered AS (
  SELECT user_id, ts_us, event_type, cents,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged)
SELECT user_id, session_id,
       min(ts_us) AS session_start,
       max(ts_us) AS session_end,
       max(ts_us) - min(ts_us) AS duration_us,
       count(*) AS n_events,
       count(*) FILTER (WHERE event_type = 'view') AS n_views,
       count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS value_cents,
       CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') > 0
            THEN 1 ELSE 0 END AS converted
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


SQL_OP_AB_SRM = """
WITH units AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events)),
g AS (SELECT arm, COUNT(*) AS n FROM units GROUP BY arm),
j AS (SELECT (SELECT n FROM g WHERE arm = 0) AS n_a,
             (SELECT n FROM g WHERE arm = 1) AS n_b)
SELECT n_a + n_b AS n_units, n_a, n_b,
       round(CAST(CAST(n_a AS HUGEINT) - n_b AS DOUBLE)
             * CAST(CAST(n_a AS HUGEINT) - n_b AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) + n_b AS DOUBLE), 6) AS chi2_r,
       CAST(CAST(CAST(n_a AS HUGEINT) - n_b AS DOUBLE)
            * CAST(CAST(n_a AS HUGEINT) - n_b AS DOUBLE)
            / CAST(CAST(n_a AS HUGEINT) + n_b AS DOUBLE) > 3.84
            AS INT) AS srm_flag
FROM j
"""


SQL_OP_LINREG2_GROUP = """
WITH s AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(extract(month FROM l_shipdate) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
a AS (
  -- exact HUGEINT sums mirror the operator's DECIMAL(38,0) buffers
  SELECT g, COUNT(*) AS n,
         SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x1 AS HUGEINT)*CAST(x1 AS HUGEINT)) AS s11,
         SUM(CAST(x2 AS HUGEINT)*CAST(x2 AS HUGEINT)) AS s22,
         SUM(CAST(x1 AS HUGEINT)*CAST(x2 AS HUGEINT)) AS s12,
         SUM(CAST(x1 AS HUGEINT)*CAST(y AS HUGEINT)) AS s1y,
         SUM(CAST(x2 AS HUGEINT)*CAST(y AS HUGEINT)) AS s2y,
         SUM(CAST(y AS HUGEINT)*CAST(y AS HUGEINT)) AS syy
  FROM s GROUP BY g),
d AS (
  SELECT g, n, CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         CAST(sy AS DOUBLE) AS syd,
         CAST(s11 AS DOUBLE) AS s11d, CAST(s22 AS DOUBLE) AS s22d,
         CAST(s12 AS DOUBLE) AS s12d,
         CAST(s1y AS DOUBLE) AS s1yd, CAST(s2y AS DOUBLE) AS s2yd,
         CAST(syy AS DOUBLE) AS syyd
  FROM a),
g AS (
  SELECT g, n,
         nd*s11d - s1d*s1d AS a11, nd*s12d - s1d*s2d AS a12,
         nd*s22d - s2d*s2d AS a22,
         nd*s1yd - s1d*syd AS c1, nd*s2yd - s2d*syd AS c2,
         nd*syyd - syd*syd AS vy, nd, s1d, s2d, syd
  FROM d),
f AS (
  SELECT g, n, nd, s1d, s2d, syd, c1, c2, vy,
         a11*a22 - a12*a12 AS det, a11, a12, a22
  FROM g),
b AS (
  SELECT g, n, nd, s1d, s2d, syd, c1, c2, vy, det,
         (c1*a22 - c2*a12) / det AS b1c,
         (c2*a11 - c1*a12) / det AS b2c,
         (n >= 3 AND det > 0) AS ok
  FROM f)
SELECT g AS l_returnflag, n,
  round(CASE WHEN ok THEN b1c / 100.0 END, 6) AS b1,
  round(CASE WHEN ok THEN b2c / 100.0 END, 6) AS b2,
  round(CASE WHEN ok THEN
    (syd/100.0 - b1c*s1d/100.0 - b2c*s2d/100.0) / nd END, 6)
    AS intercept,
  round(CASE WHEN ok AND vy > 0 THEN
    greatest(least((b1c*c1 + b2c*c2) / vy, 1.0), 0.0) END, 6) AS r2
FROM b
"""


SQL_OP_NDCG_RETRIEVAL = """
WITH base AS (
  SELECT user_id, event_id, value AS score,
         CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
              WHEN 'click' THEN 1 ELSE 0 END AS rel
  FROM events),
g AS (
  SELECT user_id,
         CAST((1 << rel) - 1 AS BIGINT) AS gain,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id) AS r_sys,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY rel DESC, event_id) AS r_ideal
  FROM base),
-- the same literal micro-discount table the Spark operator embeds
w AS (SELECT * FROM (VALUES (1,1000000),(2,630930),(3,500000),
      (4,430677),(5,386853),(6,356207),(7,333333),(8,315465),
      (9,301030),(10,289065)) AS t(pos, wm)),
s AS (
  SELECT g.user_id, g.gain, ws.wm AS w_sys, wi.wm AS w_ideal
  FROM g LEFT JOIN w ws ON ws.pos = g.r_sys
         LEFT JOIN w wi ON wi.pos = g.r_ideal)
SELECT user_id, COUNT(*) AS n_ranked,
       CAST(coalesce(SUM(gain * w_sys), 0) AS BIGINT) AS dcg_micro,
       CAST(coalesce(SUM(gain * w_ideal), 0) AS BIGINT) AS idcg_micro,
       round(CASE WHEN coalesce(SUM(gain * w_ideal), 0) > 0 THEN
         CAST(coalesce(SUM(gain * w_sys), 0) AS DOUBLE)
         / CAST(coalesce(SUM(gain * w_ideal), 0) AS DOUBLE) END, 6)
         AS ndcg_r
FROM s GROUP BY user_id
"""


SQL_OP_COHENS_KAPPA = """
WITH lab AS (
  SELECT CASE WHEN n_chars < 200 THEN 'S'
              WHEN n_chars < 380 THEN 'M' ELSE 'L' END AS a,
         CASE WHEN t < 40 THEN 'S' WHEN t < 76 THEN 'M'
              ELSE 'L' END AS b
  FROM (SELECT n_chars,
               len(list_filter(regexp_split_to_array(trim(lower(text)),
                   '\\s+'), x -> x <> '')) AS t
        FROM documents)),
obs AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS diag
  FROM lab),
ma AS (SELECT a AS lab_k, CAST(COUNT(*) AS HUGEINT) AS ra
       FROM lab GROUP BY a),
mb AS (SELECT b AS lab_k, CAST(COUNT(*) AS HUGEINT) AS rb
       FROM lab GROUP BY b),
cx AS (SELECT coalesce(SUM(ra * rb), 0) AS s
       FROM ma JOIN mb USING (lab_k))
SELECT n,
  round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po_r,
  round(CAST(s AS DOUBLE)
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe_r,
  round(CASE WHEN CAST(s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
    (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
     - CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
    / (1.0 - CAST(s AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 6)
    AS kappa_r
FROM obs, cx
"""


SQL_PLAN_CORPUS_MIX = """
WITH t AS (
  SELECT * FROM (VALUES ('de', 200000), ('en', 200000), ('es', 200000),
                        ('fr', 200000), ('zh', 200000)) AS t(stratum, m)),
c AS (
  SELECT lang AS stratum, CAST(COUNT(*) AS HUGEINT) AS c
  FROM documents GROUP BY lang),
j AS (
  SELECT c.stratum, c.c, CAST(t.m AS HUGEINT) AS m
  FROM c JOIN t USING (stratum)),
b AS (SELECT MIN(c * 1000000 // m) AS B FROM j),
w AS (SELECT j.stratum, j.c, j.m, (j.m * b.B) // 1000000 AS want
      FROM j, b),
k AS (
  SELECT d.lang AS stratum, CAST(COUNT(*) AS HUGEINT) AS kept
  FROM documents d JOIN w ON d.lang = w.stratum
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
             ::BIGINT AS HUGEINT) * w.c
        < CAST(1152921504606846976 AS HUGEINT) * w.want
  GROUP BY d.lang),
tot AS (SELECT SUM(kept) AS tk FROM k)
SELECT w.stratum AS stratum,
       CAST(w.c AS BIGINT) AS n_total,
       CAST(w.want AS BIGINT) AS n_target,
       CAST(coalesce(k.kept, 0) AS BIGINT) AS n_kept,
       CAST(w.m AS INT) AS target_micro,
       CAST(coalesce(k.kept, 0) * 1000000 // tot.tk AS BIGINT)
         AS realized_micro
FROM w LEFT JOIN k USING (stratum), tot
"""


SQL_TEXT_VOCAB_COVERAGE = """
WITH tok AS (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                '\\s+'), x -> x <> '')) AS w
  FROM documents),
tf AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
v AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY n DESC, w ASC) AS rn FROM tf)
  WHERE rn <= 64)
SELECT t.grp AS source,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // COUNT(*) AS BIGINT) AS oov_micro
FROM tok t LEFT JOIN v ON t.w = v.w
GROUP BY t.grp
"""


SQL_SIM_EMBED_CENTROIDS = """
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS HUGEINT) AS xm
  FROM embeddings),
a AS (
  SELECT label, dim, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(xm) AS s, SUM(xm * xm) AS ss
  FROM ex GROUP BY label, dim)
SELECT label, CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                 ELSE -((2 * -s + n) // (2 * n)) END AS BIGINT)
         AS mean_micro,
       CAST((n * ss - s * s) // (n * n) AS BIGINT) AS var_micro2
FROM a
"""


SQL_OP_MRR_RETRIEVAL = """
WITH base AS (
  SELECT user_id, event_id, value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events),
g AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY score DESC, event_id) AS r
  FROM base),
a AS (
  SELECT user_id, COUNT(*) AS n_ranked,
         CAST(MIN(CASE WHEN r <= 10 AND rel = 1 THEN r END) AS BIGINT)
           AS first_rel_rank
  FROM g GROUP BY user_id),
m AS (SELECT * FROM (VALUES (1,1000000),(2,500000),(3,333333),
      (4,250000),(5,200000),(6,166667),(7,142857),(8,125000),
      (9,111111),(10,100000)) AS t(pos, rm))
SELECT a.user_id, a.n_ranked, a.first_rel_rank,
       CAST(coalesce(m.rm, 0) AS BIGINT) AS rr_micro,
       CASE WHEN a.first_rel_rank IS NOT NULL THEN 1 ELSE 0 END AS hit
FROM a LEFT JOIN m ON m.pos = a.first_rel_rank
"""


SQL_OP_RRF_FUSION = """
WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id) AS rb
  FROM events),
m AS (SELECT * FROM (VALUES (1,16393),(2,16129),(3,15873),(4,15625),
      (5,15385),(6,15152),(7,14925),(8,14706),(9,14493),(10,14286))
      AS t(pos, sc)),
f AS (
  SELECT r.user_id, r.event_id, r.ra, r.rb,
         CAST(coalesce(ma.sc, 0) + coalesce(mb.sc, 0) AS BIGINT) AS s
  FROM r LEFT JOIN m ma ON ma.pos = r.ra
         LEFT JOIN m mb ON mb.pos = r.rb
  WHERE coalesce(ma.sc, 0) + coalesce(mb.sc, 0) > 0),
g AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY s DESC, event_id ASC) AS fr
  FROM f)
SELECT user_id, event_id,
       CAST(CASE WHEN ra <= 10 THEN ra END AS BIGINT) AS rank_a,
       CAST(CASE WHEN rb <= 10 THEN rb END AS BIGINT) AS rank_b,
       s AS rrf_micro,
       CAST(fr AS BIGINT) AS fused_rank
FROM g WHERE fr <= 3
"""


SQL_PLAN_HYBRID_RETRIEVAL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents),
d AS (SELECT doc_id, len(ts) AS dl, ts FROM base),
stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM d),
hits AS (
  SELECT doc_id, dl, t, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ts) AS t FROM d)
  WHERE t IN ('hash', 'join', 'vector', 'stream')
  GROUP BY 1, 2, 3),
dfreq AS (SELECT t, count(*) AS df FROM hits GROUP BY t),
scored AS (
  SELECT h.doc_id,
         ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
          / (CAST(f.df AS DOUBLE) + 0.5))
         * (CAST(h.tf AS DOUBLE) * (1.2 + 1.0)
            / (CAST(h.tf AS DOUBLE)
               + 1.2 * (1.0 - 0.75 + 0.75 * CAST(h.dl AS DOUBLE)
                        / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
           AS w
  FROM hits h JOIN dfreq f USING (t) CROSS JOIN stats s),
lex0 AS (
  SELECT doc_id, round(sum(w), 6) AS score
  FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT 10),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
  FROM lex0),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0),
cos0 AS (
  SELECT c.vec_id AS doc_id,
         {_SQL_COS.format(a='q.v', b='c.v')} AS cos
  FROM e c, q WHERE c.vec_id <> 0),
sem0 AS (
  SELECT doc_id, round(cos, 4) AS cos_r FROM cos0
  ORDER BY cos DESC, doc_id ASC LIMIT 10),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_r DESC, doc_id ASC) AS rank_sem
  FROM sem0),
m AS (SELECT * FROM (VALUES (1,16393),(2,16129),(3,15873),(4,15625),
      (5,15385),(6,15152),(7,14925),(8,14706),(9,14493),(10,14286))
      AS t(pos, sc)),
f AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         lex.rank_lex, sem.rank_sem
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
s AS (
  SELECT f.doc_id,
         CAST(f.rank_lex AS BIGINT) AS rank_lex,
         CAST(f.rank_sem AS BIGINT) AS rank_sem,
         CAST(coalesce(ma.sc, 0) + coalesce(mb.sc, 0) AS BIGINT)
           AS rrf_micro
  FROM f LEFT JOIN m ma ON ma.pos = f.rank_lex
         LEFT JOIN m mb ON mb.pos = f.rank_sem)
SELECT doc_id, rank_lex, rank_sem, rrf_micro,
       CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC)
            AS BIGINT) AS fused_rank
FROM s
QUALIFY fused_rank <= 5
"""


SQL_TEXT_DSIR_SCORE = f"""
WITH t AS ({_SQL_WS_TOKENS}),
big AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) = 0 THEN []::VARCHAR[]
                ELSE list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 1), ' '))
                END) AS g
  FROM t),
dm AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS g,
         COUNT(*) AS m
  FROM big GROUP BY 1, 2),
cs AS (SELECT g, SUM(m) AS c_s FROM dm GROUP BY g),
ct AS (SELECT g, SUM(m) AS c_t FROM dm
       WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
       GROUP BY g),
tot AS (SELECT CAST(SUM(m) AS HUGEINT) AS n_src,
               CAST(coalesce(SUM(m) FILTER (WHERE doc_id IN
                 (SELECT doc_id FROM documents WHERE lang = 'en')), 0)
                 AS HUGEINT) AS n_tgt
        FROM dm),
stats AS (
  SELECT cs.g,
         (CAST(coalesce(ct.c_t, 0) + 1 AS HUGEINT) * (tot.n_src + 4096)
          * 1000000)
           // (CAST(cs.c_s + 1 AS HUGEINT) * (tot.n_tgt + 4096)) AS r
  FROM cs LEFT JOIN ct ON cs.g = ct.g, tot),
sc AS (
  SELECT dm.doc_id, SUM(dm.m) AS n_bigrams,
         SUM(CAST(dm.m AS HUGEINT) * s.r) AS s
  FROM dm JOIN stats s ON dm.g = s.g GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST((2 * s + n_bigrams)
            // (2 * CAST(n_bigrams AS HUGEINT)) AS BIGINT) AS imp_ppm
FROM sc
"""


SQL_TEXT_NOVELTY = f"""
WITH t AS ({_SQL_WS_TOKENS}),
g5 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) = 0 THEN []::VARCHAR[]
                ELSE list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 4), ' '))
                END) AS g
  FROM t),
h AS (SELECT DISTINCT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT AS g FROM g5),
refset AS (SELECT DISTINCT h.g FROM h JOIN documents d USING (doc_id)
           WHERE d.source = 'src0'),
probe AS (SELECT h.* FROM h JOIN documents d USING (doc_id)
          WHERE d.source <> 'src0'),
sc AS (
  SELECT p.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS novel
  FROM probe p LEFT JOIN refset r ON p.g = r.g GROUP BY 1)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST((2 * novel * 1000000 + n_grams) // (2 * n_grams) AS BIGINT)
         AS novel_ppm
FROM sc
"""


# Shared CTE chain for the nearest-centroid quantizer: per-label
# centroids in half-up integer micros (the embed_centroids contract),
# exact HUGEINT squared distances, deterministic argmin (lowest cluster
# id on ties) — the DuckDB twin of similarity.assign_nearest_centroid.
# ``src`` may be an earlier CTE of (vec_id, embedding, label) — the
# semdedup-clean composite quantizes only the survivor subset;
# ``fit_src`` fits the centroids on a different frame than the one
# being assigned (the incremental path's frozen quantizer).
def _sql_nearest_assign(src: str = "embeddings",
                        fit_src: str | None = None) -> str:
    return f"""
ex AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS HUGEINT) AS xm
  FROM {fit_src or src}),
cen AS (
  SELECT label AS cluster, dim,
         CAST(CASE WHEN SUM(xm) >= 0
              THEN (2 * SUM(xm) + COUNT(*)) // (2 * COUNT(*))
              ELSE -((2 * -SUM(xm) + COUNT(*)) // (2 * COUNT(*))) END
              AS HUGEINT) AS c
  FROM ex GROUP BY label, dim),
vq AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS HUGEINT) AS xm
  FROM {src}),
d2 AS (
  SELECT vq.vec_id, cen.cluster,
         SUM((vq.xm - cen.c) * (vq.xm - cen.c)) AS d2
  FROM vq JOIN cen ON vq.dim = cen.dim
  GROUP BY 1, 2),
asg AS (
  SELECT vec_id, cluster, d2 AS a2
  FROM (SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d2)
  WHERE rn = 1)
"""


_SQL_NEAREST_ASSIGN = _sql_nearest_assign()


# assign + the SemDeDup pair/threshold chain, parameterized the same
# way; ends at ``dup`` (the dropped ids) with ``asg`` still in scope.
def _sql_semdedup_ctes(src: str = "embeddings") -> str:
    return f"""{_sql_nearest_assign(src)},
n2 AS (SELECT vec_id, SUM(xm * xm) AS n2 FROM vq GROUP BY 1),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
dots AS (
  SELECT p.va, p.vb, SUM(x.xm * y.xm) AS dot
  FROM pairs p JOIN vq x ON x.vec_id = p.va
               JOIN vq y ON y.vec_id = p.vb AND y.dim = x.dim
  GROUP BY 1, 2),
dup AS (
  SELECT DISTINCT d.vb AS vec_id
  FROM dots d JOIN n2 na ON na.vec_id = d.va
              JOIN n2 nb ON nb.vec_id = d.vb
  WHERE na.n2 > 0 AND nb.n2 > 0 AND d.dot >= 0
    AND d.dot * d.dot * 400 >= na.n2 * nb.n2 * 289)
"""


SQL_SIM_SEMDEDUP = f"""
WITH {_sql_semdedup_ctes()}
SELECT a.vec_id, a.cluster, (dup.vec_id IS NULL) AS kept
FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
"""


def _sql_kmeans_train_unroll(iters: int) -> str:
    """CTE chain lbl0 -> lbl{iters}: Lloyd training unrolled — per
    round, half-up integer-micro centroids of the previous labeling,
    then nearest-centroid reassignment with (d2, cluster) tie-break;
    mirrors kmeans_train_assign round for round."""
    parts = [
        "lbl0 AS (SELECT vec_id, label AS lbl FROM embeddings)",
        """vqk AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS HUGEINT) AS xm
  FROM embeddings)""",
    ]
    for i in range(iters):
        parts.append(f"""cenk{i} AS (
  SELECT l.lbl AS cluster, v.dim,
         CAST(CASE WHEN SUM(v.xm) >= 0
              THEN (2 * SUM(v.xm) + COUNT(*)) // (2 * COUNT(*))
              ELSE -((2 * -SUM(v.xm) + COUNT(*)) // (2 * COUNT(*))) END
              AS HUGEINT) AS c
  FROM vqk v JOIN lbl{i} l ON l.vec_id = v.vec_id
  GROUP BY 1, 2)""")
        parts.append(f"""d2k{i} AS (
  SELECT v.vec_id, c.cluster,
         SUM((v.xm - c.c) * (v.xm - c.c)) AS d2
  FROM vqk v JOIN cenk{i} c ON v.dim = c.dim
  GROUP BY 1, 2)""")
        parts.append(f"""lbl{i + 1} AS (
  SELECT vec_id, cluster AS lbl
  FROM (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d2k{i})
  WHERE rn = 1)""")
    return ",\n".join(parts)


def _sql_plan_kmeans_train(iters: int = 2) -> str:
    return f"""
WITH {_sql_kmeans_train_unroll(iters)},
trained AS (
  SELECT e.vec_id, e.embedding, l.lbl AS label
  FROM embeddings e JOIN lbl{iters} l ON l.vec_id = e.vec_id),
{_sql_semdedup_ctes('trained')}
SELECT a.vec_id, a.cluster, (dup.vec_id IS NULL) AS kept
FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
"""


SQL_SIM_SILHOUETTE = f"""
WITH {_SQL_NEAREST_ASSIGN},
oth AS (
  SELECT d2.vec_id, MIN(d2.d2) AS b2
  FROM d2 JOIN asg ON asg.vec_id = d2.vec_id AND d2.cluster <> asg.cluster
  GROUP BY 1),
pv AS (
  SELECT asg.vec_id, asg.cluster,
         CASE WHEN oth.b2 = 0 THEN 0
              ELSE (2 * (oth.b2 - asg.a2) * 1000000 + oth.b2)
                   // (2 * oth.b2)
         END AS s_ppm
  FROM asg JOIN oth ON oth.vec_id = asg.vec_id)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
       CAST((2 * SUM(s_ppm) + COUNT(*))
            // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS mean_sil_ppm
FROM pv GROUP BY cluster
"""


def _sql_gopher() -> str:
    stop_hits = _sql_marker_hits(text.STOPWORDS)
    return f"""
WITH f AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t,
         length(regexp_replace(text, '\\s+', '', 'g')) AS chars,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS sym,
         list_filter(string_split(text, chr(10)),
                     x -> trim(x) <> '') AS lines,
         {stop_hits} AS stop_hits
  FROM documents),
r AS (
  SELECT doc_id, len(t) AS n,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
         chars, sym, len(lines) AS n_lines,
         len(list_filter(lines,
             x -> regexp_matches(ltrim(x), '^[-*•]'))) AS bullets,
         stop_hits
  FROM f)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       (n >= 50 AND n <= 100000) AS r_words,
       (n > 0 AND chars >= 3 * n AND chars <= 10 * n) AS r_mean_len,
       (n > 0 AND 10 * sym <= n) AS r_symbol,
       (n_lines = 0 OR 10 * bullets <= 9 * n_lines) AS r_bullet,
       (n > 0 AND 5 * alpha >= 4 * n) AS r_alpha,
       (stop_hits >= 2) AS r_stop,
       ((n >= 50 AND n <= 100000)
        AND (n > 0 AND chars >= 3 * n AND chars <= 10 * n)
        AND (n > 0 AND 10 * sym <= n)
        AND (n_lines = 0 OR 10 * bullets <= 9 * n_lines)
        AND (n > 0 AND 5 * alpha >= 4 * n)
        AND stop_hits >= 2) AS pass_gopher
FROM r
"""


def _sql_curation_report() -> str:
    return f"""
WITH goph AS (
  SELECT g.*, d.source, d.lang
  FROM ({_sql_gopher()}) g JOIN documents d USING (doc_id)),
imp AS (SELECT doc_id, imp_ppm FROM ({SQL_TEXT_DSIR_SCORE})),
j AS (
  SELECT goph.*,
         (goph.pass_gopher
          AND coalesce(imp.imp_ppm, 0) >= 1000000) AS sel
  FROM goph LEFT JOIN imp USING (doc_id))
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pass_gopher THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_gopher,
       CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(SUM(CASE WHEN sel THEN n_words ELSE 0 END) AS BIGINT)
         AS tok_selected
FROM j GROUP BY source, lang
"""


SQL_TEXT_CORPUS_TV = """
WITH tok AS (
  SELECT source AS grp,
         unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           x -> x <> '')) AS t
  FROM documents),
sg AS (
  SELECT grp, ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096 AS g,
         COUNT(*) AS m
  FROM tok GROUP BY 1, 2),
gtot AS (
  SELECT g, SUM(m) AS mg, CAST(SUM(SUM(m)) OVER () AS HUGEINT) AS n
  FROM sg GROUP BY g),
stot AS (SELECT grp, CAST(SUM(m) AS HUGEINT) AS ns FROM sg GROUP BY grp),
per AS (
  SELECT sg.grp, MAX(stot.ns) AS ns, MAX(gtot.n) AS n,
         CAST(SUM(gtot.mg) AS HUGEINT) AS mgp,
         SUM(abs(CAST(sg.m AS HUGEINT) * gtot.n
                 - CAST(gtot.mg AS HUGEINT) * stot.ns)) AS bad
  FROM sg JOIN gtot ON sg.g = gtot.g JOIN stot ON sg.grp = stot.grp
  GROUP BY sg.grp)
SELECT grp AS source, CAST(ns AS BIGINT) AS n_tokens,
       CAST((2 * (bad + (n - mgp) * ns) * 1000000 + 2 * ns * n)
            // (4 * ns * n) AS BIGINT) AS tv_ppm
FROM per
"""


def _sql_semdedup_clean() -> str:
    return f"""
WITH goph AS (
  SELECT g.doc_id, g.pass_gopher, d.source, d.lang, d.text
  FROM ({_sql_gopher()}) g JOIN documents d USING (doc_id)),
p1 AS (SELECT * FROM goph WHERE pass_gopher),
keep1 AS (SELECT min(doc_id) AS doc_id FROM p1 GROUP BY md5(text)),
s1 AS (SELECT p1.doc_id, p1.source, p1.lang
       FROM p1 JOIN keep1 USING (doc_id)),
emb_f AS (SELECT e.* FROM embeddings e JOIN s1 ON s1.doc_id = e.vec_id),
{_sql_semdedup_ctes('emb_f')},
kept AS (
  SELECT a.vec_id FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
  WHERE dup.vec_id IS NULL),
base AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         SUM(CASE WHEN pass_gopher THEN 1 ELSE 0 END) AS n_gopher
  FROM goph GROUP BY 1, 2),
exd AS (SELECT source, lang, COUNT(*) AS n_exact FROM s1 GROUP BY 1, 2),
fin AS (
  SELECT s1.source, s1.lang, COUNT(*) AS n_final
  FROM s1 JOIN kept ON kept.vec_id = s1.doc_id GROUP BY 1, 2)
SELECT base.source, base.lang,
       CAST(base.n_docs AS BIGINT) AS n_docs,
       CAST(base.n_gopher AS BIGINT) AS n_gopher,
       CAST(coalesce(exd.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(fin.n_final, 0) AS BIGINT) AS n_final
FROM base LEFT JOIN exd USING (source, lang)
          LEFT JOIN fin USING (source, lang)
"""


SQL_OP_K_ANONYMITY = """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
         COUNT(DISTINCT c_acctbal) AS l
  FROM customer GROUP BY 1, 2)
SELECT CAST(5 AS BIGINT) AS k,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS n_violating_rows,
       CAST(MIN(l) AS BIGINT) AS min_l
FROM cls
"""


def _sql_semdedup_incr() -> str:
    return f"""
WITH ex_src AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
{_sql_nearest_assign(src="embeddings", fit_src="ex_src")},
n2 AS (SELECT vec_id, SUM(xm * xm) AS n2 FROM vq GROUP BY 1),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM asg a JOIN asg b
    ON a.cluster = b.cluster AND b.vec_id % 5 = 0
   AND (a.vec_id % 5 <> 0 OR a.vec_id < b.vec_id)
   AND a.vec_id <> b.vec_id),
dots AS (
  SELECT p.va, p.vb, SUM(x.xm * y.xm) AS dot
  FROM pairs p JOIN vq x ON x.vec_id = p.va
               JOIN vq y ON y.vec_id = p.vb AND y.dim = x.dim
  GROUP BY 1, 2),
dup AS (
  SELECT DISTINCT d.vb AS vec_id
  FROM dots d JOIN n2 na ON na.vec_id = d.va
              JOIN n2 nb ON nb.vec_id = d.vb
  WHERE na.n2 > 0 AND nb.n2 > 0 AND d.dot >= 0
    AND d.dot * d.dot * 400 >= na.n2 * nb.n2 * 289)
SELECT a.vec_id, a.cluster, (dup.vec_id IS NULL) AS kept
FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
WHERE a.vec_id % 5 = 0
"""


def _sql_kmeans_step() -> str:
    return f"""
WITH {_sql_nearest_assign()},
rl AS (
  SELECT asg.cluster AS k, e.embedding
  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id),
ex2 AS (
  SELECT k, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS HUGEINT) AS xm
  FROM rl),
a AS (
  SELECT k, dim, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(xm) AS s, SUM(xm * xm) AS ss
  FROM ex2 GROUP BY k, dim)
SELECT k AS cluster, CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                 ELSE -((2 * -s + n) // (2 * n)) END AS BIGINT)
         AS mean_micro,
       CAST((n * ss - s * s) // (n * n) AS BIGINT) AS var_micro2
FROM a
"""


def _sql_stream_quality_gate() -> str:
    return f"""
WITH goph AS (
  SELECT g.doc_id, g.pass_gopher, d.source
  FROM ({_sql_gopher()}) g JOIN documents d USING (doc_id))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pass_gopher THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass
FROM goph GROUP BY source
"""


SQL_OP_WMA = """
WITH t AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
l AS (
  SELECT event_type, ts, event_id,
         lag(c, 0) OVER w AS c0, lag(c, 1) OVER w AS c1,
         lag(c, 2) OVER w AS c2, lag(c, 3) OVER w AS c3
  FROM t WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
s AS (
  SELECT event_type, ts, event_id,
         coalesce(c0, 0) * 8 + coalesce(c1, 0) * 4
           + coalesce(c2, 0) * 2 + coalesce(c3, 0) AS n,
         (CASE WHEN c0 IS NOT NULL THEN 8 ELSE 0 END
          + CASE WHEN c1 IS NOT NULL THEN 4 ELSE 0 END
          + CASE WHEN c2 IS NOT NULL THEN 2 ELSE 0 END
          + CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS d
  FROM l)
SELECT event_type, ts, event_id,
       CAST(CASE WHEN d = 0 THEN NULL
            WHEN n >= 0 THEN (2 * n * 10000 + d) // (2 * d)
            ELSE -((2 * -n * 10000 + d) // (2 * d)) END AS BIGINT)
         AS wma_micro
FROM s
"""


SQL_OP_CORR_MATRIX = """
WITH c AS (
  SELECT CAST(round(l_quantity * 100) AS HUGEINT) AS a,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS b,
         CAST(round(l_discount * 100) AS HUGEINT) AS d
  FROM lineitem),
g AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(a) AS sa, SUM(b) AS sb, SUM(d) AS sd,
         SUM(a * a) AS qa, SUM(b * b) AS qb, SUM(d * d) AS qd,
         SUM(a * b) AS xab, SUM(a * d) AS xad, SUM(b * d) AS xbd
  FROM c),
p AS (
  SELECT * FROM (VALUES
    ('l_quantity', 'l_extendedprice', 1),
    ('l_quantity', 'l_discount', 2),
    ('l_extendedprice', 'l_discount', 3)) AS t(col_a, col_b, k))
SELECT p.col_a, p.col_b, CAST(g.n AS BIGINT) AS n,
       CASE p.k
         WHEN 1 THEN CASE WHEN (g.n*g.qa - g.sa*g.sa) > 0
                           AND (g.n*g.qb - g.sb*g.sb) > 0
           THEN round(CAST(g.n*g.xab - g.sa*g.sb AS DOUBLE)
                / sqrt(CAST(g.n*g.qa - g.sa*g.sa AS DOUBLE)
                       * CAST(g.n*g.qb - g.sb*g.sb AS DOUBLE)), 6) END
         WHEN 2 THEN CASE WHEN (g.n*g.qa - g.sa*g.sa) > 0
                           AND (g.n*g.qd - g.sd*g.sd) > 0
           THEN round(CAST(g.n*g.xad - g.sa*g.sd AS DOUBLE)
                / sqrt(CAST(g.n*g.qa - g.sa*g.sa AS DOUBLE)
                       * CAST(g.n*g.qd - g.sd*g.sd AS DOUBLE)), 6) END
         ELSE CASE WHEN (g.n*g.qb - g.sb*g.sb) > 0
                    AND (g.n*g.qd - g.sd*g.sd) > 0
           THEN round(CAST(g.n*g.xbd - g.sb*g.sd AS DOUBLE)
                / sqrt(CAST(g.n*g.qb - g.sb*g.sb AS DOUBLE)
                       * CAST(g.n*g.qd - g.sd*g.sd AS DOUBLE)), 6) END
       END AS corr6
FROM p, g
"""

def _sql_op_bootstrap_ci(replicas: int = 64) -> str:
    from .operators.stats import POISSON1_CDF_PPM
    wsum = " + ".join(f"(CASE WHEN bkt >= {t} THEN 1 ELSE 0 END)"
                      for t in POISSON1_CDF_PPM)
    lo_i = int(0.025 * replicas) + 1
    hi_i = -(-975 * replicas // 1000)
    return f"""
WITH base AS (
  SELECT o_orderkey AS id,
         CAST(round(o_totalprice * 100) AS HUGEINT) AS c
  FROM orders),
rep AS (
  SELECT t.b AS _b, c,
         ('0x' || substr(md5('boot,' || CAST(t.b AS VARCHAR) || ',' ||
                              CAST(id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bkt
  FROM base, unnest(range(-1, {replicas})) t(b)),
wrep AS (
  SELECT _b, c,
         CASE WHEN _b = -1 THEN CAST(1 AS HUGEINT)
              ELSE CAST({wsum} AS HUGEINT) END AS w
  FROM rep),
agg AS (
  SELECT _b, SUM(w * c) AS s, SUM(w) AS n, COUNT(*) AS rows_
  FROM wrep GROUP BY _b),
per AS (
  SELECT _b, rows_,
         CASE WHEN n = 0 THEN NULL
              WHEN s >= 0 THEN CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT)
              ELSE CAST(-((2 * -s * 10000 + n) // (2 * n)) AS BIGINT)
         END AS mm
  FROM agg),
o AS (SELECT list(mm ORDER BY mm) AS ms FROM per WHERE _b >= 0)
SELECT (SELECT rows_ FROM per WHERE _b = -1) AS n_rows,
       (SELECT mm FROM per WHERE _b = -1) AS mean_micro,
       ms[{lo_i}] AS ci_lo_micro,
       ms[{hi_i}] AS ci_hi_micro,
       CAST({replicas} AS BIGINT) AS n_replicas
FROM o
"""


def _sql_text_contamination_coverage(n: int = 5,
                                     flag_ppm: int = 800_000) -> str:
    from .catalog_oracles import _SQL_WS_TOKENS, _sql_ngrams
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
g AS ({_sql_ngrams(n, distinct=False)}),
corpus AS (
  SELECT g.doc_id, len(t.t) AS m, unnest(g.grams) AS gr,
         generate_subscripts(g.grams, 1) - 1 AS p
  FROM g JOIN t ON t.doc_id = g.doc_id
  WHERE g.doc_id % 100 <> 0),
bank AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 100 = 0),
iv AS (SELECT DISTINCT c.doc_id, c.p AS s, least(c.p + {n - 1}, c.m - 1) AS e
       FROM corpus c JOIN bank b ON c.gr = b.gr),
w AS (SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM iv),
isl AS (SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
cov AS (SELECT doc_id, SUM(mx - mn + 1) AS covered
        FROM (SELECT doc_id, island, min(s) AS mn, max(e) AS mx
              FROM isl GROUP BY 1, 2) GROUP BY 1),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
         FROM t WHERE doc_id % 100 <> 0)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(CASE WHEN b.n_tokens > 0
                 THEN COALESCE(c.covered, 0) * 1000000 // b.n_tokens
                 ELSE 0 END AS BIGINT) AS coverage_ppm,
       (CASE WHEN b.n_tokens > 0
             THEN COALESCE(c.covered, 0) * 1000000 // b.n_tokens
             ELSE 0 END) >= {flag_ppm} AS contaminated
FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
"""


SQL_TEXT_C4_RULES = """
WITH l AS (
  SELECT doc_id, text,
         list_filter(list_transform(str_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines
  FROM documents),
f AS (
  SELECT doc_id, text, len(lines) AS n_lines,
         len(list_filter(lines, x ->
               regexp_matches(x, '[.!?"]$')
               AND len(list_filter(regexp_split_to_array(x, '\\s+'),
                                   w -> w <> '')) >= 5
               AND NOT contains(lower(x), 'javascript'))) AS n_kept,
         len(regexp_extract_all(text, '[.!?]')) AS n_sent
  FROM l)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept_lines,
       CAST(n_sent AS BIGINT) AS n_sentences,
       n_sent >= 3 AS r_sentences,
       NOT contains(lower(text), 'lorem ipsum') AS r_no_lorem,
       NOT contains(text, '{') AS r_no_brace,
       (n_sent >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{') AND n_kept >= 1) AS pass_c4
FROM f
"""


SQL_OP_TRAIN_SPLIT = """
SELECT doc_id, source,
       CASE WHEN b < 100000 THEN 'test'
            WHEN b < 200000 THEN 'val'
            ELSE 'train' END AS split
FROM (SELECT doc_id, source,
             ('0x' || substr(md5('split,' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 1000000 AS b
      FROM documents)
"""




def _sql_dedup_substring(min_len: int = 25, flag_ppm: int = 500_000) -> str:
    """DuckDB twin of dedup.substring_dup_coverage: stride-1 md5'd
    token windows, recurring-hash filter, per-doc gap-and-islands merge
    (same island SQL as the contamination-coverage twin)."""
    from .catalog_oracles import _SQL_WS_TOKENS
    L = min_len
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
hs AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {L}
              THEN list_transform(range(1, len(t) - {L} + 2),
                     i -> md5(array_to_string(list_slice(t, i, i + {L} - 1),
                                              ' ')))
              ELSE []::VARCHAR[] END AS hl
  FROM t),
occ AS (SELECT doc_id, unnest(hl) AS h,
               generate_subscripts(hl, 1) - 1 AS p
        FROM hs),
dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
iv AS (SELECT o.doc_id, o.p AS s, o.p + {L} - 1 AS e
       FROM occ o JOIN dup d USING (h)),
w AS (SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM iv),
isl AS (SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
cov AS (SELECT doc_id, SUM(mx - mn + 1) AS covered, COUNT(*) AS spans
        FROM (SELECT doc_id, island, min(s) AS mn, max(e) AS mx
              FROM isl GROUP BY 1, 2) GROUP BY 1),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM t)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS dup_tokens,
       CAST(CASE WHEN b.n_tokens > 0
                 THEN COALESCE(c.covered, 0) * 1000000 // b.n_tokens
                 ELSE 0 END AS BIGINT) AS dup_ppm,
       CAST(COALESCE(c.spans, 0) AS BIGINT) AS n_spans,
       (CASE WHEN b.n_tokens > 0
             THEN COALESCE(c.covered, 0) * 1000000 // b.n_tokens
             ELSE 0 END) >= {flag_ppm} AS dup_heavy
FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
"""


def _sql_bpe_apply_body(k: int) -> str:
    """The apply half of one unrolled BPE round: given e{k} (a 1-row
    (l, r) pair from election OR a literal), merge v{k-1} into v{k}.
    The greedy left-to-right fold is replayed position-wise: candidate
    positions, runs of consecutive candidates (i - row_number), odd
    in-run ranks win, winner positions merge and absorb position
    i+1. Shared by the training twins and the encode twin."""
    return f"""
s{k} AS MATERIALIZED (SELECT word, freq, unnest(syms) AS sym,
                generate_subscripts(syms, 1) AS i
         FROM v{k - 1}),
c{k} AS MATERIALIZED (
  SELECT a.word, a.i
  FROM s{k} a
  JOIN s{k} b ON b.word = a.word AND b.i = a.i + 1
  CROSS JOIN e{k} e
  WHERE a.sym = e.l AND b.sym = e.r),
tk{k} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i,
           row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rr
    FROM (SELECT word, i,
                 i - row_number() OVER (PARTITION BY word ORDER BY i)
                   AS grp
          FROM c{k}))
  WHERE rr % 2 = 1),
v{k} AS MATERIALIZED (
  SELECT word, any_value(freq) AS freq, list(osym ORDER BY i) AS syms
  FROM (
    SELECT s.word, s.freq, s.i,
           CASE WHEN tt.i IS NOT NULL THEN e.l || e.r ELSE s.sym END
             AS osym
    FROM s{k} s
    CROSS JOIN e{k} e
    LEFT JOIN tk{k} tt ON tt.word = s.word AND tt.i = s.i
    LEFT JOIN tk{k} dd ON dd.word = s.word AND dd.i = s.i - 1
    WHERE dd.i IS NULL)
  GROUP BY word)"""


def _sql_bpe_round(k: int) -> str:
    """One unrolled BPE TRAINING round k: pair counts p{k} over
    v{k-1}, 1-row election e{k} under the pinned tie-break, then the
    shared apply body merges into v{k}."""
    return f"""
p{k} AS MATERIALIZED (
  SELECT v.syms[u.i] AS l, v.syms[u.i + 1] AS r, SUM(v.freq) AS c
  FROM v{k - 1} v, unnest(range(1, len(v.syms))) u(i)
  GROUP BY 1, 2),
e{k} AS MATERIALIZED (SELECT l, r, c FROM p{k}
         ORDER BY c DESC, l ASC, r ASC LIMIT 1),{_sql_bpe_apply_body(k)}"""


def _sql_sq(s: str) -> str:
    """Single-quote a SQL string literal (doubles embedded quotes)."""
    return "'" + s.replace("'", "''") + "'"


def _sql_bpe_apply_round(k: int, left: str, right: str) -> str:
    """One unrolled BPE ENCODE round k: e{k} is the LITERAL learned
    pair (no election), then the shared apply body merges v{k-1} into
    v{k} — the replay of bpe.bpe_apply_merges' rank-k fold."""
    return f"""
e{k} AS (SELECT {_sql_sq(left)} AS l, {_sql_sq(right)} AS r),\
{_sql_bpe_apply_body(k)}"""


# RE2 twin of Java's regex '.' (no DOTALL): Java's dot refuses all
# FIVE line terminators, while RE2's bare '.' excludes only \n — so on
# a word containing U+0085/U+2028/U+2029 (not ASCII whitespace; they
# survive tokens() inside words) both Spark engines would diverge from
# a bare-'.' oracle TOGETHER (r12 ADVICE: the engine-vs-oracle half of
# the line-terminator seam). The explicit class pins the oracle to the
# Java semantics the engines share (tokenizer_arrow.java_dot_chars).
_RE2_JAVA_DOT = r"[^\n\r\x{0085}\x{2028}\x{2029}]"

_SQL_BPE_V0 = f"""
v0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         list_append(regexp_extract_all(word, '{_RE2_JAVA_DOT}'),
                     '</w>') AS syms
  FROM (SELECT unnest(t) AS word FROM t)
  GROUP BY word)"""


def _sql_op_bpe_merge_step() -> str:
    from .catalog_oracles import _SQL_WS_TOKENS
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),{_SQL_BPE_V0},{_sql_bpe_round(1)}
SELECT v.word, v.freq,
       CAST(len(v.syms) AS BIGINT) AS n_syms,
       array_to_string(v.syms, ' ') AS syms,
       e.l AS left_sym, e.r AS right_sym,
       CAST(e.c AS BIGINT) AS pair_count
FROM v1 v CROSS JOIN e1 e
"""


def _sql_op_bpe_batch_elect(m: int = 4) -> str:
    """DuckDB twin of bpe.bpe_elect_batch over the documents vocab's
    initial pair counts: the greedy pairwise symbol-disjoint top-m
    selection unrolled — s_k is the first pair in (count DESC, left,
    right) order sharing no symbol with s_1..s_{k-1}, whose symbols
    also avoid every kept pair's CONCATENATION and whose own
    concatenation avoids every kept symbol (the r12
    concatenation-collision guard, mirroring bpe_elect_batch)."""
    from .catalog_oracles import _SQL_WS_TOKENS
    steps = ["s1 AS MATERIALIZED (SELECT l, r, c FROM p1"
             " ORDER BY c DESC, l ASC, r ASC LIMIT 1)"]
    for k in range(2, m + 1):
        prev = " UNION ALL ".join(
            f"SELECT * FROM s{j}" for j in range(1, k))
        steps.append(f"""
s{k} AS MATERIALIZED (
  SELECT l, r, c FROM p1 p
  WHERE NOT EXISTS (SELECT 1 FROM ({prev}) q
                    WHERE p.l IN (q.l, q.r) OR p.r IN (q.l, q.r)
                       OR p.l = q.l || q.r OR p.r = q.l || q.r
                       OR (p.l || p.r) IN (q.l, q.r))
  ORDER BY c DESC, l ASC, r ASC LIMIT 1)""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS batch_rank, l AS left_sym,"
        f" r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM s{k}"
        for k in range(1, m + 1))
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),{_SQL_BPE_V0},
p1 AS MATERIALIZED (
  SELECT v.syms[u.i] AS l, v.syms[u.i + 1] AS r, SUM(v.freq) AS c
  FROM v0 v, unnest(range(1, len(v.syms))) u(i)
  GROUP BY 1, 2),
{",".join(steps)}
{union}
"""


def _sql_plan_bpe_train(n_merges: int = 8) -> str:
    from .catalog_oracles import _SQL_WS_TOKENS
    rounds = ",".join(_sql_bpe_round(k) for k in range(1, n_merges + 1))
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM e{k}"
        for k in range(1, n_merges + 1))
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),{_SQL_BPE_V0},{rounds}
{union}
"""


# DuckDB twin of bpe.gpt2_pieces (the GPT-2 contraction/category
# pre-tokenizer): RE2 has no lookahead, so instead of the Java regex
# the partition is replayed as a per-CHARACTER boundary predicate
# derived from the pattern's leftmost-first alternation semantics —
# boundary rules between adjacent chars (prev p1/cat q1, cur c/cat k,
# lag 2-4 and lead 1 for the contraction and trailing-whitespace
# cases), a running-sum piece id, and two ordered aggregations back to
# the per-doc piece list. Character categories are pinned to the
# semantics Java and RE2 share: whitespace is the EXPLICIT class
# [ \t\n\x0B\f\r] (Java \s), letters/digits the unicode \p{L}/\p{N}.
# The contraction carve-outs fire only when the apostrophe STARTS a
# token (preceded by letter/digit/non-space-whitespace or
# start-of-string — an apostrophe inside an other-run or after an
# attaching space is swallowed by the run, exactly the regex's
# behavior). Proven equal to the Spark regex on contractions,
# category runs, unicode text, and multi-space donation by the
# three-way parity tests (tests/test_round14.py).
_SQL_GPT2_TOKENS_WITH = r"""
gch AS (
  SELECT d.doc_id, u.i, d.cs[u.i] AS c
  FROM (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs
        FROM documents) d,
       UNNEST(generate_series(1, len(d.cs))) AS u(i)),
gcl AS (
  SELECT doc_id, i, c,
         CASE WHEN c IN (' ', chr(9), chr(10), chr(11), chr(12),
                         chr(13)) THEN 'W'
              WHEN regexp_matches(c, '\p{L}') THEN 'A'
              WHEN regexp_matches(c, '\p{N}') THEN 'D'
              ELSE 'O' END AS k
  FROM gch),
gw AS (
  SELECT doc_id, i, c, k,
         lag(c, 1) OVER win AS p1, lag(k, 1) OVER win AS q1,
         lag(c, 2) OVER win AS p2, lag(k, 2) OVER win AS q2,
         lag(c, 3) OVER win AS p3, lag(k, 3) OVER win AS q3,
         lag(c, 4) OVER win AS p4, lag(k, 4) OVER win AS q4,
         lead(c, 1) OVER win AS n1, lead(k, 1) OVER win AS r1
  FROM gcl
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
gb AS (
  SELECT doc_id, i, c,
    CASE
      WHEN i = 1 THEN 0
      WHEN q1 <> 'W' AND k = 'W' THEN 1
      WHEN q1 = 'W' AND k <> 'W' THEN
        CASE WHEN p1 <> ' ' THEN 1 ELSE 0 END
      WHEN q1 = 'W' AND k = 'W' THEN
        CASE WHEN r1 IS NOT NULL AND r1 <> 'W' THEN 1 ELSE 0 END
      WHEN p1 = chr(39)
           AND (i = 2 OR q2 IN ('A', 'D') OR (q2 = 'W' AND p2 <> ' '))
           AND (c IN ('s', 't', 'm', 'd')
                OR (c = 'r' AND n1 = 'e') OR (c = 'v' AND n1 = 'e')
                OR (c = 'l' AND n1 = 'l'))
        THEN 0
      WHEN p2 = chr(39)
           AND (i = 3 OR q3 IN ('A', 'D') OR (q3 = 'W' AND p3 <> ' '))
           AND p1 IN ('s', 't', 'm', 'd')
        THEN 1
      WHEN p3 = chr(39)
           AND (i = 4 OR q4 IN ('A', 'D') OR (q4 = 'W' AND p4 <> ' '))
           AND ((p2 = 'r' AND p1 = 'e') OR (p2 = 'v' AND p1 = 'e')
                OR (p2 = 'l' AND p1 = 'l'))
        THEN 1
      WHEN q1 <> k THEN 1
      ELSE 0
    END AS b
  FROM gw),
gp AS (
  SELECT doc_id, i, c,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS UNBOUNDED PRECEDING) AS pid
  FROM gb),
gt AS (
  SELECT doc_id, pid, string_agg(c, '' ORDER BY i) AS piece
  FROM gp GROUP BY doc_id, pid),
t AS (
  SELECT doc_id, list(piece ORDER BY pid) AS t
  FROM gt GROUP BY doc_id)"""


def _sql_op_gpt2_pretok() -> str:
    """Twin of q_op_gpt2_pretok: piece count + md5 fingerprint of the
    chr(31)-joined piece stream. LEFT JOIN from documents so an
    empty-text doc reads (0, md5('')) like the Spark side, instead of
    dropping out of the char-explode."""
    return f"""
WITH {_SQL_GPT2_TOKENS_WITH}
SELECT d.doc_id,
       CAST(COALESCE(len(t.t), 0) AS BIGINT) AS n_pieces,
       md5(COALESCE(array_to_string(t.t, chr(31)), '')) AS pieces_md5
FROM documents d LEFT JOIN t USING (doc_id)
"""


def _sql_op_bpe_encode(merges, sym_split: str | None = None,
                       tokens_with: str | None = None) -> str:
    """DuckDB twin of bpe.bpe_encode with a literal merge table: the
    distinct-word vocab is segmented by the unrolled apply rounds
    (each the same position-based greedy replay the training twin
    uses, with the pair as a VALUES literal), then per-doc totals come
    from the (doc, word) counts joined on the segmentation.
    ``sym_split`` selects the v0 alphabet (bpe.word_syms' basis dial):
    default Java-dot characters; the bytes basis passes the hex-pair
    split. ``tokens_with`` selects the pre-tokenizer CTE chain ending
    in t(doc_id, t) (bpe.pretok_pieces' dial): default the whitespace
    split; the gpt2 dial passes the boundary-predicate replay."""
    from .catalog_oracles import _SQL_WS_TOKENS
    if sym_split is None:
        sym_split = f"regexp_extract_all(word, '{_RE2_JAVA_DOT}')"
    if tokens_with is None:
        tokens_with = f"t AS ({_SQL_WS_TOKENS})"
    rounds = ",".join(_sql_bpe_apply_round(k, a, b)
                      for k, (a, b) in enumerate(merges, start=1))
    R = len(merges)
    return f"""
WITH {tokens_with},
wcc AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(t) AS word FROM t)
  GROUP BY 1, 2),
v0 AS MATERIALIZED (
  SELECT word, CAST(1 AS BIGINT) AS freq,
         list_append({sym_split}, '</w>') AS syms
  FROM (SELECT DISTINCT word FROM wcc)),{rounds},
seg AS (SELECT word, CAST(len(syms) AS BIGINT) AS np FROM v{R})
SELECT w.doc_id,
       CAST(SUM(w.c) AS BIGINT) AS n_words,
       CAST(SUM(w.c * s.np) AS BIGINT) AS n_pieces,
       CAST((2 * SUM(w.c * s.np) * 1000000 + SUM(w.c))
            // (2 * SUM(w.c)) AS BIGINT) AS ppw_ppm
FROM wcc w JOIN seg s USING (word)
GROUP BY w.doc_id
"""


def _sql_op_bpe_encode_registered() -> str:
    """The op-bpe-encode oracle with the shared literal merge table
    (catalog_registry.BPE_DEMO_MERGES — the C4_BADWORDS sharing
    pattern)."""
    from .catalog_registry import BPE_DEMO_MERGES
    return _sql_op_bpe_encode(BPE_DEMO_MERGES)


def _sql_op_bpe_encode_bytes_registered() -> str:
    """The byte-level encode oracle (GPT-2-spirit alphabet; hex-pair
    internal symbols, not GPT-2 merge-file compatible): the SAME
    unrolled apply rounds over a v0 of lowercase UTF-8 hex pairs —
    hex(encode(word)) is bit-identical between Spark and DuckDB —
    with the byte-basis literal merge table
    (catalog_registry.BPE_BYTES_DEMO_MERGES)."""
    from .catalog_registry import BPE_BYTES_DEMO_MERGES
    return _sql_op_bpe_encode(
        BPE_BYTES_DEMO_MERGES,
        sym_split="regexp_extract_all(lower(hex(encode(word))), '..')")


def _sql_op_bpe_encode_gpt2_registered() -> str:
    """The GPT-2-pretokenized byte-level encode oracle: the boundary-
    predicate pre-tokenizer replay feeding the hex-pair v0 and the
    unrolled apply rounds, with the pinned
    catalog_registry.BPE_GPT2_DEMO_MERGES table."""
    from .catalog_registry import BPE_GPT2_DEMO_MERGES
    return _sql_op_bpe_encode(
        BPE_GPT2_DEMO_MERGES,
        sym_split="regexp_extract_all(lower(hex(encode(word))), '..')",
        tokens_with=_SQL_GPT2_TOKENS_WITH)


def _sql_op_shard_assign(n_shards: int = 8, budget: int = 512) -> str:
    """DuckDB twin of rank.shard_assign over the packed-sequence bins:
    pack_sequences' running-sum layout aggregated to one row per
    (source, bin), then md5-order round-robin — row_number over
    (md5-hash of the key, then the key) modulo n_shards. The oracle's
    window is single-task; the Spark side runs the distributed exact
    rank, which must agree bit-for-bit."""
    return f"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before
  FROM t),
bins AS (
  SELECT source, CAST(before // {budget} AS BIGINT) AS bin_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM c GROUP BY 1, 2),
h AS (
  SELECT *, ('0x' || substr(md5(source || chr(31)
                                || CAST(bin_id AS VARCHAR)), 1, 15))::BIGINT
              AS hh
  FROM bins),
r AS (
  SELECT *, row_number() OVER (ORDER BY hh, source, bin_id) AS rk
  FROM h)
SELECT source, bin_id, n_docs, n_tokens,
       CAST((rk - 1) % {n_shards} AS BIGINT) AS shard_id
FROM r
"""


def _sql_text_quality_classifier(buckets: int = 64, bias_micros: int = 0,
                                 threshold_micros: int = 0) -> str:
    from .catalog_oracles import _SQL_WS_TOKENS
    from .operators.selection import QUALITY_WEIGHTS_DEMO
    vals = ", ".join(f"({b}, {w})"
                     for b, w in sorted(QUALITY_WEIGHTS_DEMO.items()))
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
w(bkt, wt) AS (VALUES {vals}),
tok AS (SELECT doc_id,
               ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % {buckets}
                 AS bkt
        FROM t),
sc AS (SELECT tok.doc_id, SUM(COALESCE(w.wt, 0)) AS s
       FROM tok LEFT JOIN w ON w.bkt = tok.bkt GROUP BY tok.doc_id),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM t),
j AS (SELECT b.doc_id, b.n,
             CAST(COALESCE(sc.s, 0) + {bias_micros} AS BIGINT) AS s
      FROM base b LEFT JOIN sc ON sc.doc_id = b.doc_id),
m AS (SELECT doc_id, n, s,
             CAST(CASE WHEN n = 0 THEN s
                       WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                       ELSE -((2 * -s + n) // (2 * n)) END AS BIGINT) AS mm
      FROM j)
SELECT doc_id, n AS n_tokens, s AS score_sum_micros,
       mm AS score_mean_micros,
       mm >= {threshold_micros} AS pass_quality
FROM m
"""


def _sql_text_c4_badwords() -> str:
    from .catalog_registry import C4_BADWORDS
    bw = ", ".join(f"'{w}'" for w in C4_BADWORDS)
    return f"""
WITH l AS (
  SELECT doc_id, text,
         list_filter(list_transform(str_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines,
         NOT list_has_any(
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> ''), [{bw}]) AS r_no_badwords
  FROM documents),
f AS (
  SELECT doc_id, text, r_no_badwords, len(lines) AS n_lines,
         len(list_filter(lines, x ->
               regexp_matches(x, '[.!?"]$')
               AND len(list_filter(regexp_split_to_array(x, '\\s+'),
                                   w -> w <> '')) >= 5
               AND NOT contains(lower(x), 'javascript'))) AS n_kept,
         len(regexp_extract_all(text, '[.!?]')) AS n_sent
  FROM l)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept_lines,
       CAST(n_sent AS BIGINT) AS n_sentences,
       n_sent >= 3 AS r_sentences,
       NOT contains(lower(text), 'lorem ipsum') AS r_no_lorem,
       NOT contains(text, '{{') AS r_no_brace,
       r_no_badwords,
       (n_sent >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{') AND n_kept >= 1
        AND r_no_badwords) AS pass_c4
FROM f
"""




def _sql_text_span_dedup(span: int = 3, sent_tokens: int = 8) -> str:
    """DuckDB twin of text.span_exact_dedup over the 8-token-group
    sentence view (the markupless-corpus unit policy shared with
    q_text_span_dedup): md5 span occurrences, keep-first
    (doc_id, position) via min(ROW(doc_id, pos)) — the unbounded
    struct keeper, twin of Spark's min(struct) — removed positions
    merged gap-and-islands (the substring-dedup island SQL), exact
    integer kept_ppm."""
    from .catalog_oracles import _SQL_WS_TOKENS
    K, W = span, sent_tokens
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
se AS (SELECT doc_id, len(t) // {W} AS ns, t FROM t),
hs AS (
  SELECT doc_id, ns,
         CASE WHEN ns >= {K}
              THEN list_transform(range(1, ns - {K} + 2),
                     i -> md5(array_to_string(
                            t[(i-1)*{W}+1:(i+{K}-1)*{W}], ' ')))
              ELSE []::VARCHAR[] END AS hl
  FROM se),
occ AS (SELECT doc_id, unnest(hl) AS h,
               generate_subscripts(hl, 1) AS pos
        FROM hs),
keep AS (SELECT h, min(ROW(doc_id, pos)) AS kk FROM occ GROUP BY h),
rem AS (SELECT o.doc_id, o.pos AS s, o.pos + {K} - 1 AS e
        FROM occ o JOIN keep k USING (h)
        WHERE ROW(o.doc_id, o.pos) <> k.kk),
w AS (SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM rem),
isl AS (SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s ASC, e ASC
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
cov AS (SELECT doc_id, SUM(mx - mn + 1) AS rmv
        FROM (SELECT doc_id, island, min(s) AS mn, max(e) AS mx
              FROM isl GROUP BY 1, 2) GROUP BY 1),
nd AS (SELECT doc_id, count(*) AS ndup FROM rem GROUP BY 1)
SELECT se.doc_id,
       CAST(se.ns AS BIGINT) AS n_sentences,
       CAST(greatest(se.ns - {K} + 1, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(nd.ndup, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(cov.rmv, 0) AS BIGINT) AS removed_sentences,
       CAST(CASE WHEN se.ns > 0
                 THEN (se.ns - COALESCE(cov.rmv, 0)) * 1000000 // se.ns
                 ELSE 1000000 END AS BIGINT) AS kept_ppm
FROM se LEFT JOIN nd ON nd.doc_id = se.doc_id
        LEFT JOIN cov ON cov.doc_id = se.doc_id
"""


# ---- linear quality-probe training twins -----------------------------
# divhalf(a, b): half-away-from-zero integer division, b > 0 — both
# branches divide non-negative values, so DuckDB's floor // equals
# Spark's truncating DIV exactly.
def _dh(a: str, b: str) -> str:
    return (f"CASE WHEN ({a}) >= 0 THEN (2*({a}) + ({b})) // (2*({b}))"
            f" ELSE -((2*(-({a})) + ({b})) // (2*({b}))) END")


_SQL_PROBE_PREFIX = """
lab AS (SELECT doc_id, source,
               CASE WHEN source IN ('src0','src1','src2','src3')
                    THEN 1000000 ELSE 0 END AS y
        FROM documents),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM t),
feat AS MATERIALIZED (
  SELECT t.doc_id,
         CAST(('0x' || substr(md5(u.tok), 1, 15))::BIGINT % {B} AS INT)
           AS bkt,
         CAST(count(*) AS BIGINT) AS c
  FROM t, unnest(t.t) AS u(tok) GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM feat),
allb AS (SELECT CAST(unnest(range({B})) AS INT) AS bkt),
w0 AS (SELECT bkt, CAST(0 AS BIGINT) AS wt FROM allb)"""


def _sql_probe_round(k: int, lr_ppm: int) -> str:
    """One GD round: per-doc mean score under w{k-1}, residual vs the
    label, per-bucket gradient, weight update."""
    j = k - 1
    return f"""
s{k} AS MATERIALIZED (
  SELECT f.doc_id, CAST(SUM(f.c * COALESCE(w.wt, 0)) AS BIGINT) AS s
  FROM feat f LEFT JOIN w{j} w ON w.bkt = f.bkt GROUP BY 1),
r{k} AS (SELECT b.doc_id,
                CAST({_dh("s.s", "b.n")} - l.y AS BIGINT) AS r
         FROM s{k} s JOIN base b USING (doc_id) JOIN lab l USING (doc_id)),
g{k} AS (SELECT f.bkt,
                CAST(SUM({_dh("r.r * f.c", "b.n")}) AS BIGINT) AS g
         FROM feat f JOIN r{k} r USING (doc_id) JOIN base b USING (doc_id)
         GROUP BY 1),
w{k} AS MATERIALIZED (
  SELECT a.bkt,
         CAST(w.wt - ({_dh(f"{lr_ppm} * COALESCE(g.g, 0)",
                           "1000000 * nd.n_docs")}) AS BIGINT) AS wt
  FROM allb a CROSS JOIN nd
       LEFT JOIN w{j} w ON w.bkt = a.bkt
       LEFT JOIN g{k} g ON g.bkt = a.bkt)"""


def _sql_op_probe_step(buckets: int = 32, lr_ppm: int = 200_000) -> str:
    """DuckDB twin of selection.linear_probe_step from zero weights."""
    from .catalog_oracles import _SQL_WS_TOKENS
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),{_SQL_PROBE_PREFIX.format(B=buckets)},
{_sql_probe_round(1, lr_ppm)}
SELECT bkt AS bucket, wt AS w_micros FROM w1
"""


def _sql_plan_quality_train(buckets: int = 32, lr_ppm: int = 200_000,
                            rounds: int = 3,
                            threshold_micros: int = 300_000) -> str:
    """DuckDB twin of q_plan_quality_train: the GD training loop
    unrolled round by round (the plan-bpe-train idiom), then the
    trained w{rounds} weights replayed through the
    hashed_linear_score inference SQL and summarized per source."""
    from .catalog_oracles import _SQL_WS_TOKENS
    rs = ",".join(_sql_probe_round(k, lr_ppm)
                  for k in range(1, rounds + 1))
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),{_SQL_PROBE_PREFIX.format(B=buckets)},
{rs},
sc AS (SELECT f.doc_id, CAST(SUM(f.c * COALESCE(w.wt, 0)) AS BIGINT) AS s
       FROM feat f LEFT JOIN w{rounds} w ON w.bkt = f.bkt GROUP BY 1),
m AS (SELECT d.doc_id, l.source,
             CAST(CASE WHEN b.n = 0 OR b.n IS NULL THEN COALESCE(sc.s, 0)
                       ELSE {_dh("COALESCE(sc.s, 0)", "b.n")}
                  END AS BIGINT) AS mm
      FROM documents d
      JOIN lab l ON l.doc_id = d.doc_id
      LEFT JOIN base b ON b.doc_id = d.doc_id
      LEFT JOIN sc ON sc.doc_id = d.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN mm >= {threshold_micros} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass,
       CAST(SUM(mm) AS BIGINT) AS sum_mean_micros
FROM m GROUP BY source
"""




SQL_TEXT_CCNET_BUCKETS = f"""
WITH lm AS ({SQL_TEXT_LM_LIKELIHOOD.strip().rstrip()}
)
SELECT lm.doc_id, d.source, lm.n_bigrams, lm.lm_ppm_r,
       (['head', 'middle', 'tail'])[
         ntile(3) OVER (PARTITION BY d.source
                        ORDER BY lm.lm_ppm_r DESC, lm.doc_id ASC)]
         AS ccnet_bucket
FROM lm JOIN documents d ON d.doc_id = lm.doc_id
"""


def _sql_text_winnow(k: int = 5, w: int = 4) -> str:
    """DuckDB twin of text.winnow_fingerprints: the identical framed
    window min over the packed (hash asc, position desc) key."""
    from .catalog_oracles import _SQL_WS_TOKENS
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {k}
              THEN list_transform(range(1, len(t) - {k} + 2),
                     i -> array_to_string(list_slice(t, i, i + {k} - 1), ' '))
              WHEN len(t) >= 1
              THEN [array_to_string(t, ' ')]
              ELSE []::VARCHAR[] END AS gl
  FROM t),
occ AS (
  SELECT doc_id, generate_subscripts(gl, 1) AS p,
         ('0x' || substr(md5(unnest(gl)), 1, 15))::BIGINT % 2147483647
           AS hm
  FROM grams),
enc AS (
  SELECT doc_id, p, hm * 2147483648 + (2147483647 - p) AS e
  FROM occ),
sel AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, p,
           min(e) OVER (PARTITION BY doc_id ORDER BY p ASC
                        ROWS BETWEEN {w} - 1 PRECEDING AND CURRENT ROW)
             AS s
    FROM enc) WHERE p >= {w}),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp,
               CAST(SUM(CAST(s AS HUGEINT)) % 2305843009213693951
                    AS BIGINT) AS ck
        FROM sel GROUP BY 1),
base AS (SELECT doc_id,
                CAST(CASE WHEN len(t) >= {k} THEN len(t) - {k} + 1
                          WHEN len(t) >= 1 THEN 1 ELSE 0 END AS BIGINT)
                  AS n_grams
         FROM t)
SELECT b.doc_id, b.n_grams,
       CAST(greatest(b.n_grams - {w} + 1, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(a.nfp, 0) AS BIGINT) AS n_fingerprints,
       CAST(COALESCE(a.ck, 0) AS BIGINT) AS fp_checksum,
       CAST(CASE WHEN b.n_grams - {w} + 1 > 0
                 THEN COALESCE(a.nfp, 0) * 1000000 // (b.n_grams - {w} + 1)
                 ELSE 0 END AS BIGINT) AS density_ppm
FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
"""




SQL_OP_BCUBED_EVAL = f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
tpairs AS (SELECT doc_a, doc_b FROM inter
           WHERE i / (ma + mb - i) >= 0.2),
tedges AS (SELECT doc_a AS src, doc_b AS dst FROM tpairs
           UNION SELECT doc_b, doc_a FROM tpairs),
treach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.m FROM tedges e JOIN treach r ON e.src = r.n),
tclus AS (SELECT n AS doc_id, min(m) AS tc FROM treach GROUP BY n),
pre AS (SELECT doc_id, shingles,
            list_transform(shingles,
              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
              AS xr FROM sh),
ab(i, a, b) AS (VALUES {_UH_SEEDS_VALUES}),
seeded AS (
  SELECT doc_id, ab.i, min((ab.a * u.x + ab.b) % 2147483647) AS mn
  FROM pre, unnest(xr) u(x), ab
  GROUP BY doc_id, ab.i),
sigs AS (
  SELECT doc_id, i // {_MINHASH_RPB} AS bidx,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bk
  FROM seeded GROUP BY doc_id, i // {_MINHASH_RPB}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.bidx = b.bidx AND a.bk = b.bk
                         AND a.doc_id < b.doc_id),
pverified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS i,
         len(sa.shingles) AS ma, len(sb.shingles) AS mb
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b),
ppairs AS (SELECT doc_a, doc_b FROM pverified
           WHERE i / (ma + mb - i) >= 0.2),
pedges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs
           UNION SELECT doc_b, doc_a FROM ppairs),
preach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.m FROM pedges e JOIN preach r ON e.src = r.n),
pclus AS (SELECT n AS doc_id, min(m) AS pc FROM preach GROUP BY n),
j AS (SELECT p.doc_id, p.pc, t.tc
      FROM pclus p JOIN tclus t USING (doc_id)),
pt AS (SELECT pc, tc, CAST(count(*) AS HUGEINT) AS n_pt
       FROM j GROUP BY 1, 2),
psz AS (SELECT pc, SUM(n_pt) AS n_p FROM pt GROUP BY 1),
tsz AS (SELECT tc, SUM(n_pt) AS n_t FROM pt GROUP BY 1),
terms AS (
  SELECT pt.n_pt, pt.pc, pt.tc,
         (2 * (pt.n_pt * pt.n_pt * 1000000) + p.n_p)
           // (2 * p.n_p) AS pterm,
         (2 * (pt.n_pt * pt.n_pt * 1000000) + t.n_t)
           // (2 * t.n_t) AS rterm
  FROM pt JOIN psz p USING (pc) JOIN tsz t USING (tc)),
agg AS (SELECT SUM(n_pt) AS n,
               CAST(COUNT(DISTINCT pc) AS BIGINT) AS n_pred_clusters,
               CAST(COUNT(DISTINCT tc) AS BIGINT) AS n_truth_clusters,
               SUM(pterm) AS ps, SUM(rterm) AS rs
        FROM terms),
ppm AS (SELECT n, n_pred_clusters, n_truth_clusters,
               CAST((2 * ps + n) // (2 * n) AS BIGINT) AS p_ppm,
               CAST((2 * rs + n) // (2 * n) AS BIGINT) AS r_ppm
        FROM agg)
SELECT CAST(n AS BIGINT) AS n_elements, n_pred_clusters, n_truth_clusters,
       p_ppm AS bcubed_precision_ppm, r_ppm AS bcubed_recall_ppm,
       CAST(CASE WHEN p_ppm + r_ppm = 0 THEN 0
                 ELSE (2 * (2 * CAST(p_ppm AS HUGEINT) * r_ppm)
                       + (p_ppm + r_ppm)) // (2 * (p_ppm + r_ppm))
            END AS BIGINT) AS bcubed_f1_ppm
FROM ppm
"""




def _sql_text_stupid_backoff(ref_mod: int = 100) -> str:
    """DuckDB twin of text.stupid_backoff_score: reference-stratum
    count tables, the exact rational backoff chain (alpha = 2/5), and
    every half-up division replayed."""
    from .catalog_oracles import _SQL_WS_TOKENS
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
tri AS (
  SELECT t.doc_id, (t.doc_id % {ref_mod}) = 0 AS ref,
         t.t[u.i] AS w1, t.t[u.i + 1] AS w2, t.t[u.i + 2] AS w3
  FROM t CROSS JOIN LATERAL unnest(range(1, greatest(len(t.t) - 2, 0) + 1))
           AS u(i)),
c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri WHERE ref GROUP BY 1, 2, 3),
c2ctx AS (SELECT w1, w2, SUM(c3) AS c2ctx FROM c3 GROUP BY 1, 2),
c2 AS (SELECT w2, w3, count(*) AS c2 FROM tri WHERE ref GROUP BY 1, 2),
c1ctx AS (SELECT w2, SUM(c2) AS c1ctx FROM c2 GROUP BY 1),
toks AS (SELECT unnest(t.t) AS w3 FROM t WHERE (t.doc_id % {ref_mod}) = 0),
c1 AS (SELECT w3, count(*) AS c1 FROM toks GROUP BY 1),
ntot AS (SELECT count(*) AS n FROM toks),
scored AS (
  SELECT s.doc_id,
         CASE WHEN c3.c3 IS NOT NULL
              THEN (2 * (c3.c3 * 1000000) + c2ctx.c2ctx)
                   // (2 * c2ctx.c2ctx)
              WHEN c2.c2 IS NOT NULL
              THEN (2 * (2 * c2.c2 * 1000000) + 5 * c1ctx.c1ctx)
                   // (2 * 5 * c1ctx.c1ctx)
              WHEN c1.c1 IS NOT NULL
              THEN (2 * (4 * c1.c1 * 1000000) + 25 * ntot.n)
                   // (2 * 25 * ntot.n)
              ELSE 0 END AS term,
         CASE WHEN c3.c3 IS NOT NULL THEN 3
              WHEN c2.c2 IS NOT NULL THEN 2
              WHEN c1.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl
  FROM tri s
  LEFT JOIN c3 ON c3.w1 = s.w1 AND c3.w2 = s.w2 AND c3.w3 = s.w3
  LEFT JOIN c2ctx ON c2ctx.w1 = s.w1 AND c2ctx.w2 = s.w2
  LEFT JOIN c2 ON c2.w2 = s.w2 AND c2.w3 = s.w3
  LEFT JOIN c1ctx ON c1ctx.w2 = s.w2
  LEFT JOIN c1 ON c1.w3 = s.w3
  CROSS JOIN ntot
  WHERE NOT s.ref)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_positions,
       CAST((2 * SUM(term) + count(*)) // (2 * count(*)) AS BIGINT)
         AS sb_ppm,
       CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS backoff_l3,
       CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS backoff_l2,
       CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS backoff_l1,
       CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS backoff_l0
FROM scored GROUP BY doc_id
"""




def _sql_plan_filter_agreement() -> str:
    """DuckDB twin of q_plan_filter_agreement: the three filter
    oracles verbatim as subqueries, joined on doc_id, cross-tabbed."""
    return f"""
SELECT g.pass_gopher, c.pass_c4, q.pass_quality,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ({_sql_gopher()}) g
JOIN ({SQL_TEXT_C4_RULES}) c ON c.doc_id = g.doc_id
JOIN ({_sql_text_quality_classifier()}) q ON q.doc_id = g.doc_id
GROUP BY 1, 2, 3
"""


def _sql_unigram_vfinal(pieces, max_word_len: int, unk: str,
                        unk_score: int) -> str:
    """Shared unrolled Viterbi DP block for the unigram-LM oracles
    (subword.unigram_viterbi's twin): expects a ``wv(word)`` CTE in
    scope and emits CTEs ending in ``vfin(word, np, s, ps)`` — per
    word the exact max-sum decode under the literal integer piece
    scores, ties broken (score DESC, n_pieces ASC, backpointer ASC),
    over-long/empty words collapsed to the single unk piece. Round j
    unions one LEFT-JOIN length-1 branch (the unk fallback edge) with
    inner-join branches per piece length, then keeps row_number()=1
    under the pinned ordering — the same candidate set and tie-break
    the Spark fold's array_max encodes."""
    K = max(len(p) for p, _ in pieces)
    L = max_word_len
    vals = ",".join(f"({_sql_sq(p)}, CAST({s} AS BIGINT))"
                    for p, s in pieces)
    ctes = [
        f"pc AS (SELECT * FROM (VALUES {vals}) AS _p(piece, score))",
        ("wn AS (SELECT word, len(word) AS n FROM wv"
         f" WHERE len(word) BETWEEN 1 AND {L})"),
        ("ud0 AS (SELECT word, n, CAST(0 AS BIGINT) AS s,"
         " CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS bp,"
         " CAST([] AS VARCHAR[]) AS ps FROM wn)"),
    ]
    for j in range(1, L + 1):
        branches = [f"""
  SELECT d.word, d.n,
         d.s + COALESCE(p.score, CAST({unk_score} AS BIGINT)) AS s,
         d.np + 1 AS np, CAST({j - 1} AS BIGINT) AS bp,
         list_append(d.ps, substr(d.word, {j}, 1)) AS ps
  FROM ud{j - 1} d LEFT JOIN pc p ON p.piece = substr(d.word, {j}, 1)
  WHERE d.n >= {j}"""]
        for l in range(2, min(K, j) + 1):
            branches.append(f"""
  SELECT d.word, d.n, d.s + p.score AS s, d.np + 1 AS np,
         CAST({j - l} AS BIGINT) AS bp,
         list_append(d.ps, substr(d.word, {j - l + 1}, {l})) AS ps
  FROM ud{j - l} d
  JOIN pc p ON p.piece = substr(d.word, {j - l + 1}, {l})
  WHERE d.n >= {j}""")
        u = "\n  UNION ALL\n".join(branches)
        ctes.append(f"""ud{j} AS MATERIALIZED (
  SELECT word, n, s, np, bp, ps FROM (
    SELECT *, row_number() OVER (PARTITION BY word
        ORDER BY s DESC, np ASC, bp ASC) AS rn
    FROM ({u})) WHERE rn = 1)""")
    fins = "\n  UNION ALL\n".join(
        f"  SELECT word, np, s, ps FROM ud{j} WHERE n = {j}"
        for j in range(1, L + 1))
    ctes.append(f"""vfin AS MATERIALIZED (
{fins}
  UNION ALL
  SELECT word, CAST(1 AS BIGINT) AS np,
         CAST({unk_score} AS BIGINT) AS s, [{_sql_sq(unk)}] AS ps
  FROM wv WHERE len(word) > {L} OR len(word) = 0)""")
    return ",\n".join(ctes)


def _sql_text_unigram_segment(pieces, max_word_len: int, unk: str,
                              unk_score: int) -> str:
    """DuckDB twin of subword.unigram_encode: distinct-word Viterbi
    under the literal piece table, then per-doc totals from the
    (doc, word) counts."""
    from .catalog_oracles import _SQL_WS_TOKENS
    blk = _sql_unigram_vfinal(pieces, max_word_len, unk, unk_score)
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
wcc AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(t) AS word FROM t)
  GROUP BY 1, 2),
wv AS MATERIALIZED (SELECT DISTINCT word FROM wcc),
{blk}
SELECT w.doc_id,
       CAST(SUM(w.c) AS BIGINT) AS n_words,
       CAST(SUM(w.c * v.np) AS BIGINT) AS n_pieces,
       CAST(SUM(w.c * v.s) AS BIGINT) AS score_micro
FROM wcc w JOIN vfin v USING (word)
GROUP BY w.doc_id
"""


def _sql_op_unigram_estep(pieces, max_word_len: int, unk: str,
                          unk_score: int) -> str:
    """DuckDB twin of subword.unigram_estep: corpus word frequencies,
    the shared Viterbi block, emitted pieces pooled (out-of-vocab
    fallback chars under the unk label), zero-filled vocab frame."""
    from .catalog_oracles import _SQL_WS_TOKENS
    blk = _sql_unigram_vfinal(pieces, max_word_len, unk, unk_score)
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(t) AS word FROM t) GROUP BY 1),
wv AS MATERIALIZED (SELECT word FROM wf),
{blk},
used AS (
  SELECT CASE WHEN piece IN (SELECT piece FROM pc) THEN piece
              ELSE {_sql_sq(unk)} END AS piece,
         CAST(SUM(f) AS BIGINT) AS c
  FROM (SELECT w.f, unnest(v.ps) AS piece
        FROM vfin v JOIN wf w USING (word))
  GROUP BY 1),
vocab AS (SELECT piece FROM pc UNION ALL SELECT {_sql_sq(unk)} AS piece)
SELECT v.piece, CAST(COALESCE(u.c, 0) AS BIGINT) AS piece_count
FROM vocab v LEFT JOIN used u USING (piece)
"""


def _sql_text_wordpiece_encode(vocab, max_word_len: int,
                               unk: str) -> str:
    """DuckDB twin of subword.wordpiece_encode: unrolled greedy
    longest-match-first rounds (one LEFT JOIN against the
    longest-candidate election per round — ORDER BY l DESC mirrors
    the Spark fold's descending coalesce), words that stall or
    overflow the length bound collapsing to one unk piece."""
    from .catalog_oracles import _SQL_WS_TOKENS
    K = max(len(v) - 2 if v.startswith("##") else len(v) for v in vocab)
    L = max_word_len
    vals = ",".join(f"({_sql_sq(v)})" for v in vocab)
    ctes = [
        f"vc AS (SELECT * FROM (VALUES {vals}) AS _v(piece))",
        ("wn AS (SELECT word, len(word) AS n FROM wv"
         f" WHERE len(word) BETWEEN 1 AND {L})"),
        ("wp0 AS (SELECT word, n, CAST(0 AS BIGINT) AS pos,"
         " CAST(0 AS BIGINT) AS np, FALSE AS fail FROM wn)"),
    ]
    for t in range(1, L + 1):
        cands = "\n    UNION ALL\n".join(f"""
    SELECT d.word, d.pos + {l} AS npos, {l} AS l
    FROM wp{t - 1} d JOIN vc p
      ON p.piece = CASE WHEN d.pos = 0 THEN substr(d.word, 1, {l})
                        ELSE '##' || substr(d.word, d.pos + 1, {l}) END
    WHERE NOT d.fail AND d.pos < d.n AND d.pos + {l} <= d.n
      AND (d.pos > 0 OR substr(d.word, 1, {l}) NOT LIKE '##%')"""
                                         for l in range(1, K + 1))
        ctes.append(f"""wp{t} AS MATERIALIZED (
  SELECT d.word, d.n, COALESCE(s.npos, d.pos) AS pos,
         CASE WHEN s.npos IS NOT NULL THEN d.np + 1 ELSE d.np END AS np,
         CASE WHEN d.fail THEN TRUE
              WHEN d.pos < d.n AND s.npos IS NULL THEN TRUE
              ELSE FALSE END AS fail
  FROM wp{t - 1} d LEFT JOIN (
    SELECT word, npos FROM (
      SELECT word, npos,
             row_number() OVER (PARTITION BY word ORDER BY l DESC) AS rn
      FROM ({cands})) WHERE rn = 1) s USING (word))""")
    blk = ",\n".join(ctes)
    return f"""
WITH t AS ({_SQL_WS_TOKENS}),
wcc AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(t) AS word FROM t)
  GROUP BY 1, 2),
wv AS MATERIALIZED (SELECT DISTINCT word FROM wcc),
{blk},
wfin AS (
  SELECT word,
         CASE WHEN fail OR pos < n THEN CAST(1 AS BIGINT)
              ELSE np END AS np,
         (fail OR pos < n) AS is_unk
  FROM wp{L}
  UNION ALL
  SELECT word, CAST(1 AS BIGINT) AS np, TRUE AS is_unk
  FROM wv WHERE len(word) > {L} OR len(word) = 0)
SELECT w.doc_id,
       CAST(SUM(w.c) AS BIGINT) AS n_words,
       CAST(SUM(w.c * v.np) AS BIGINT) AS n_pieces,
       CAST(SUM(CASE WHEN v.is_unk THEN w.c ELSE 0 END) AS BIGINT)
         AS n_unk_words
FROM wcc w JOIN wfin v USING (word)
GROUP BY w.doc_id
"""


def _sql_text_unigram_segment_registered() -> str:
    from .catalog_registry import UNIGRAM_DEMO_PIECES
    return _sql_text_unigram_segment(UNIGRAM_DEMO_PIECES, 12, "<unk>",
                                     -100_000_000)


def _sql_op_unigram_estep_registered() -> str:
    from .catalog_registry import UNIGRAM_DEMO_PIECES
    return _sql_op_unigram_estep(UNIGRAM_DEMO_PIECES, 12, "<unk>",
                                 -100_000_000)


def _sql_text_wordpiece_encode_registered() -> str:
    from .catalog_registry import WORDPIECE_DEMO_VOCAB
    return _sql_text_wordpiece_encode(WORDPIECE_DEMO_VOCAB, 12, "[UNK]")


SQL_OP_VOCAB_GROWTH = """
WITH b AS MATERIALIZED (
  SELECT doc_id, text,
         ntile(10) OVER (
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                    1, 15))::BIGINT, doc_id) AS bucket
  FROM documents),
w AS MATERIALIZED (
  SELECT bucket, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           x -> x <> '')) AS word
  FROM b),
tok AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
        FROM w GROUP BY 1),
doc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
        FROM b GROUP BY 1),
nw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_words
       FROM (SELECT word, min(bucket) AS bucket FROM w GROUP BY 1)
       GROUP BY 1)
SELECT d.bucket, d.n_docs,
       CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.new_words, 0) AS BIGINT) AS new_words,
       CAST(SUM(COALESCE(t.n_tokens, 0)) OVER (
          ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(SUM(COALESCE(n.new_words, 0)) OVER (
          ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_words
FROM doc d
LEFT JOIN tok t ON t.bucket = d.bucket
LEFT JOIN nw n ON n.bucket = d.bucket
"""


def _sql_stream_token_meter() -> str:
    """DuckDB twin of q_stream_token_meter — the BATCH equivalence:
    the op-bpe-encode oracle's per-doc totals rolled up per source
    (left join keeps zero-token docs in n_docs)."""
    return f"""
WITH enc AS MATERIALIZED ({_sql_op_bpe_encode_registered()})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(e.n_words, 0)) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(e.n_pieces, 0)) AS BIGINT) AS n_pieces
FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
GROUP BY 1
"""


def _sql_op_score_calibration() -> str:
    """DuckDB twin of q_op_score_calibration: the classifier and
    gopher oracles verbatim, ANSI ntile(10) over (score, doc_id)
    replaying the distributed exact rank, half-up ppm agreement."""
    return f"""
WITH s AS MATERIALIZED ({_sql_text_quality_classifier()}),
g AS MATERIALIZED ({_sql_gopher()}),
dec AS (
  SELECT s.doc_id, s.score_mean_micros, g.pass_gopher,
         ntile(10) OVER (ORDER BY s.score_mean_micros, s.doc_id)
           AS decile
  FROM s JOIN g ON g.doc_id = s.doc_id)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_mean_micros) AS BIGINT) AS sum_score_micro,
       CAST(SUM(CASE WHEN pass_gopher THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_gopher,
       CAST((2 * SUM(CASE WHEN pass_gopher THEN 1 ELSE 0 END) * 1000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS gopher_rate_ppm
FROM dec
GROUP BY 1
"""


SQL_SIM_EMBEDDING_OUTLIERS = f"""
WITH {_SQL_NEAREST_ASSIGN},
med AS (
  SELECT cluster, quantile_cont(a2, 0.5) AS m FROM asg GROUP BY 1),
dev AS (
  SELECT asg.cluster, abs(asg.a2 - med.m) AS d, med.m
  FROM asg JOIN med USING (cluster)),
mad AS (
  SELECT cluster, quantile_cont(d, 0.5) AS md, min(m) AS m2
  FROM dev GROUP BY 1)
SELECT dev.cluster, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN dev.d > 3 * mad.md THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(min(mad.m2) AS DOUBLE) AS median_d2,
       CAST(min(mad.md) AS DOUBLE) AS mad_d2
FROM dev JOIN mad USING (cluster)
GROUP BY 1
"""


def _sql_plan_corpus_datasheet() -> str:
    """DuckDB twin of q_plan_corpus_datasheet: the bpe-encode, gopher,
    and c4 oracles verbatim as subqueries plus the exact-dedup keeper
    rule, joined on doc_id and rolled up per (source, lang)."""
    return f"""
WITH enc AS MATERIALIZED ({_sql_op_bpe_encode_registered()}),
g AS MATERIALIZED ({_sql_gopher()}),
c AS MATERIALIZED ({SQL_TEXT_C4_RULES}),
keep AS (SELECT md5(text) AS h, min(doc_id) AS keeper
         FROM documents GROUP BY 1)
SELECT d.source, d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(e.n_words, 0)) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(e.n_pieces, 0)) AS BIGINT) AS n_pieces,
       CAST(SUM(CASE WHEN g.pass_gopher THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_gopher,
       CAST(SUM(CASE WHEN c.pass_c4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_c4,
       CAST(SUM(CASE WHEN d.doc_id <> k.keeper THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_docs,
       CAST(CASE WHEN SUM(COALESCE(e.n_words, 0)) > 0 THEN
              (2 * SUM(COALESCE(e.n_pieces, 0)) * 1000000
               + SUM(COALESCE(e.n_words, 0)))
              // (2 * SUM(COALESCE(e.n_words, 0)))
            ELSE 0 END AS BIGINT) AS ppw_ppm
FROM documents d
LEFT JOIN enc e ON e.doc_id = d.doc_id
JOIN g ON g.doc_id = d.doc_id
JOIN c ON c.doc_id = d.doc_id
JOIN keep k ON k.h = md5(d.text)
GROUP BY 1, 2
"""


SQL_DEDUP_PROVENANCE_NEAR = f"""
WITH mh AS ({SQL_DEDUP_MINHASH_MD5}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS dup_pairs,
       CAST(SUM(CAST(round(mh.jaccard_r * 1000000) AS BIGINT))
            AS BIGINT) AS jaccard_ppm_sum
FROM mh JOIN src sa ON sa.doc_id = mh.doc_a
        JOIN src sb ON sb.doc_id = mh.doc_b
GROUP BY 1, 2
"""


SQL_DEDUP_PROVENANCE = r"""
WITH ws AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
wins AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
  FROM ws, UNNEST(generate_series(1, len(ws) - 15, 8)) AS t(i)
  WHERE len(ws) >= 16),
keep AS (
  SELECT h FROM wins GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 32),
g AS (
  SELECT w.h, w.source,
         CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS nd
  FROM wins w JOIN keep USING (h)
  GROUP BY 1, 2)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_passages,
       CAST(SUM(CASE WHEN a.source = b.source
                     THEN a.nd * (a.nd - 1) // 2
                     ELSE a.nd * b.nd END) AS BIGINT) AS dup_doc_pairs
FROM g a JOIN g b ON a.h = b.h AND a.source <= b.source
WHERE a.source < b.source OR a.nd > 1
GROUP BY 1, 2
"""


# Twin of dedup.passage_provenance_incremental with the catalog's
# batch split (doc_id % 10 = 0 plays the landing batch, the rest the
# accepted corpus — the dedup-incremental split). The hot-passage cap
# is over CORPUS distinct docs per hash only (the stable corpus-scale
# statistic); sides are disjoint so the matrix is ORDERED
# (batch_source, corpus_source) with plain nd_b * nd_c products.
SQL_DEDUP_PROVENANCE_INCR = r"""
WITH ws AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
wins AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
  FROM ws, UNNEST(generate_series(1, len(ws) - 15, 8)) AS t(i)
  WHERE len(ws) >= 16),
bw AS (SELECT * FROM wins WHERE doc_id % 10 = 0),
cw AS (SELECT w.* FROM wins w
       WHERE w.doc_id % 10 <> 0
         AND EXISTS (SELECT 1 FROM bw WHERE bw.h = w.h)),
ckeep AS (
  SELECT h FROM cw GROUP BY h
  HAVING COUNT(DISTINCT doc_id) <= 32),
cg AS (
  SELECT w.h, w.source,
         CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS nd
  FROM cw w JOIN ckeep USING (h)
  GROUP BY 1, 2),
bg AS (
  SELECT h, source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
  FROM bw GROUP BY 1, 2)
SELECT b.source AS batch_source, c.source AS corpus_source,
       CAST(COUNT(*) AS BIGINT) AS n_shared_passages,
       CAST(SUM(b.nd * c.nd) AS BIGINT) AS dup_doc_pairs
FROM bg b JOIN cg c ON b.h = c.h
GROUP BY 1, 2
"""


# Twin of streaming.windows.streaming_provenance_meter — the BATCH
# equivalence, the stream-token-meter pattern: per-(batch doc,
# passage) hit incidences against the corpus inventory, so
# hit_doc_passages = sum over shared hashes of nd_batch and
# dup_doc_pairs = sum of nd_batch * nd_corpus — the latter
# algebraically identical to SQL_DEDUP_PROVENANCE_INCR's column.
SQL_STREAM_PROVENANCE = r"""
WITH ws AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
wins AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
  FROM ws, UNNEST(generate_series(1, len(ws) - 15, 8)) AS t(i)
  WHERE len(ws) >= 16),
bw AS (SELECT * FROM wins WHERE doc_id % 10 = 0),
cw AS (SELECT * FROM wins WHERE doc_id % 10 <> 0),
ckeep AS (
  SELECT h FROM cw GROUP BY h
  HAVING COUNT(DISTINCT doc_id) <= 32),
cg AS (
  SELECT w.h, w.source,
         CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS nd
  FROM cw w JOIN ckeep USING (h)
  GROUP BY 1, 2)
SELECT b.source AS batch_source, c.source AS corpus_source,
       CAST(COUNT(*) AS BIGINT) AS hit_doc_passages,
       CAST(SUM(c.nd) AS BIGINT) AS dup_doc_pairs
FROM bw b JOIN cg c ON b.h = c.h
GROUP BY 1, 2
"""


def _sql_plan_provenance_report() -> str:
    """Twin of dedup.provenance_report: the two provenance matrices'
    oracles verbatim, full-outer-joined per unordered source pair
    with zero-filled counts."""
    return f"""
WITH e AS MATERIALIZED ({SQL_DEDUP_PROVENANCE}),
n AS MATERIALIZED ({SQL_DEDUP_PROVENANCE_NEAR})
SELECT COALESCE(e.source_a, n.source_a) AS source_a,
       COALESCE(e.source_b, n.source_b) AS source_b,
       CAST(COALESCE(e.n_shared_passages, 0) AS BIGINT)
         AS n_shared_passages,
       CAST(COALESCE(e.dup_doc_pairs, 0) AS BIGINT) AS dup_doc_pairs,
       CAST(COALESCE(n.dup_pairs, 0) AS BIGINT) AS near_dup_pairs,
       CAST(COALESCE(n.jaccard_ppm_sum, 0) AS BIGINT)
         AS jaccard_ppm_sum
FROM e FULL OUTER JOIN n
  ON e.source_a = n.source_a AND e.source_b = n.source_b
"""


def _sql_dedup_incr_lsh() -> str:
    """Twin of dedup.incremental_minhash_pairs_from_inventory under
    the catalog's doc_id % 10 split: the minhash-md5 family's
    signature/banding/verify CTEs (universal-hash seeds, 60-bit md5
    reduced mod 2^31-1, string band keys, exact string-shingle
    Jaccard) with the candidate join restricted to batch x corpus —
    the frozen signature index is bit-identical to re-deriving it, so
    the replay needs no inventory of its own."""
    from .catalog_oracles import (_MINHASH_RPB, _SQL_SHINGLES,
                                  _UH_SEEDS_VALUES)
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
pre AS (SELECT doc_id, shingles,
            list_transform(shingles,
              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)
              AS xr FROM sh),
ab(i, a, b) AS (VALUES {_UH_SEEDS_VALUES}),
seeded AS (
  SELECT doc_id, ab.i, min((ab.a * u.x + ab.b) % 2147483647) AS mn
  FROM pre, unnest(xr) u(x), ab
  GROUP BY doc_id, ab.i),
sigs AS (
  SELECT doc_id, i // {_MINHASH_RPB} AS bidx,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bk
  FROM seeded GROUP BY doc_id, i // {_MINHASH_RPB}),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
  FROM sigs a JOIN sigs b ON a.bidx = b.bidx AND a.bk = b.bk
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
verified AS (
  SELECT c.new_id, c.index_id,
         len(list_intersect(sa.shingles, sb.shingles)) AS i,
         len(sa.shingles) AS ma, len(sb.shingles) AS mb
  FROM cand c JOIN sh sa ON sa.doc_id = c.new_id
              JOIN sh sb ON sb.doc_id = c.index_id)
SELECT new_id, index_id, round(i / (ma + mb - i), 4) AS jaccard_r
FROM verified WHERE i / (ma + mb - i) >= 0.2
"""


def _sql_dedup_provenance_incr_near() -> str:
    """Twin of dedup.near_dup_provenance_incremental: the
    dedup-incremental oracle's exact-Jaccard batch-vs-index pairs
    (same doc_id % 10 split, threshold 0.2) rolled up per ordered
    source pair, Jaccard summed in exact-integer ppm (the
    dedup-provenance-near accounting)."""
    from .catalog_oracles import SQL_DEDUP_INCREMENTAL
    return f"""
WITH p AS MATERIALIZED ({SQL_DEDUP_INCREMENTAL})
SELECT ba.source AS batch_source, ca.source AS corpus_source,
       CAST(COUNT(*) AS BIGINT) AS dup_pairs,
       CAST(SUM(CAST(round(p.jaccard_r * 1000000) AS BIGINT))
            AS BIGINT) AS jaccard_ppm_sum
FROM p JOIN documents ba ON ba.doc_id = p.new_id
       JOIN documents ca ON ca.doc_id = p.index_id
GROUP BY 1, 2
"""
