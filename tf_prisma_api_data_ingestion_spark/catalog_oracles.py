"""DuckDB oracle SQL, first half (the rest is in catalog_oracles2.py):
the ANSI twins the driver runs side-by-side with the Spark queries.
No key is registered here: each key's (query, oracle) entry is in
catalog.CATALOG. Import through tf_prisma_api_data_ingestion_spark.catalog.
"""

from .catalog_queries import (
    CMS_DEPTH,
    CMS_WIDTH,
    KMV_K,
    _MINHASH_RPB,
)
from .operators import text
from .operators.dedup import minhash_uh_seeds

# (i, a_i, b_i) literals of the universal-hash MinHash family — the
# same ``minhash_uh_seeds`` spray the Spark side embeds, so signatures
# replay bit-for-bit: h_i(x) = (a_i * x + b_i) mod 2147483647 over the
# 60-bit md5 shingle hash reduced mod the same Mersenne prime.
_UH_SEEDS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_uh_seeds(64)))



SQL_PD_FILTER_EQ = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderstatus = 'F'
"""


SQL_PD_FILTER_IN = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
"""


SQL_PD_FILTER_RANGE = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
"""


SQL_PD_SORT = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


SQL_PD_LIMIT_PAGE = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders ORDER BY o_orderkey ASC LIMIT 100
"""


SQL_PD_GROUPBY = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_total
FROM orders GROUP BY o_orderstatus
"""


SQL_OP_GROUPAGG_COUNT = """
SELECT event_type, user_id,
       count(*) AS failed_resource_count,
       min(event_id) AS first_event_id
FROM events GROUP BY event_type, user_id
"""


SQL_OP_PROJECT_RENAME = """
SELECT c_custkey AS "Customer Id", c_name AS "Customer Name",
       c_mktsegment AS "Segment", 'fail' AS "Status"
FROM customer
"""


SQL_OP_UPPER = """
SELECT c_custkey, upper(c_name) AS c_name, upper(c_mktsegment) AS c_mktsegment
FROM customer
"""


SQL_OP_FILLNA = """
SELECT c_custkey,
       COALESCE(CASE WHEN c_acctbal >= 0 THEN c_acctbal END, 0.0) AS acctbal,
       COALESCE(CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment END, 'missing') AS segment
FROM customer
"""


SQL_OP_UNION_ALL = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CASE WHEN o_orderstatus = 'F' THEN 'f-branch' END AS note
FROM orders WHERE o_orderstatus IN ('O', 'F', 'P')
"""


SQL_OP_LIT_COLS = """
SELECT s_suppkey, s_name,
       '2024-02-01' AS transaction_date, 'Resource Type' AS resourceIdentity
FROM supplier
"""


SQL_OP_DERIVE_TS = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time
FROM events
"""


SQL_OP_JSON_FLATTEN = """
SELECT event_id, u.name AS name, u.metric AS metric FROM (
  SELECT event_id,
         unnest([{'name': event_type, 'metric': value},
                 {'name': upper(event_type), 'metric': value * 2}]) AS u
  FROM events WHERE user_id < 30) t
"""


SQL_OP_STRUCT_ACCESS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""


# json_valid + TRY_CAST mirror the Spark side's try_parse_json +
# try_variant_get: malformed or type-drifted rows become NULL in BOTH
# engines instead of erroring the oracle while Spark succeeds; the
# integer-literal regexp mirrors the Spark side's rlike guard so JSON
# booleans/floats null out identically (Spark's variant int cast alone
# would map true->1 / 12.5->12 where TRY_CAST('true'/'12.5') is NULL)
SQL_OP_VARIANT_JSON = """
WITH k AS (
  SELECT TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                       AND regexp_full_match(
                             json_extract_string(props, '$.k'), '-?[0-9]+')
                       THEN json_extract_string(props, '$.k') END
                  AS INTEGER) AS prop_k
  FROM events)
SELECT prop_k % 10 AS k_bucket, count(*) AS n,
       CAST(sum(prop_k) AS BIGINT) AS sum_k
FROM k GROUP BY 1
"""


SQL_OP_ARRAY_INDEX = """
SELECT doc_id,
       string_split(text, ' ')[1] AS first_word,
       string_split(text, ' ')[3] AS third_word
FROM documents
"""


SQL_OP_URLENCODE = """
SELECT p_partkey, replace(p_name, ' ', '%20') AS p_name_enc
FROM part
"""


SQL_OP_EMPTY_GUARD = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderstatus = 'NO_SUCH_STATUS'
"""


SQL_OP_FOREACH_GROUP = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders GROUP BY o_orderpriority
"""


SQL_SRC_URL_GEN = """
SELECT p_partkey,
       'https://api.example.com/v2/inventory?cloud.type=' || lower(p_brand)
       || '&cloud.service=' || replace(p_name, ' ', '%20')
       || '&groupBy=resource.type' AS scan_url
FROM part
"""


SQL_OP_PIVOT = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""


SQL_OP_WINDOW_RUNNING_SUM = """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
"""


SQL_OP_PERCENTILES = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders GROUP BY o_orderstatus
"""


SQL_SKETCH_KMV_DISTINCT = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS _h
  FROM events),
r AS (
  SELECT event_type, _h,
         row_number() OVER (PARTITION BY event_type ORDER BY _h) AS _rn
  FROM h),
a AS (
  SELECT event_type, count(*) AS _n,
         max(CASE WHEN _rn = {KMV_K} THEN _h END) AS _kth
  FROM r GROUP BY event_type)
SELECT event_type,
       CASE WHEN _n >= {KMV_K}
            THEN CAST(FLOOR({float(KMV_K - 1)!r} * {float(2 ** 60)!r}
                            / CAST(_kth AS DOUBLE)) AS BIGINT)
            ELSE _n END AS distinct_est
FROM a
"""


SQL_SKETCH_KMV_UNION = f"""
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS _h
  FROM events WHERE event_type IN ('click', 'view')),
hb AS (
  SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS _h
  FROM events WHERE event_type IN ('purchase', 'error')),
ma AS (SELECT _h FROM ha ORDER BY _h LIMIT {KMV_K}),
mb AS (SELECT _h FROM hb ORDER BY _h LIMIT {KMV_K}),
m AS (SELECT DISTINCT _h FROM (SELECT _h FROM ma UNION ALL SELECT _h FROM mb) u),
r AS (SELECT _h, row_number() OVER (ORDER BY _h) AS _rn FROM m),
agg AS (SELECT count(*) AS _n,
               max(CASE WHEN _rn = {KMV_K} THEN _h END) AS _kth
        FROM r)
SELECT CASE WHEN _n >= {KMV_K}
            THEN CAST(FLOOR({float(KMV_K - 1)!r} * {float(2 ** 60)!r}
                            / CAST(_kth AS DOUBLE)) AS BIGINT)
            ELSE CAST(_n AS BIGINT) END AS union_distinct_est,
       (SELECT count(*) FROM ma) AS sketch_a_size,
       (SELECT count(*) FROM mb) AS sketch_b_size
FROM agg
"""


SQL_SKETCH_QUANTILE = """
WITH s AS (
  SELECT event_type, value, event_id FROM events
  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 20 = 0),
r AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS _rn,
         count(*) OVER (PARTITION BY event_type) AS _sn
  FROM s)
SELECT event_type, value AS p50_sample, _sn AS sample_n
FROM r WHERE _rn = (_sn + 1) // 2
"""


SQL_OP_SALTED_JOIN = """
SELECT l_orderkey, l_linenumber, l_extendedprice, o_orderstatus
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


SQL_STREAM_STATEFUL = """
SELECT event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


SQL_TPCH_Q1 = """
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       sum_charge, count_order,
       round(sum_qty / count_order, 6) AS avg_qty,
       round(sum_base_price / count_order, 6) AS avg_price
FROM g
"""


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


SQL_TOP_K_PER_GROUP = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem) t WHERE rn <= 3
"""


SQL_ASOF_JOIN = """
SELECT p.event_id, p.user_id, c.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts) c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


SQL_ASOF_JOIN_FORWARD = """
SELECT c.event_id, c.user_id, p.value AS next_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id, ts) p
  ON c.user_id = p.user_id AND p.ts >= c.ts
"""


SQL_OP_DISTINCT = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


SQL_OP_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


SQL_OP_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000
"""


SQL_OP_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


SQL_OP_SESSIONIZE = """
WITH flagged AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events),
numbered AS (
  SELECT user_id, ts_us,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, min(ts_us) AS session_start,
       max(ts_us) AS session_end, count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


SQL_OP_APPLY_IN_PANDAS = """
SELECT event_type, value,
       value - min(value) OVER (PARTITION BY event_type) AS value_centered
FROM events
"""


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY text
"""


# shared DuckDB fragment: word 3-gram shingle set of the normalized text,
# replicated from operators.text.normalized/tokens + dedup.word_shingles
_SQL_SHINGLES = """
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))), '\\s+') AS t
        FROM documents) toks
"""


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb, count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, round(i / (ma + mb - i), 4) AS jaccard_r
FROM inter WHERE i / (ma + mb - i) >= 0.2
"""


SQL_DEDUP_INCREMENTAL = f"""
WITH sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS index_id,
         a.m AS mn, b.m AS mi, count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1, 2, 3, 4)
SELECT new_id, index_id, round(i / (mn + mi - i), 4) AS jaccard_r
FROM inter WHERE i / (mn + mi - i) >= 0.2
"""


# DuckDB double-precision cosine between two FLOAT[] columns a.v / b.v that
# were pre-cast to DOUBLE lists; list_dot_product sums are well within the
# round-4 tolerance of Spark's sequential fold.
_SQL_COS = ("list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


SQL_DEDUP_EMBEDDING = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_SQL_COS.format(a='a.v', b='b.v')} AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round(cos, 4) AS cos_r
FROM pairs WHERE cos >= 0.35
"""


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb, count(*) AS i
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
  SELECT e.dst, r.m FROM edges e JOIN reach r ON e.src = r.n)
SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
"""


SQL_SIM_BRUTEFORCE_TOPK = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_SQL_COS.format(a='q.v', b='c.v')} AS cos
  FROM q JOIN e c ON c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored)
SELECT query_id, vec_id, round(cos, 4) AS cos_r FROM ranked WHERE rn <= 5
"""


def _sql_md5_buckets(tables: int, planes: int, dim: int = 64,
                     src: str = "embeddings") -> str:
    """Shared DuckDB CTE chain reproducing ``similarity.bucket_table``:
    integer hyperplane components from the 60-bit md5
    primitive, floor-quantized vectors, exact-integer sign decisions,
    bit-packed (vec_id, t, b) bucket rows. ``src`` may be an earlier CTE
    (vec_id, embedding) — the multimodal composition uses that to bucket
    md5-slice pseudo-embeddings instead of the embeddings table."""
    return f"""
hp AS (
  SELECT t, p, d,
         (('0x' || substr(md5('hp,' || t || ',' || p || ',' || d), 1, 15))::BIGINT
          % 2001) - 1000 AS c
  FROM range({tables}) AS r1(t), range({planes}) AS r2(p), range({dim}) AS r3(d)),
qv AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000.0) AS BIGINT) AS q
  FROM {src}),
dots AS (
  SELECT qv.vec_id, hp.t, hp.p, SUM(qv.q * hp.c) AS dt
  FROM qv JOIN hp ON qv.d = hp.d
  GROUP BY 1, 2, 3),
bkt AS (
  SELECT vec_id, t,
         SUM(CASE WHEN dt >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS b
  FROM dots GROUP BY 1, 2)
"""


SQL_DEDUP_EMBEDDING_LSH = f"""
WITH {_sql_md5_buckets(tables=8, planes=8)},
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bkt a JOIN bkt b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
scored AS (
  SELECT c.vec_a, c.vec_b, {_SQL_COS.format(a='x.v', b='y.v')} AS cos
  FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b)
SELECT vec_a, vec_b, round(cos, 4) AS cos_r FROM scored WHERE cos >= 0.35
"""


SQL_SIM_LSH_TOPK = f"""
WITH {_sql_md5_buckets(tables=4, planes=8)},
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
  FROM bkt qb JOIN bkt cb ON qb.t = cb.t AND qb.b = cb.b
  WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id),
scored AS (
  SELECT c.query_id, c.vec_id, {_SQL_COS.format(a='q.v', b='t.v')} AS cos
  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e t ON t.vec_id = c.vec_id),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(cos, 4) AS cos_r FROM ranked WHERE rn <= 5
"""


SQL_SIM_MULTIPROBE_TOPK = f"""
WITH {_sql_md5_buckets(tables=4, planes=8)},
qp AS (
  SELECT vec_id, t,
         CASE WHEN p = 8 THEN b
              ELSE xor(b, CAST(1 AS BIGINT) << p) END AS b
  FROM bkt, range(0, 9) r(p)
  WHERE vec_id < 5),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
cand AS (
  SELECT DISTINCT qp.vec_id AS query_id, cb.vec_id AS vec_id
  FROM qp JOIN bkt cb ON qp.t = cb.t AND qp.b = cb.b
  WHERE cb.vec_id <> qp.vec_id),
scored AS (
  SELECT c.query_id, c.vec_id, {_SQL_COS.format(a='q.v', b='t.v')} AS cos
  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e t ON t.vec_id = c.vec_id),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(cos, 4) AS cos_r FROM ranked WHERE rn <= 5
"""


SQL_TEXT_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS INTEGER) AS n_pieces
FROM documents
"""


def _sql_marker_hits(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (f"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            f"x -> list_contains([{lst}], x)))")


def _sql_lang_id() -> str:
    hits = {lang: _sql_marker_hits(ws) for lang, ws in text.LANG_MARKERS.items()}
    return f"""
SELECT doc_id,
  CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
       WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']}
            AND {hits['en']} >= {hits['es']} THEN 'en'
       WHEN {hits['de']} >= {hits['fr']} AND {hits['de']} >= {hits['es']} THEN 'de'
       WHEN {hits['fr']} >= {hits['es']} THEN 'fr'
       ELSE 'es' END AS pred_lang
FROM documents
"""


def _sql_quality() -> str:
    stop_hits = _sql_marker_hits(text.STOPWORDS)
    return f"""
WITH f AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS n_tok,
         length(text) AS n_chars,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
         {stop_hits} AS stop_hits
  FROM documents),
r AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok > 0 THEN nonspace / n_tok ELSE 0.0 END AS mean_tok_len,
         CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0.0 END AS stop_ratio
  FROM f)
SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tokens,
       mean_tok_len AS mean_token_len,
       punct_ratio,
       stop_ratio AS stopword_ratio,
       least(1.0, greatest(0.0,
             0.5 * stop_ratio * 5 + 0.3 * (1 - punct_ratio)
             + 0.2 * least(n_tok / 100.0, 1.0))) AS quality_score
FROM r
"""


SQL_TEXT_TOP_TOKENS = """
SELECT token, count(*) AS n
FROM (SELECT unnest(list_filter(
        regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
      FROM documents) t
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


_SQL_WS_TOKENS = """
  SELECT doc_id, list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
"""


def _sql_ngrams(n: int, distinct: bool) -> str:
    """DuckDB twin of text.word_ngrams over whitespace tokens: short docs
    contribute their full token string, empty docs an empty list."""
    body = (f"list_transform(range(1, greatest(len(t) - {n - 1}, 1) + 1), "
            f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))")
    if distinct:
        body = f"list_distinct({body})"
    return (f"SELECT doc_id, CASE WHEN len(t) = 0 THEN []::VARCHAR[] "
            f"ELSE {body} END AS grams FROM t")


SQL_TEXT_REPETITION = f"""
WITH t AS ({_SQL_WS_TOKENS}),
g AS ({_sql_ngrams(3, distinct=False)})
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       CASE WHEN len(grams) > 0
            THEN (len(grams) - len(list_distinct(grams))) / len(grams)
            ELSE 0.0 END AS dup_frac
FROM g
"""


SQL_TEXT_CONTAMINATION = f"""
WITH t AS ({_SQL_WS_TOKENS}),
g AS ({_sql_ngrams(5, distinct=True)}),
corpus AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id % 100 <> 0),
bank AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 100 = 0),
hits AS (SELECT c.doc_id, count(*) AS n_hits
         FROM corpus c JOIN bank b ON c.gr = b.gr GROUP BY 1)
SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 100 <> 0
"""


SQL_TEXT_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before
  FROM t)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(before // 512 AS BIGINT) AS bin_id,
       CAST(before % 512 AS BIGINT) AS bin_offset
FROM c
"""


SQL_TEXT_PII_REDACT = """
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or call 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS r
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(r,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
       regexp_replace(regexp_replace(r,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') <> r AS had_pii
FROM raw
"""


SQL_TEXT_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term,
         (tf.cnt / dl.dlen) * ((SELECT count(DISTINCT doc_id) FROM tf) / dfq.df) AS tfidf
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term))
SELECT doc_id, term, tfidf, rn FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored)
WHERE rn <= 3
"""


SQL_OP_PROFILE = """
WITH g AS (
  SELECT count(*) AS n_rows,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_1,
         count(DISTINCT o_orderstatus) AS dist_1,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_2,
         count(DISTINCT o_orderpriority) AS dist_2,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_3,
         count(DISTINCT o_custkey) AS dist_3
  FROM orders)
SELECT 'o_orderstatus' AS col_name, n_rows, null_1 AS n_null, dist_1 AS n_distinct FROM g
UNION ALL
SELECT 'o_orderpriority', n_rows, null_2, dist_2 FROM g
UNION ALL
SELECT 'o_custkey', n_rows, null_3, dist_3 FROM g
"""


SQL_OP_CORRUPT_CAPTURE = """
SELECT event_id % 3 = 0 AS was_corrupted, count(*) AS n,
       count(CASE WHEN event_id % 3 = 0 THEN NULL
                  ELSE json_extract(props, '$.k') END) AS n_parsed
FROM events GROUP BY 1
"""


SQL_TEXT_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


SQL_SRC_LOGIN = """
SELECT true AS login_ok, 11 AS token_len
"""


SQL_SRC_GET_JSON = """
SELECT * FROM (VALUES
  ('Amazon EC2', 'aws', CAST(14 AS BIGINT), CAST(120 AS BIGINT), CAST(134 AS BIGINT)),
  ('Azure VM', 'azure', 5, 55, 60),
  ('GCS Bucket', 'gcp', 2, 8, 0)
) AS t(serviceName, cloudTypeName, failedResources, passedResources, totalResources)
"""


SQL_SRC_PAGINATED_POST = """
SELECT 'acct-' || CAST(i % 7 AS VARCHAR) AS account,
       count(*) AS n_alerts,
       min(CAST(9000 + i AS VARCHAR)) AS min_account_id,
       CAST(count(*) FILTER (i % 11 = 0) AS BIGINT) AS n_missing_groups
FROM range(237) t(i) GROUP BY 1
"""


SQL_SRC_STREAM_ALERTS = """
SELECT CASE i % 3 WHEN 0 THEN 'aws' WHEN 1 THEN 'azure' ELSE 'gcp' END AS cloudType,
       count(*) AS n_alerts,
       min(CAST(9000 + i AS VARCHAR)) AS min_account_id,
       CAST(count(*) FILTER (i % 11 = 0) AS BIGINT) AS n_missing_groups
FROM range(237) t(i) GROUP BY 1
"""


SQL_SRC_BACKOFF = """
SELECT 3 AS attempts, true AS ok
"""


SQL_SINK_CSV = """
SELECT c_custkey, upper(c_name) AS name, c_mktsegment AS segment FROM customer
"""


SQL_SINK_PARTITION = """
SELECT o_orderkey, o_totalprice,
       year(o_orderdate) AS o_year, month(o_orderdate) AS o_month
FROM orders
"""


SQL_STREAM_SINK_PARQUET = """
SELECT event_id, user_id, event_type, value,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(0 AS LONG) AS replay_rows
FROM events
"""


SQL_OP_INCREMENTAL_AGG = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY day, event_type
"""


SQL_OP_SCHEMA_EVOLUTION = """
SELECT event_id, event_type, NULL::DOUBLE AS value_v2
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, event_type, value AS value_v2
FROM events WHERE event_id % 2 = 1
"""


SQL_OP_COMPACT_FILES = """
SELECT event_id, user_id, event_type, value, CAST(4 AS BIGINT) AS files_after
FROM events
"""


SQL_STREAM_STATIC_JOIN = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, c_mktsegment,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY day, c_mktsegment
"""


SQL_STREAM_UPSERT = """
SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
       event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS _rn
      FROM events) t
WHERE _rn = 1
"""


SQL_SINK_ROLLBACK = """
SELECT true AS rollback_clean, true AS published_ok,
       (SELECT count(*) FROM orders WHERE o_orderstatus = 'P') AS published_rows
"""


SQL_PLAN_E2E_ALERT = """
WITH items AS (
  SELECT i,
         'acct-' || CAST(i % 7 AS VARCHAR) AS account,
         CAST(9000 + i AS VARCHAR) AS accountId,
         ['aws', 'azure', 'gcp'][(i % 3) + 1] AS cloudType,
         CASE WHEN i % 11 = 0 THEN NULL
              ELSE 'grp-' || CAST(i % 3 AS VARCHAR) END AS grp
  FROM range(237) t(i)),
pol AS (
  SELECT * FROM (VALUES ('aws', 'AWS baseline', 'HIGH'),
                        ('azure', 'Azure baseline', 'MEDIUM'),
                        ('gcp', 'GCP baseline', 'LOW')) p(cloud, name, sev)),
grouped AS (
  SELECT cloudType, account, count(*) AS n, min(accountId) AS accountId,
         min(grp) AS accountGroup
  FROM items GROUP BY cloudType, account)
SELECT p.name AS "Policy Name", 'config' AS "Policy Type",
       p.sev AS "Policy Severity", upper(g.cloudType) AS "Cloud Type",
       g.account AS "Cloud Account Name", g.accountId AS "Cloud Account Id",
       g.accountGroup AS "Cloud Account Group", 'fail' AS "Status",
       g.n AS "Failed Resource Count"
FROM grouped g JOIN pol p ON g.cloudType = p.cloud
"""


SQL_STREAM_WINDOW_AGG = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


SQL_STREAM_TRENDING_TOPK = """
WITH counts AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT window_start, event_type, n_events,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rank
  FROM counts)
SELECT window_start, event_type, n_events, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


SQL_STREAM_SLIDING_WINDOW = """
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS half_hour, event_type
  FROM events),
shifted AS (
  SELECT half_hour AS ws, event_type FROM b
  UNION ALL
  SELECT half_hour - INTERVAL '30 minutes', event_type FROM b)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       count(*) AS n_events
FROM shifted GROUP BY 1, 2
"""


SQL_STREAM_SESSION_WINDOW = """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,6)) AS v
  FROM events),
flagged AS (
  SELECT user_id, us, v,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                 >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM base),
numbered AS (
  SELECT user_id, us, v,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, min(us) // 1000000 AS session_start_sec,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, sid
"""


SQL_STREAM_STREAM_JOIN = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
FROM events
"""


SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height
FROM documents
"""


SQL_MULTIMODAL_FRAME_SAMPLE = """
WITH f AS (
  SELECT doc_id, octet_length(encode(text)) % 30 + 1 AS n_frames
  FROM documents)
SELECT doc_id, CAST(u AS INTEGER) AS frame_idx, CAST(n_frames AS INTEGER) AS n_frames
FROM f, unnest(range(0, n_frames, 7)) t(u)
"""


SQL_OP_MAP_FUNCTIONS = """
WITH kv AS (
  SELECT k AS mkey, json_extract(props, '$.' || k)::BIGINT AS mval
  FROM (SELECT props, unnest(json_keys(props)) AS k FROM events) t)
SELECT mkey, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(mval) AS BIGINT) AS sum_val,
       min(mval) AS min_val, max(mval) AS max_val
FROM kv GROUP BY mkey
"""


SQL_OP_UDTF_CHUNK = """
WITH t AS (
  SELECT doc_id, list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents),
c AS (
  SELECT doc_id, i AS chunk_idx,
         list_slice(toks, i * 50 + 1, i * 50 + 50) AS part
  FROM t, unnest(range(0, CAST(ceil(len(toks) / 50.0) AS BIGINT))) u(i)
  WHERE len(toks) > 0)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(part) AS INTEGER) AS n_chunk_tokens,
       array_to_string(part, ' ') AS chunk_text
FROM c
"""


SQL_OP_PANDAS_UDAF = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def _sql_corpus_clean() -> str:
    return f"""
WITH RECURSIVE
q AS (SELECT * FROM ({_sql_quality()}) t
      WHERE quality_score >= 0.5 AND n_tokens >= 10),
qd AS (SELECT q.*, d.text FROM q JOIN documents d USING (doc_id)),
ex AS (SELECT min(doc_id) AS doc_id FROM qd GROUP BY md5(text)),
docs2 AS (SELECT qd.* FROM qd JOIN ex USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))), '\\s+') AS t
        FROM docs2) toks),
inv0 AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
-- df-cap (replays ngram_jaccard_pairs max_df=1000): hot shingles leave
-- the INDEX but set sizes m stay full, so both engines compute the
-- identical capped (lower-bound) jaccard -- and the pair join never
-- builds a quadratic hot-key partition at corpus scale
hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > 1000),
inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb, count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (SELECT doc_a, doc_b FROM inter WHERE i / (ma + mb - i) >= 0.5),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(n, mm) AS (
  SELECT doc_id, doc_id FROM docs2
  UNION
  SELECT e.dst, r.mm FROM edges e JOIN reach r ON e.src = r.n),
clus AS (SELECT n AS doc_id, min(mm) AS cluster_id FROM reach GROUP BY n),
keep AS (SELECT min(doc_id) AS doc_id FROM clus GROUP BY cluster_id)
SELECT d2.doc_id, d2.n_tokens, d2.quality_score
FROM docs2 d2 JOIN keep USING (doc_id)
"""


def _sql_plan_corpus_train() -> str:
    return f"""
WITH kept AS (SELECT doc_id FROM ({_sql_corpus_clean_v2()}) k),
docs AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)),
counts AS (SELECT source, count(*) AS n FROM docs GROUP BY source),
z AS (SELECT CAST(sum(CAST(round(sqrt(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS z
      FROM counts),
rates AS (SELECT source, least(1.0, 150.0 * sqrt(n) / z.z / n) AS keep_rate
          FROM counts, z),
samp AS (
  SELECT d.* FROM docs d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        % 1000000 < CAST(FLOOR(r.keep_rate * 1000000.0) AS BIGINT)),
t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM samp),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS before
  FROM t)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(before // 512 AS BIGINT) AS bin_id,
       CAST(before % 512 AS BIGINT) AS bin_offset
FROM c
"""


def _sql_corpus_clean_v2() -> str:
    return f"""
WITH RECURSIVE
qf AS (SELECT * FROM ({_sql_quality()}) t
       WHERE quality_score >= 0.5 AND n_tokens >= 10),
t AS ({_SQL_WS_TOKENS}),
rg AS ({_sql_ngrams(3, distinct=False)}),
rep AS (
  SELECT doc_id,
         CASE WHEN len(grams) > 0
              THEN (len(grams) - len(list_distinct(grams))) / len(grams)
              ELSE 0.0 END AS dup_frac
  FROM rg),
cg AS ({_sql_ngrams(5, distinct=True)}),
corpus AS (SELECT doc_id, unnest(grams) AS gr FROM cg WHERE doc_id % 100 <> 0),
bank AS (SELECT DISTINCT unnest(grams) AS gr FROM cg WHERE doc_id % 100 = 0),
cont AS (SELECT DISTINCT c.doc_id FROM corpus c JOIN bank b ON c.gr = b.gr),
clean AS (
  SELECT qf.doc_id, qf.n_tokens, qf.quality_score, rep.dup_frac
  FROM qf JOIN rep USING (doc_id)
  WHERE rep.dup_frac <= 0.5 AND qf.doc_id % 100 <> 0
    AND qf.doc_id NOT IN (SELECT doc_id FROM cont)),
qd AS (SELECT clean.*, d.text FROM clean JOIN documents d USING (doc_id)),
ex AS (SELECT min(doc_id) AS doc_id FROM qd GROUP BY md5(text)),
docs2 AS (SELECT qd.* FROM qd JOIN ex USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))), '\\s+') AS t
        FROM docs2) toks),
inv0 AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
-- df-cap (replays ngram_jaccard_pairs max_df=1000): hot shingles leave
-- the INDEX but set sizes m stay full, so both engines compute the
-- identical capped (lower-bound) jaccard -- and the pair join never
-- builds a quadratic hot-key partition at corpus scale
hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > 1000),
inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb, count(*) AS i
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS (SELECT doc_a, doc_b FROM inter WHERE i / (ma + mb - i) >= 0.5),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(n, mm) AS (
  SELECT doc_id, doc_id FROM docs2
  UNION
  SELECT e.dst, r.mm FROM edges e JOIN reach r ON e.src = r.n),
clus AS (SELECT n AS doc_id, min(mm) AS cluster_id FROM reach GROUP BY n),
keep AS (SELECT min(doc_id) AS doc_id FROM clus GROUP BY cluster_id)
SELECT d2.doc_id, d2.n_tokens, d2.quality_score, d2.dup_frac
FROM docs2 d2 JOIN keep USING (doc_id)
"""


SQL_OP_RANGE_JOIN = """
WITH base AS (SELECT epoch_us(ts) AS us, event_type, event_id FROM events),
w AS (SELECT event_id AS win_id, us AS w_start, us + 300000000 AS w_end
      FROM base WHERE event_type = 'error'),
c AS (SELECT us FROM base WHERE event_type = 'click')
SELECT w.win_id, count(*) AS clicks
FROM c JOIN w ON c.us BETWEEN w.w_start AND w.w_end
GROUP BY w.win_id
"""


SQL_OP_TIME_ROLLUP = """
WITH base AS (SELECT epoch_us(ts) // 1000000 AS sec, value FROM events),
m AS (SELECT sec - sec % 60 AS b, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM base GROUP BY 1)
SELECT 'minute' AS grain, b AS bucket_start, n AS n_events,
       CAST(s AS DOUBLE) AS sum_value FROM m
UNION ALL
SELECT 'hour', b - b % 3600, CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY 2
UNION ALL
SELECT 'day', b - b % 86400, CAST(SUM(n) AS BIGINT), CAST(SUM(s) AS DOUBLE)
FROM m GROUP BY 2
"""


SQL_OP_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


SQL_OP_GROUPING_SETS = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


SQL_OP_WINDOW_RANK = """
SELECT o_orderkey, o_custkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       first_value(o_totalprice) OVER w AS first_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


SQL_OP_SEMI_ANTI_JOIN = """
SELECT c_custkey, c_name, 'semi' AS side FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, c_name, 'anti' AS side FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


SQL_OP_UNPIVOT = """
WITH g AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM g
"""


SQL_OP_MATH_FUNCTIONS = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice + l_quantity AS add_v,
       l_extendedprice - l_quantity AS sub_v,
       l_extendedprice * l_quantity AS mul_v,
       l_extendedprice / l_quantity AS div_v,
       sqrt(l_extendedprice) AS sqrt_v,
       abs(-l_extendedprice) AS abs_v,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
       CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS sign_v,
       greatest(l_extendedprice, l_quantity * 1000) AS greatest_v,
       least(l_extendedprice, l_quantity * 1000) AS least_v,
       l_orderkey % 97 AS pmod_v,
       l_orderkey & 255 AS band_v,
       l_orderkey | 4096 AS bor_v,
       xor(l_orderkey, l_linenumber) AS bxor_v,
       l_orderkey << 3 AS shl_v,
       l_orderkey >> 2 AS shr_v,
       lower(hex(l_orderkey)) AS hex_v
FROM lineitem WHERE l_orderkey <= 1000
"""


SQL_OP_DATE_FUNCTIONS = """
SELECT o_orderkey,
       strftime(d, '%Y-%m-%d') AS d,
       strftime(date_trunc('month', d), '%Y-%m-%d') AS month_start,
       strftime(d + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
       strftime(d + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
       strftime(last_day(d), '%Y-%m-%d') AS month_end,
       datediff('day', d, DATE '1998-12-31') AS days_to_eoy,
       CAST(year(d) AS BIGINT) AS yy,
       CAST(quarter(d) AS BIGINT) AS qq,
       CAST(month(d) AS BIGINT) AS mm,
       CAST(day(d) AS BIGINT) AS dd,
       CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
       CAST(weekofyear(d) AS BIGINT) AS iso_week,
       datediff('day', DATE '1970-01-01', d) AS epoch_days
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
      WHERE o_orderkey <= 1000) t
"""


SQL_SQL_SUBQUERIES = """
SELECT c.c_custkey, c.c_acctbal,
       rank() OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS bal_rank
FROM customer c
WHERE c.c_acctbal > (SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
"""


SQL_OP_MAX_CONCURRENCY = """
WITH base AS (
  SELECT event_type, event_id,
         epoch_us(ts) // 1000000 AS s,
         epoch_us(ts) // 1000000
           + greatest(CAST(FLOOR(value) AS BIGINT), 1) AS e
  FROM events),
pts AS (
  SELECT event_type, event_id, s AS t, 1 AS d FROM base
  UNION ALL
  SELECT event_type, event_id, e AS t, -1 AS d FROM base),
run AS (
  SELECT event_type, t,
         sum(d) OVER (PARTITION BY event_type ORDER BY t, d, event_id
                      ROWS UNBOUNDED PRECEDING) AS open
  FROM pts),
runx AS (
  SELECT event_type, t, open,
         max(open) OVER (PARTITION BY event_type) AS mx
  FROM run)
SELECT event_type, CAST(max(open) AS BIGINT) AS peak_concurrency,
       min(CASE WHEN open = mx THEN t END) AS peak_start_sec
FROM runx GROUP BY event_type
"""


SQL_OP_NULL_FUNCTIONS = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_or_default,
       NULLIF(c_mktsegment, 'BUILDING') IS NULL AS was_building,
       CASE WHEN NULLIF(c_nationkey, 0) IS NOT NULL
            THEN 'nonzero-nation' ELSE 'nation-zero' END AS nvl2_nation,
       c_mktsegment IS NOT DISTINCT FROM NULLIF(c_mktsegment, 'BUILDING') AS nullsafe_eq,
       COALESCE(NULLIF(c_acctbal, 0.0), -1.0) AS bal_or_sentinel
FROM customer
"""


SQL_TEXT_TEMPERATURE_SAMPLE = """
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
z AS (SELECT CAST(sum(CAST(round(sqrt(n), 6) AS DECIMAL(18,6))) AS DOUBLE) AS z
      FROM counts),
rates AS (
  SELECT source, least(1.0, 200.0 * sqrt(n) / z.z / n) AS keep_rate
  FROM counts, z)
SELECT d.doc_id, d.source, r.keep_rate
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
      < CAST(FLOOR(r.keep_rate * 1000000.0) AS BIGINT)
"""


SQL_OP_STRING_FUNCTIONS = """
SELECT p_partkey,
       substr(p_name, 1, 8) AS name8,
       concat_ws('|', p_brand, p_type) AS brand_type,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_pad,
       translate(p_type, 'AEIOU', '') AS type_novowel,
       CAST(instr(p_type, 'BRASS') AS BIGINT) AS brass_pos,
       CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS lev_brand,
       COALESCE(regexp_extract(p_name, '^([a-z]+)', 1), '') AS first_word,
       reverse(p_brand) AS brand_rev
FROM part
"""


SQL_OP_ARRAY_FUNCTIONS = """
WITH g AS (
  SELECT l_orderkey, l_linenumber,
         range(1, (l_linenumber % 5) + 3) AS arr
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       CAST(len(arr) AS BIGINT) AS arr_len,
       CAST(list_sum(arr) AS BIGINT) AS arr_sum,
       list_contains(arr, 3) AS has_three,
       CAST(arr[-1] AS BIGINT) AS last_elem,
       array_to_string(arr, '-') AS arr_str
FROM g
"""


SQL_OP_SAMPLE_HASH = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 20 = 0
"""


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC
"""


SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


SQL_TPCH_Q14 = """
SELECT round(100.0 *
         CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
       6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


SQL_TPCH_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


SQL_TPCH_Q17 = """
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#1' AND p_size <= 5
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice, sum_qty
FROM customer, orders,
     (SELECT l_orderkey AS _ok,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300) big
WHERE o_orderkey = _ok AND c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
"""


SQL_TPCH_Q8 = """
SELECT year(o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_1'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS mkt_share,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS total_volume
FROM lineitem, part, orders, customer, supplier, nation n1, nation n2, region
WHERE l_partkey = p_partkey AND p_type = 'PROMO'
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY o_year ORDER BY o_year
"""


SQL_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


SQL_TPCH_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey) c_orders
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


SQL_TPCH_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30))
"""


SQL_TPCH_Q21 = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, nation, orders, lineitem l1
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
  AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  AND l1.l_suppkey = s_suppkey
  AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 20
"""


SQL_TPCH_Q22 = """
WITH sel AS (
  SELECT CAST(c_nationkey % 10 AS INTEGER) AS cntrycode, c_custkey, c_acctbal
  FROM customer WHERE CAST(c_nationkey % 10 AS INTEGER) IN (1, 3, 5, 7, 9)),
a AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS _avg_bal
  FROM sel WHERE c_acctbal > 0.0)
SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM sel, a
WHERE c_acctbal > _avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode ORDER BY cntrycode
"""


SQL_SKETCH_CMS_TOPK = f"""
WITH tok AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
  FROM documents),
hashed AS (
  SELECT token, i.i AS _i,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || token), 1, 15))::BIGINT
           % {CMS_WIDTH} AS _b
  FROM tok, (SELECT unnest(range(0, {CMS_DEPTH})) AS i) i),
sketch AS (SELECT _i, _b, count(*) AS _c FROM hashed GROUP BY _i, _b),
cand AS (SELECT DISTINCT token, _i, _b FROM hashed)
SELECT token, min(_c) AS est_count
FROM cand JOIN sketch USING (_i, _b)
GROUP BY token ORDER BY est_count DESC, token ASC LIMIT 20
"""


SQL_OP_WINDOW_RANGE_FRAME = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS rolling_1h_sum
FROM events
"""


def _sql_morton_spread(x: str) -> str:
    """DuckDB twin of layout._spread16 (16 -> even bits of 32)."""
    s = f"({x} & 65535)"
    s = f"(({s} | ({s} << 8)) & 16711935)"
    s = f"(({s} | ({s} << 4)) & 252645135)"
    s = f"(({s} | ({s} << 2)) & 858993459)"
    s = f"(({s} | ({s} << 1)) & 1431655765)"
    return s


SQL_OP_ZORDER_LAYOUT = f"""
WITH z AS (
  SELECT l_partkey, l_suppkey,
         ({_sql_morton_spread('l_partkey')} | ({_sql_morton_spread('l_suppkey')} << 1)) AS _z
  FROM lineitem)
SELECT CAST(_z // {1 << 26} AS BIGINT) AS z_range, count(*) AS n_rows,
       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey,
       min(l_suppkey) AS min_suppkey, max(l_suppkey) AS max_suppkey
FROM z GROUP BY z_range ORDER BY z_range
"""


_SQL_TOKENS = """
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))), '\\s+')) AS t
  FROM documents
"""

SQL_DEDUP_MINHASH_MD5 = f"""
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
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.bidx = b.bidx AND a.bk = b.bk
                         AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS i,
         len(sa.shingles) AS ma, len(sb.shingles) AS mb
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
              JOIN sh sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, round(i / (ma + mb - i), 4) AS jaccard_r
FROM verified WHERE i / (ma + mb - i) >= 0.2
"""


SQL_DEDUP_SIMHASH_MD5 = f"""
WITH tok AS ({_SQL_TOKENS}),
h AS (SELECT doc_id, md5(t) AS h FROM tok),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, 16 - b // 4, 1)) - 1)
                        >> (b % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, unnest(range(0, 64)) u(b) GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN b >= 32 AND s > 0
                     THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS sim_hi,
       CAST(SUM(CASE WHEN b < 32 AND s > 0
                     THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim_lo
FROM bits GROUP BY doc_id
"""


SQL_DEDUP_SIMHASH_MD5_PAIRS = f"""
WITH sig AS ({SQL_DEDUP_SIMHASH_MD5}),
chunks AS (
  SELECT doc_id, sim_hi, sim_lo, c.cidx,
         CASE c.cidx WHEN 0 THEN sim_lo % 65536
                     WHEN 1 THEN sim_lo // 65536
                     WHEN 2 THEN sim_hi % 65536
                     ELSE sim_hi // 65536 END AS ck
  FROM sig, unnest(range(0, 4)) c(cidx)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sim_hi AS ha, a.sim_lo AS la, b.sim_hi AS hb, b.sim_lo AS lb
  FROM chunks a JOIN chunks b ON a.cidx = b.cidx AND a.ck = b.ck
                             AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3
"""


SQL_OP_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(18,2))) AS _v
  FROM events GROUP BY 1, 2),
spans AS (SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM spans)
SELECT g.user_id, strftime(g.d, '%Y-%m-%d') AS day,
       CAST(LAST_VALUE(_v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS filled_value
FROM grid g LEFT JOIN daily USING (user_id, d)
"""


SQL_OP_SCD2 = """
SELECT user_id, event_type, event_id, value,
       epoch_us(ts) AS valid_from_us,
       epoch_us(LEAD(ts) OVER w) AS valid_to_us,
       CAST(LEAD(ts) OVER w IS NULL AS INT) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


SQL_OP_WINDOW_LAG_LEAD = """
SELECT event_id, user_id,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       value - LAG(value) OVER w AS value_delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


SQL_OP_HISTOGRAM = """
SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 5000.0) AS BIGINT),
                      0), 21) AS bucket,
       COUNT(*) AS cnt
FROM lineitem GROUP BY 1
"""


SQL_OP_MERGE_UPSERT = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, event_id, value, ts_us FROM ranked WHERE rn = 1
"""


SQL_OP_STRATIFIED_SAMPLE = """
SELECT doc_id, source, lang
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
      < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 500 ELSE 100 END
"""


SQL_TEXT_BIGRAM_COUNTS = r"""
WITH words AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
pairs AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS bigram
  FROM words, UNNEST(generate_series(1, len(ws) - 1)) AS t(i))
SELECT bigram, COUNT(*) AS cnt FROM pairs
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50
"""


SQL_PLAN_STREAM_REPORT = """
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
j AS (
  SELECT e.ts, e.value, c.c_mktsegment
  FROM events e JOIN customer c ON e.user_id = c.c_custkey),
agg AS (
  SELECT date_trunc('day', ts) AS d, c_mktsegment,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM j GROUP BY 1, 2)
SELECT strftime(agg.d, '%Y-%m-%d') AS day, c_mktsegment, n_events,
       sum_value, CAST(0 AS BIGINT) AS replay_rows
FROM agg, wm
WHERE agg.d + INTERVAL 1 DAY <= wm.w
"""


def _sql_dedup_keep_best() -> str:
    stop_hits = _sql_marker_hits(text.STOPWORDS)
    return f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
inv AS (SELECT doc_id, len(shingles) AS m, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb, count(*) AS i
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
clusters AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
qf AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '')) AS n_tok,
         length(text) AS n_chars,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
         {stop_hits} AS stop_hits
  FROM documents),
score AS (
  SELECT doc_id,
         least(1.0, greatest(0.0,
               0.5 * (CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0.0 END) * 5
               + 0.3 * (1 - (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END))
               + 0.2 * least(n_tok / 100.0, 1.0))) AS quality_score
  FROM qf),
member AS (
  SELECT c.doc_id, c.cluster_id, s.quality_score,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.quality_score DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN score s USING (doc_id))
SELECT doc_id, cluster_id, cluster_size, quality_score
FROM member WHERE rn = 1
"""


SQL_ASOF_JOIN_NEAREST = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
b AS (
  SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS bts, p.value AS bval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us),
f AS (
  SELECT c.event_id, p.ts_us AS fts, p.value AS fval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us <= p.ts_us)
SELECT b.event_id, b.user_id,
       CASE WHEN bts IS NULL OR (fts IS NOT NULL AND fts - ts_us < ts_us - bts)
            THEN fval ELSE bval END AS nearest_purchase_value,
       CASE WHEN bts IS NULL OR (fts IS NOT NULL AND fts - ts_us < ts_us - bts)
            THEN fts - ts_us ELSE ts_us - bts END AS asof_dist_us
FROM b JOIN f USING (event_id)
"""


SQL_OP_INTERVAL_MERGE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(FLOOR(value * 3600000000.0) AS BIGINT) AS e
  FROM events),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER w_prev IS NULL OR s > MAX(e) OVER w_prev
              THEN 1 ELSE 0 END AS brk
  FROM iv
  WINDOW w_prev AS (PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
islands AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS isl
  FROM flagged)
SELECT user_id, MIN(s) AS island_start_us, MAX(e) AS island_end_us,
       COUNT(*) AS n_intervals
FROM islands GROUP BY user_id, isl
"""


SQL_OP_FUZZY_JOIN = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT l.p_name AS name1, r.p_name AS name2,
       levenshtein(l.p_name, r.p_name) AS edit_dist
FROM names l JOIN names r
  ON string_split(l.p_name, ' ')[-1] = string_split(r.p_name, ' ')[-1]
 AND l.p_name < r.p_name
WHERE levenshtein(l.p_name, r.p_name) <= 3
"""


SQL_OP_LINREG_GROUP = """
WITH s AS (
  SELECT event_type,
         CAST(extract(hour FROM ts) AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events),
a AS (
  -- sums stay exact HUGEINT (no BIGINT cast): mirrors the Spark
  -- operator's DECIMAL(38,0) accumulation — BIGINT sums of cents²
  -- terms overflow 2^63 on big groups
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT)*CAST(x AS HUGEINT)) AS sxx,
         SUM(CAST(x AS HUGEINT)*CAST(y AS HUGEINT)) AS sxy,
         SUM(CAST(y AS HUGEINT)*CAST(y AS HUGEINT)) AS syy
  FROM s GROUP BY event_type),
-- exact sums cast to DOUBLE once (correctly rounded in both engines),
-- then cross products as single IEEE ops — identical op order keeps
-- the hash match bit-for-bit
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(syy AS DOUBLE) AS syyd
  FROM a)
-- degenerate-group guard mirrors grouped_linreg: non-positive variance
-- terms (double cancellation on near-constant groups) -> NULL, r2
-- capped at 1.0 against last-ulp overshoot
SELECT event_type, n,
  round(CASE WHEN nd*sxxd - sxd*sxd > 0 THEN
    ((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd)) / 100.0 END, 6) AS slope,
  round(CASE WHEN nd*sxxd - sxd*sxd > 0 THEN
    (syd/100.0
     - ((nd*sxyd - sxd*syd)/(nd*sxxd - sxd*sxd)) * sxd/100.0) / nd
    END, 6) AS intercept,
  round(CASE WHEN nd*sxxd - sxd*sxd > 0 AND nd*syyd - syd*syd > 0 THEN
    least(((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd))
          / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)), 1.0) END,
    6) AS r2
FROM d
"""


SQL_OP_OUTLIER_MAD = """
WITH r AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc FROM events),
med AS (
  SELECT event_type, quantile_cont(yc, 0.5) AS m FROM r GROUP BY event_type),
dev AS (
  SELECT r.event_type, abs(r.yc - med.m) AS d, med.m
  FROM r JOIN med USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS md, min(m) AS m2
  FROM dev GROUP BY event_type)
SELECT dev.event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN dev.d > 3 * mad.md THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(min(mad.m2) / 100.0, 4) AS median_value,
       round(min(mad.md) / 100.0, 4) AS mad_value
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
"""


SQL_OP_TABLE_CHECKSUM = """
WITH canon AS (
  SELECT concat_ws('|',
           CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
           CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR),
           CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
           l_returnflag, strftime(l_shipdate, '%Y-%m-%d')) AS s
  FROM lineitem),
h AS (
  SELECT CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM canon)
SELECT COUNT(*) AS n_rows,
       bit_xor(h) AS xor_digest,
       -- DuckDB sums BIGINT into HUGEINT (no overflow); reduce mod 2^32
       -- AFTER the aggregate to mirror the Spark DECIMAL(38,0) path
       CAST(SUM(h % 4294967296) % 4294967296 AS BIGINT) AS sum_digest
FROM h
"""


SQL_TEXT_BIGRAM_LIFT = r"""
WITH ws AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
toks AS (SELECT unnest(ws) AS tok FROM ws),
tc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tt AS (SELECT COUNT(*) AS t FROM toks),
pairs AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i] || ' ' || ws[i + 1] AS bigram
  FROM ws, UNNEST(generate_series(1, len(ws) - 1)) AS s(i)),
pc AS (SELECT bigram, min(w1) AS w1, min(w2) AS w2, COUNT(*) AS cnt
       FROM pairs GROUP BY bigram),
bt AS (SELECT COUNT(*) AS b FROM pairs)
SELECT pc.bigram, pc.cnt,
       round(CAST(CAST(pc.cnt AS DECIMAL(38,0)) * tt.t * tt.t AS DOUBLE)
             / CAST(CAST(bt.b AS DECIMAL(38,0)) * c1.c * c2.c AS DOUBLE),
             6) AS lift
FROM pc
JOIN tc c1 ON pc.w1 = c1.tok
JOIN tc c2 ON pc.w2 = c2.tok
CROSS JOIN tt CROSS JOIN bt
WHERE pc.cnt >= 5
ORDER BY lift DESC, bigram ASC LIMIT 20
"""


SQL_OP_FUNNEL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
a AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN tu END) AS t_view
  FROM e GROUP BY user_id),
b AS (
  SELECT e.user_id, MIN(e.tu) AS t_click
  FROM e JOIN a USING (user_id)
  WHERE e.event_type = 'click' AND e.tu > a.t_view
  GROUP BY e.user_id),
c AS (
  SELECT e.user_id, MIN(e.tu) AS t_purchase
  FROM e JOIN b USING (user_id)
  WHERE e.event_type = 'purchase' AND e.tu > b.t_click
  GROUP BY e.user_id)
SELECT a.user_id, a.t_view, b.t_click, c.t_purchase,
       CAST(CASE WHEN c.t_purchase IS NOT NULL THEN 3
                 WHEN b.t_click IS NOT NULL THEN 2
                 WHEN a.t_view IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_depth
FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
"""


SQL_OP_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
coh AS (
  SELECT user_id, MIN(d) AS cohort_d FROM act GROUP BY user_id)
SELECT strftime(coh.cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', coh.cohort_d, act.d) AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM act JOIN coh USING (user_id)
GROUP BY 1, 2
"""


SQL_OP_EXPECTATIONS = """
WITH wide AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS v1,
    SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS v2,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v3,
    SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS v4,
    SUM(CASE WHEN o_orderdate >= TIMESTAMP '2020-01-01' THEN 0 ELSE 1 END)
      AS v5
  FROM orders),
tall AS (
  SELECT 'orderkey_not_null' AS rule, n_rows, CAST(v1 AS BIGINT)
         AS n_violations FROM wide
  UNION ALL SELECT 'custkey_not_null', n_rows, CAST(v2 AS BIGINT) FROM wide
  UNION ALL SELECT 'totalprice_positive', n_rows, CAST(v3 AS BIGINT) FROM wide
  UNION ALL SELECT 'status_in_domain', n_rows, CAST(v4 AS BIGINT) FROM wide
  UNION ALL SELECT 'orderdate_in_range', n_rows, CAST(v5 AS BIGINT) FROM wide)
SELECT rule, n_rows, n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
FROM tall
"""


SQL_OP_WINSORIZED_MEAN = """
WITH r AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc FROM events),
b AS (
  SELECT event_type, quantile_cont(yc, 0.05) AS plo,
         quantile_cont(yc, 0.95) AS phi
  FROM r GROUP BY event_type),
c AS (
  SELECT r.event_type, least(greatest(r.yc, b.plo), b.phi) AS cl,
         b.plo, b.phi
  FROM r JOIN b USING (event_type))
SELECT event_type, COUNT(*) AS n,
       round(min(plo) / 100.0, 4) AS p_lo,
       round(min(phi) / 100.0, 4) AS p_hi,
       round((SUM(cl) / COUNT(*)) / 100.0, 4) AS win_mean
FROM c GROUP BY event_type
"""


SQL_DEDUP_PASSAGE_EXACT = r"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
wins AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(ws, i, i + 15), ' '))
           AS passage_md5
  FROM ws, UNNEST(generate_series(1, len(ws) - 15, 8)) AS t(i)
  WHERE len(ws) >= 16)
SELECT passage_md5, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM wins GROUP BY passage_md5
HAVING COUNT(DISTINCT doc_id) >= 2
"""


SQL_OP_TABLE_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0
              THEN round(o_totalprice + 1.11, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 83 <> 0),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_totalprice AS o_o_totalprice,
         n.o_totalprice AS n_o_totalprice,
         o.o_orderstatus AS o_o_orderstatus,
         n.o_orderstatus AS n_o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              THEN 'changed' END AS change_type
  FROM old o FULL OUTER JOIN new n USING (o_orderkey))
SELECT change_type, o_orderkey, o_o_totalprice, n_o_totalprice,
       o_o_orderstatus, n_o_orderstatus
FROM j WHERE change_type IS NOT NULL
"""


SQL_DEDUP_PASSAGE_PAIRS = r"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS ws
  FROM documents),
wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
  FROM ws, UNNEST(generate_series(1, len(ws) - 15, 8)) AS t(i)
  WHERE len(ws) >= 16),
keep AS (
  SELECT h FROM wins GROUP BY h
  HAVING COUNT(*) BETWEEN 2 AND 32),
kept AS (SELECT wins.* FROM wins JOIN keep USING (h))
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       COUNT(*) AS n_shared_passages
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""


SQL_STREAM_FUNNEL = SQL_OP_FUNNEL


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id,
       CAST(64 AS INTEGER) AS width,
       CAST(48 AS INTEGER) AS height,
       least(octet_length(encode(text)), 64 * 48 * 3) AS out_bytes
FROM documents
"""


SQL_MULTIMODAL_EMBED = """
SELECT doc_id,
       CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) / 65536.0 AS e0,
       CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) / 65536.0 AS e1,
       CAST(('0x' || substr(md5(text), 9, 4)) AS BIGINT) / 65536.0 AS e2,
       CAST(('0x' || substr(md5(text), 13, 4)) AS BIGINT) / 65536.0 AS e3,
       CAST(('0x' || substr(md5(text), 17, 4)) AS BIGINT) / 65536.0 AS e4,
       CAST(('0x' || substr(md5(text), 21, 4)) AS BIGINT) / 65536.0 AS e5,
       CAST(('0x' || substr(md5(text), 25, 4)) AS BIGINT) / 65536.0 AS e6,
       CAST(('0x' || substr(md5(text), 29, 4)) AS BIGINT) / 65536.0 AS e7
FROM documents
"""


SQL_PLAN_MULTIMODAL_DEDUP = f"""
WITH docemb AS (
  SELECT doc_id AS vec_id,
         [CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 9, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 13, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 17, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 21, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 25, 4)) AS BIGINT) / 65536.0 - 0.5,
          CAST(('0x' || substr(md5(text), 29, 4)) AS BIGINT) / 65536.0 - 0.5
         ] AS embedding
  FROM documents),
{_sql_md5_buckets(tables=8, planes=32, dim=8, src="docemb")},
-- self-sizing dial replay: smallest planes with 2^planes >= ceil(n/2),
-- clamped [8, 32] — identical to similarity.auto_planes; masking the
-- 32-plane bucket to the low `planes` bits IS bucketing with exactly
-- the first `planes` hyperplanes (they seed by (t, p, d))
nc AS (SELECT COUNT(*) AS n FROM docemb),
params AS (
  SELECT GREATEST(8, LEAST(32, MIN(k))) AS planes
  FROM range(0, 33) r(k), nc
  WHERE (CAST(1 AS BIGINT) << k) >= (nc.n + 1) // 2),
bktm AS (
  SELECT vec_id, t,
         b % (CAST(1 AS BIGINT) << (SELECT planes FROM params)) AS b
  FROM bkt),
e AS (SELECT vec_id, embedding AS v FROM docemb),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bktm a JOIN bktm b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
scored AS (
  SELECT c.vec_a, c.vec_b, {_SQL_COS.format(a='x.v', b='y.v')} AS cos
  FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b)
SELECT vec_a, vec_b, round(cos, 4) AS cos_r FROM scored WHERE cos >= 0.9
"""


SQL_OP_STRING_AGG = """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
         AS statuses,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


SQL_OP_WINDOW_PERCENT = """
SELECT o_orderkey, o_custkey,
       round(percent_rank() OVER
             (PARTITION BY o_custkey
              ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
       round(cume_dist() OVER
             (PARTITION BY o_custkey
              ORDER BY o_totalprice, o_orderkey), 6) AS cume
FROM orders
"""


SQL_OP_CUMULATIVE_DISTINCT = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
  FROM events GROUP BY user_id),
daily AS (
  SELECT first_d, COUNT(*) AS new_users FROM first GROUP BY first_d)
SELECT strftime(first_d, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM daily
"""


SQL_OP_FUZZY_CANONICALIZE = """
WITH names AS (SELECT DISTINCT p_name FROM part),
pairs AS (
  SELECT l.p_name AS name1, r.p_name AS name2
  FROM names l JOIN names r
    ON string_split(l.p_name, ' ')[-1] = string_split(r.p_name, ' ')[-1]
  WHERE levenshtein(l.p_name, r.p_name) <= 1),
canon AS (
  SELECT name1, MIN(name2) AS canonical
  FROM pairs GROUP BY name1)
SELECT COALESCE(c.canonical, p.p_name) AS canon_name,
       COUNT(*) AS n_parts,
       round(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM part p LEFT JOIN canon c ON p.p_name = c.name1
GROUP BY 1
"""


# =====================================================================
# synthetic partsupp: the five remaining TPC-H queries (Q2/Q9/Q11/
# Q16/Q20)
# =====================================================================
# The driver's testdata ships no partsupp table, so the five TPC-H
# queries that need one are formulated over a DETERMINISTIC synthetic
# partsupp, generated IDENTICALLY in both engines from data already on
# disk: the distinct (l_partkey, l_suppkey) pairs observed in lineitem
# (guaranteeing every lineitem row has a matching partsupp row, as in
# real TPC-H) plus key-derived ps_availqty / ps_supplycost:
#
#   ps_availqty   = (ps_partkey*7  + ps_suppkey*13) % 9999 + 1   (int)
#   ps_supplycost = ((ps_partkey*31 + ps_suppkey*17) % 10000)
#                   / 100.0 + 1.0                             (double)
#
# Pure integer arithmetic plus one correctly-rounded double divide —
# bit-identical across Spark and DuckDB. Scale: the distinct-pair
# derivation is one shuffle on the composite key (map-side combinable);
# a real deployment would materialize this once and bucket it by
# ps_partkey next to lineitem.

_PARTSUPP_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS BIGINT)
           AS ps_availqty,
         CAST((ps_partkey * 31 + ps_suppkey * 17) % 10000 AS DOUBLE)
           / 100.0 + 1.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem))
"""


SQL_TPCH_Q2 = f"""
WITH {_PARTSUPP_CTE.strip()},
eligible AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'),
regional AS (
  SELECT * FROM partsupp JOIN eligible ON ps_suppkey = s_suppkey),
mc AS (
  SELECT ps_partkey AS _mk, MIN(ps_supplycost) AS _min_cost
  FROM regional GROUP BY ps_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
FROM regional
JOIN mc ON ps_partkey = _mk AND ps_supplycost = _min_cost
JOIN part ON ps_partkey = p_partkey
WHERE p_size = 15
"""


SQL_TPCH_Q9 = f"""
WITH {_PARTSUPP_CTE.strip()}
SELECT n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           - ps_supplycost * l_quantity
                           AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_profit
FROM lineitem, partsupp, orders, part, supplier, nation
WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  AND o_orderkey = l_orderkey AND p_partkey = l_partkey
  AND s_suppkey = l_suppkey AND n_nationkey = s_nationkey
  AND p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


SQL_TPCH_Q11 = f"""
WITH {_PARTSUPP_CTE.strip()},
nat_sup AS (
  SELECT s_suppkey FROM supplier, nation
  WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'),
per_part AS (
  SELECT ps_partkey,
         SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,6))) AS _v
  FROM partsupp JOIN nat_sup ON ps_suppkey = s_suppkey
  GROUP BY ps_partkey)
SELECT ps_partkey, round(CAST(_v AS DOUBLE), 2) AS value
FROM per_part, (SELECT SUM(_v) AS _tot FROM per_part) t
WHERE CAST(_v AS DOUBLE) > CAST(_tot AS DOUBLE) * 0.0001
"""


SQL_TPCH_Q16 = f"""
WITH {_PARTSUPP_CTE.strip()}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp, part
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                         WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""
