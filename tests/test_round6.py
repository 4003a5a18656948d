"""Round-6 regression pins for the four advisor findings:

1. grouped_linreg: cross products in DOUBLE — BIGINT products overflow
   2^63 on cents-scale groups (ANSI ArithmeticException / silent wrap).
2. table_checksum: sum_digest accumulates in DECIMAL(38,0), reduced
   mod 2^32 AFTER the aggregate — a LONG sum overflows past ~2^31 rows.
3. passage_hashes is total: documents shorter than `window` tokens
   yield zero passages instead of an "Illegal sequence boundaries" crash.
4. streaming_funnel: None (not -1) as the no-view-yet sentinel, so
   pre-epoch (negative µs) timestamps keep batch/stream parity.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.operators.stats import (
    grouped_linreg,
    table_checksum,
)


# ---------------------------------------------------- linreg overflow

def test_grouped_linreg_survives_cents_scale_products(spark):
    # 200k rows at y ~ $100k -> y_cents = 1e7, sum(y^2) ~ 2e19 > 2^63:
    # forming n*syy (or syy itself times n) in BIGINT would raise under
    # ANSI / wrap silently elsewhere. The DOUBLE-product path must give
    # a finite, correct fit.
    df = (spark.range(200_000)
          .select(F.lit("g").alias("g"),
                  (F.col("id") % 24).alias("x"),
                  (F.lit(100_000.0) + (F.col("id") % 24).cast("double")
                   + (F.col("id") % 7).cast("double") * 0.01).alias("y")))
    got = grouped_linreg(df, "g", F.col("x"), F.col("y")).collect()[0]
    assert got.n == 200_000
    # y = 1e5 + x + small noise independent of x in expectation per x
    assert got.slope == pytest.approx(1.0, abs=0.01)
    assert got.intercept == pytest.approx(100_000.0, rel=1e-4)
    assert 0.0 <= got.r2 <= 1.0


def test_grouped_linreg_still_matches_small_exact(spark):
    # the double-product rewrite must not perturb small exact fits
    rows = [("g", x, round(2.0 * x + 1.0, 2)) for x in range(10)]
    df = spark.createDataFrame(rows, "g STRING, x LONG, y DOUBLE")
    got = grouped_linreg(df, "g", F.col("x"), F.col("y")).collect()[0]
    assert (got.slope, got.intercept, got.r2) == (2.0, 1.0, 1.0)


# -------------------------------------------------- checksum mod-2^32

def _py_digest(rows):
    """Reference digest computed row-at-a-time in Python."""
    xor, tot = 0, 0
    for a, b in rows:
        h = int(hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:15], 16)
        xor ^= h
        tot += h % 2**32
    return xor, tot % 2**32


def test_table_checksum_sum_digest_is_mod_2_32(spark):
    rows = [(str(i), f"v{i % 13}") for i in range(300)]
    df = spark.createDataFrame(rows, "a STRING, b STRING")
    got = table_checksum(df, ["a", "b"]).collect()[0]
    xor, tot = _py_digest(rows)
    assert got.n_rows == 300
    assert got.xor_digest == xor
    assert got.sum_digest == tot
    assert 0 <= got.sum_digest < 2**32   # bounded: safe at any rowcount


def test_table_checksum_oracle_twin_matches(spark, tmp_path):
    # the catalog oracle applies the same post-aggregate reduction
    import duckdb
    from tf_prisma_api_data_ingestion_spark.catalog import (
        SQL_OP_TABLE_CHECKSUM,
        q_op_table_checksum,
    )
    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    got = q_op_table_checksum(spark, sf).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf}/lineitem.parquet/**/*.parquet', "
                f"hive_partitioning=0)") if os.path.isdir(
        f"{sf}/lineitem.parquet") and not os.path.isfile(
        f"{sf}/lineitem.parquet") else con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf}/lineitem.parquet')")
    want = con.execute(SQL_OP_TABLE_CHECKSUM).fetchone()
    assert (got.n_rows, got.xor_digest, got.sum_digest) == want


# ------------------------------------------------ passage_hashes total

def test_passage_hashes_total_on_short_docs(spark):
    from tf_prisma_api_data_ingestion_spark.operators.text import (
        passage_hashes,
    )
    docs = [
        (0, "only five tokens right here"),                  # < window
        (1, " ".join(f"w{i}" for i in range(16))),           # == window
        (2, ""),                                             # empty
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    i, h = passage_hashes(F.col("doc_id"), F.col("text"),
                          window=16, stride=8)
    out = df.select(i.alias("doc_id"), h.alias("h")).collect()
    # no exception, and only the 16-token doc yields (one) passage
    assert [r.doc_id for r in out] == [1]


# ------------------------------------- streaming funnel pre-epoch ts

def test_streaming_funnel_pre_epoch_timestamps(spark, tmp_path):
    # view at a NEGATIVE epoch-µs instant: a -1 sentinel would treat it
    # as "no view yet" and break batch/stream parity
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    rows = [
        (1, "view", "1969-12-31 23:00:00"),
        (1, "click", "1969-12-31 23:30:00"),
        (1, "purchase", "1970-01-01 01:00:00"),
        (2, "view", "1969-12-30 00:00:00"),   # view only, pre-epoch
    ]
    pdf = pd.DataFrame({
        "event_id": range(len(rows)),
        "user_id": [u for u, _, _ in rows],
        "event_type": [t for _, t, _ in rows],
        "ts": pd.to_datetime([ts for _, _, ts in rows]).astype(
            "datetime64[us]"),
        "value": 1.0,
        "props": "{}",
    })
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   f"{d}/events.parquet")
    from tf_prisma_api_data_ingestion_spark.catalog import q_op_funnel
    from tf_prisma_api_data_ingestion_spark.streaming.windows import (
        streaming_funnel,
    )
    batch = {r.user_id: (r.t_view, r.t_click, r.t_purchase, r.funnel_depth)
             for r in q_op_funnel(spark, d).collect()}
    stream = {r.user_id: (r.t_view, r.t_click, r.t_purchase, r.funnel_depth)
              for r in streaming_funnel(
                  spark, d, query_name="t_stream_funnel_preepoch")
              .collect()}
    assert stream == batch
    assert stream[1][3] == 3                 # full funnel resolved
    assert stream[1][0] < 0                  # and the view IS pre-epoch
    assert stream[2] == (batch[2][0], None, None, 1)


# ------------------------------------------------- LSH auto-dial

def test_auto_planes_dial():
    from tf_prisma_api_data_ingestion_spark.operators.similarity import (
        auto_planes,
    )
    assert auto_planes(0) == 8          # degenerate corpus clamps low
    assert auto_planes(500) == 8        # sf0.01 documents
    assert auto_planes(5_000) == 12     # sf0.1
    assert auto_planes(50_000) == 15    # sf1
    assert auto_planes(500_000) == 18   # sf10 (the r5 hand dial was 16)
    assert auto_planes(10**12) == 32    # clamps high
    # monotone non-decreasing
    last = 0
    for n in (1, 10, 100, 10**4, 10**6, 10**9):
        p = auto_planes(n)
        assert p >= last
        last = p


def test_lsh_near_dup_auto_dial_matches_explicit(spark):
    # planes_per_table=None at n=500 must pick 8 and give the identical
    # result as an explicit 8 — the prefix property the oracle relies on
    import numpy as np
    from tf_prisma_api_data_ingestion_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(500)]
    # plant near-dups
    for i in range(0, 20, 2):
        rows[i + 1] = (i + 1, [v + 0.01 for v in rows[i][1]])
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    a = set(map(tuple, lsh_near_dup_pairs(
        df, threshold=0.9, dim=8, planes_per_table=None, tables=4).collect()))
    b = set(map(tuple, lsh_near_dup_pairs(
        df, threshold=0.9, dim=8, planes_per_table=8, tables=4).collect()))
    assert a == b
    assert len(a) >= 10                  # the planted dups survive


# -------------------------------------- variant-json drift oracle pin

def test_variant_json_oracle_parity_on_heterogeneous_props(spark, tmp_path):
    # booleans / floats / quoted ints / malformed JSON in $.k: the
    # integer-literal guard must null out the SAME rows in both engines
    # (Spark's variant int cast alone maps true->1 and 12.5->12 where
    # DuckDB's TRY_CAST gives NULL)
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tf_prisma_api_data_ingestion_spark.catalog import (
        SQL_OP_VARIANT_JSON,
        q_op_variant_json,
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    props = ['{"k": 7}', '{"k": true}', '{"k": false}', '{"k": 12.5}',
             '{"k": "9"}', '{"k": "x"}', '{"k": -3}', 'not json',
             None, '{"other": 1}', '{"k": 1e2}', '{"k": 0}']
    pdf = pd.DataFrame({
        "event_id": range(len(props)),
        "user_id": [1] * len(props),
        "event_type": "view",
        "ts": pd.to_datetime(["2024-01-01"] * len(props)).astype(
            "datetime64[us]"),
        "value": 1.0,
        "props": props,
    })
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   f"{d}/events.parquet")
    key = lambda t: (t[0] is None, t[0] if t[0] is not None else 0,
                     t[1], t[2] or 0)
    got = sorted(((r.k_bucket, r.n, r.sum_k)
                  for r in q_op_variant_json(spark, d).collect()), key=key)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{d}/events.parquet')")
    want = sorted((tuple(r) for r in
                   con.execute(SQL_OP_VARIANT_JSON).fetchall()), key=key)
    assert got == want
    # the guard really bites: only 7, "9"->NULL? no — quoted "9" IS an
    # integer literal string in both engines; booleans/floats/x are NULL
    by_bucket = dict((b, (n, s)) for b, n, s in got)
    assert by_bucket[7] == (1, 7)        # the plain integer
    assert by_bucket[9] == (1, 9)        # quoted integer survives
    assert by_bucket[-3] == (1, -3)      # negative integer
    assert by_bucket[0][0] >= 1          # k=0 bucket
    assert by_bucket[None][0] == 8       # true/false/12.5/x/malformed/
                                         # None/other/1e2 all null out


# ------------------------------------ prefix-filtered jaccard join

def test_prefix_filter_matches_exhaustive(spark):
    # lossless: prefix-filtered pairs == exhaustive pairs at the same
    # threshold on a corpus with planted near-dups and a shared hot token
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    base = ["alpha beta gamma delta epsilon zeta eta theta",
            "iota kappa lambda mu nu xi omicron pi"]
    docs = []
    for i in range(40):
        t = base[i % 2] + f" tail{i // 2}"
        docs.append((i, "common prefix words " + t))
    # planted exact-ish pair
    docs.append((100, "alpha beta gamma delta epsilon zeta eta theta x"))
    docs.append((101, "alpha beta gamma delta epsilon zeta eta theta y"))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    want = {(r.doc_a, r.doc_b, r.jaccard_r)
            for r in ngram_jaccard_pairs(df, n=3, threshold=0.6,
                                         max_df=None).collect()}
    got = {(r.doc_a, r.doc_b, r.jaccard_r)
           for r in prefix_filter_jaccard_pairs(df, n=3, t_num=3,
                                                t_den=5).collect()}
    assert got == want
    assert (100, 101) in {(a, b) for a, b, _ in got}


def test_prefix_filter_boundary_is_exact(spark):
    # a pair sitting EXACTLY at jaccard == 3/5 must be kept (integer
    # compare, no float epsilon): |a|=|b|=6 shingles, intersection 4.5?
    # use sets: |a|=4, |b|=4, inter=3 -> 3/5 exactly
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    # 6 tokens -> 4 tri-shingles; overlap first 5 tokens -> 3 shared
    a = "w1 w2 w3 w4 w5 a6"
    b = "w1 w2 w3 w4 w5 b6"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id LONG, text STRING")
    got = prefix_filter_jaccard_pairs(df, n=3, t_num=3, t_den=5).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard_r) for r in got] == [(1, 2, 0.6)]


# ---------------------------------------------------- bm25 retrieval

def test_bm25_ranks_rare_term_docs_first(spark):
    from tf_prisma_api_data_ingestion_spark.operators.text import bm25_topk
    docs = [(i, "filler words only here nothing else") for i in range(20)]
    docs += [(100, "needle in the corpus"),          # rare term
             (101, "common common common common"),   # frequent term
             (102, "needle needle common")]          # rare x2 + common
    docs += [(200 + i, "common words here") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = bm25_topk(df, ["needle", "common"], k=3).collect()
    ids = [r.doc_id for r in got]
    # docs containing the rare 'needle' dominate any common-only doc
    assert set(ids[:2]) == {100, 102}
    assert all(r.score > 0 for r in got)


def test_bm25_deterministic_ties(spark):
    from tf_prisma_api_data_ingestion_spark.operators.text import bm25_topk
    docs = [(i, "same text every time") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    a = [r.doc_id for r in bm25_topk(df, ["same"], k=5).collect()]
    b = [r.doc_id for r in bm25_topk(df, ["same"], k=5).collect()]
    assert a == b == [0, 1, 2, 3, 4]   # doc_id tiebreak


# -------------------------------------------------- graph operators

def test_triangle_counts_hand_graph(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        triangle_counts,
    )
    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-5
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((4, 5))
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}   # 5 is in no triangle


def test_triangle_counts_orientation_handles_hub(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        triangle_counts,
    )
    # star around hub 0 (no triangles) + one closing edge 1-2
    edges = [(0, i) for i in range(1, 30)] + [(1, 2)]
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_pagerank_units_symmetric_pair(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        RANK_SCALE,
        pagerank_units,
    )
    # two nodes with edges both ways: ranks stay equal at the fixpoint
    df = spark.createDataFrame([(1, 2), (2, 1)], "src LONG, dst LONG")
    got = {r.node: r.rank_units for r in pagerank_units(df, iters=3).collect()}
    assert got[1] == got[2]
    assert got[1] == RANK_SCALE  # full mass returned each round (deg 1)


def test_pagerank_units_hub_outranks_leaves(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        pagerank_units,
    )
    # leaves all point at the hub and back: hub accumulates
    edges = [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    got = {r.node: r.rank_units for r in pagerank_units(df, iters=3).collect()}
    assert got[0] > got[1]
    assert len({got[i] for i in range(1, 6)}) == 1   # leaves symmetric


def test_pagerank_partition_invariant(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        pagerank_units,
    )
    import random
    rng = random.Random(5)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    one = {r.node: r.rank_units
           for r in pagerank_units(df.coalesce(1), iters=3).collect()}
    many = {r.node: r.rank_units
            for r in pagerank_units(df.repartition(13), iters=3).collect()}
    assert one == many   # exact integer arithmetic: bit-identical


# ---------------------------------------------------------- skyline

def test_skyline_dominance_and_ties(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        skyline_2d,
    )
    rows = [
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # exact tie with 1 -> both survive
        (3, 10.0, 4),   # same cost, lower benefit -> dominated by 1
        (4, 9.0, 3),    # cheaper, lower benefit -> frontier
        (5, 11.0, 5),   # costlier, same benefit as 1 -> dominated
        (6, 12.0, 7),   # costlier but strictly better benefit -> frontier
        (7, 8.0, 3),    # dominates 4? 8<9 cost, 3>=3 benefit, strict -> yes
    ]
    df = spark.createDataFrame(rows, "id LONG, cost DOUBLE, ben LONG")
    got = sorted(r.id for r in skyline_2d(df, "cost", "ben").collect())
    assert got == [1, 2, 6, 7]


def test_skyline_single_point_and_empty(spark):
    from tf_prisma_api_data_ingestion_spark.operators.relational import (
        skyline_2d,
    )
    one = spark.createDataFrame([(1, 5.0, 2)], "id LONG, cost DOUBLE, ben LONG")
    assert [r.id for r in skyline_2d(one, "cost", "ben").collect()] == [1]
    empty = one.filter(F.col("id") < 0)
    assert skyline_2d(empty, "cost", "ben").count() == 0


# ------------------------------------------------------ containment

def test_containment_catches_doc_within_doc(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    short = " ".join(f"w{i}" for i in range(10))
    long_ = short + " " + " ".join(f"z{i}" for i in range(60))
    other = " ".join(f"q{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id LONG, text STRING")
    cont = {(r.doc_a, r.doc_b): r.containment_r
            for r in ngram_containment_pairs(
                df, n=3, t_num=4, t_den=5, max_df=None).collect()}
    jac = {(r.doc_a, r.doc_b)
           for r in ngram_jaccard_pairs(df, n=3, threshold=0.5,
                                        max_df=None).collect()}
    # the embedded short doc: containment 1.0 (all 8 of its shingles
    # appear in long), Jaccard ~8/69 -> invisible to the jaccard dedup
    assert cont[(1, 2)] == 1.0
    assert (1, 2) not in jac
    assert (1, 3) not in cont and (2, 3) not in cont


def test_containment_integer_boundary(spark):
    from tf_prisma_api_data_ingestion_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    # min side has 5 shingles (7 tokens), exactly 4 shared -> 4/5 kept
    a = "s1 s2 s3 s4 s5 s6 x7"   # shingles: s1s2s3..s4s5s6, s5s6x7
    b = "s1 s2 s3 s4 s5 s6 y7 y8 y9"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id LONG, text STRING")
    got = ngram_containment_pairs(df, n=3, t_num=4, t_den=5,
                                  max_df=None).collect()
    assert len(got) == 1
    assert got[0].containment_r == 0.8


# ---------------------------------------------------------- graph bfs

def test_bfs_distances_chain_and_bound(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        bfs_distances,
    )
    # chain 1-2-3-4-5-6-7 with max_hops=4: node 6 at dist 5 unreachable
    edges = [(i, i + 1) for i in range(1, 7)]
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.node: r.dist for r in bfs_distances(df, 1, max_hops=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_distances_min_over_multiple_paths(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        bfs_distances,
    )
    # 1-2-4 and 1-3-4 plus direct 1-4: dist(4) must be 1, not 2
    edges = [(1, 2), (2, 4), (1, 3), (3, 4), (1, 4)]
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.node: r.dist for r in bfs_distances(df, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 1}


def test_bfs_early_stop_on_exhausted_frontier(spark):
    from tf_prisma_api_data_ingestion_spark.operators.graph import (
        bfs_distances,
    )
    # two disconnected components: the other one never appears
    edges = [(1, 2), (10, 11)]
    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r.node: r.dist for r in bfs_distances(df, 1, max_hops=4).collect()}
    assert got == {1: 0, 2: 1}


# ------------------------------------------------- leakproof split

def test_leakproof_split_no_near_dup_straddles(spark, tmp_path):
    # planted near-dup cluster of 4 docs + singletons: all 4 must land
    # in the SAME split, and split fractions follow the md5 thresholds
    import os
    base = " ".join(f"w{i}" for i in range(30))
    docs = [(i, base + f" v{i}") for i in range(4)]            # near-dups
    docs += [(100 + i, " ".join(f"u{i}x{j}" for j in range(25)))
             for i in range(40)]                               # singletons
    d = str(tmp_path / "sf"); os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).write.parquet(f"{d}/documents.parquet")
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_plan_leakproof_split,
    )
    rows = q_plan_leakproof_split(spark, d).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(rows) == 44
    # the planted cluster shares one cluster_id and one split
    cl = {by_doc[i].cluster_id for i in range(4)}
    sp = {by_doc[i].split for i in range(4)}
    assert len(cl) == 1 and len(sp) == 1
    assert cl == {0}                       # min-id representative
    # every assignment is a valid label
    assert {r.split for r in rows} <= {"train", "val", "test"}


def test_leakproof_split_is_deterministic(spark):
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_plan_leakproof_split,
    )
    sf = "/root/testdata/sf0.001"
    a = sorted((r.doc_id, r.split)
               for r in q_plan_leakproof_split(spark, sf).collect())
    b = sorted((r.doc_id, r.split)
               for r in q_plan_leakproof_split(spark, sf).collect())
    assert a == b


# --------------------------------------- group cap / equi-depth hist

def test_group_cap_is_stable_uniformish(spark, tmp_path):
    import os
    d = str(tmp_path / "sf"); os.makedirs(d, exist_ok=True)
    rows = [(i, f"doc {i}", "en", f"src{i % 3}", 5) for i in range(90)]
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, "
              "n_chars LONG").write.parquet(f"{d}/documents.parquet")
    from tf_prisma_api_data_ingestion_spark.catalog import q_op_group_cap
    got = q_op_group_cap(spark, d).collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 15 for v in per.values())    # cap binds (30/src)
    again = {(r.doc_id, r.source) for r in q_op_group_cap(spark, d).collect()}
    assert again == {(r.doc_id, r.source) for r in got}  # deterministic


def test_equidepth_histogram_equal_counts(spark):
    from tf_prisma_api_data_ingestion_spark.catalog import (
        q_op_equidepth_histogram,
    )
    got = q_op_equidepth_histogram(spark, "/root/testdata/sf0.001").collect()
    assert len(got) == 10
    ns = [r.n for r in sorted(got, key=lambda r: r.bucket)]
    assert max(ns) - min(ns) <= 1                 # equal depth (ntile)
    his = [r.hi for r in sorted(got, key=lambda r: r.bucket)]
    assert his == sorted(his)                     # monotone bucket bounds


# -------------------------------------------------- multiprobe LSH

def test_multiprobe_recall_at_least_single_probe(spark):
    import numpy as np
    from tf_prisma_api_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
        lsh_multiprobe_topk,
    )
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)]
    # planted near neighbors of queries 0..4
    for q in range(5):
        rows[200 + q] = (200 + q, [v + 0.05 for v in rows[q][1]])
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qs = df.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(qs, df, k=5).collect()}
    single = {(r.query_id, r.vec_id)
              for r in lsh_bucket_topk(qs, df, k=5, dim=16,
                                       planes_per_table=8,
                                       tables=4).collect()}
    multi = {(r.query_id, r.vec_id)
             for r in lsh_multiprobe_topk(qs, df, k=5, dim=16,
                                          planes_per_table=8,
                                          tables=4).collect()}
    assert len(multi & exact) >= len(single & exact)   # recall uplift
    # the planted nearest neighbor is found for every query
    assert all((q, 200 + q) in multi for q in range(5))
