"""Similarity search over an embedding column (array<float>) —
north-star extensions (SURVEY.md §7.5).

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (it's small by construction); candidates stream through a single
  narrow join — no shuffle of the big side, per-partition scoring, then a
  tiny top-k reduction. This is the correctness baseline.
- ``lsh_bucket_topk``: random-hyperplane LSH variant — the scale path.
  Candidates are restricted to vectors sharing the query's sign-bucket in
  any of ``tables`` independent hash tables (equality joins on bucket
  keys), then scored exactly. Recall < 1, cost ~ bucket sizes instead of N.

Hyperplanes are derived deterministically from the 60-bit md5 of
(table, plane, dim) as integer components — reproducible across runs
without shipping matrices, and replayable bit-exactly in the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..parallel import fan_out
from .dedup import as_double_vec, dot, norm2
from .relational import top_k_per_group


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, vec_id, cos_r) with deterministic tie-break on
    neighbor id. ``queries`` is broadcast; the candidate scan stays
    shuffle-free until the final per-query top-k (tiny).
    """
    qd, cd = as_double_vec(F.col(vec_col)), as_double_vec(F.col(vec_col))
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   qd.alias("_qv"), norm2(qd).alias("_qn")))
    c = fan_out(candidates).select(F.col(id_col), cd.alias("_cv"),
                                   norm2(cd).alias("_cn"))
    scored = (c.crossJoin(q)
               .filter(F.col(id_col) != F.col("query_id"))
               .withColumn("cos", dot(F.col("_qv"), F.col("_cv"))
                           / (F.col("_qn") * F.col("_cn"))))
    top = top_k_per_group(scored, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    return top.select("query_id", id_col, F.round("cos", 4).alias("cos_r"))


def hyperplanes_df(df: DataFrame, tables: int, planes_per_table: int,
                   dim: int) -> DataFrame:
    """All (table, plane) hyperplanes as a tiny broadcast-able DataFrame:
    (_tbl, _p, _hv vec, _bitval), materialized ONCE as tables×planes
    rows instead of being inlined tables×planes times into one giant
    per-row expression — which dominated runtime: 64 nested
    aggregate-of-zip_with trees took ~7 s for 2 000 rows (measured at
    sf0.1), vs <1 s for the join formulation. Computed inside the
    executors from three integers: no literal weight matrices in the
    plan and nothing to ship to a cluster — the seed IS the function.

    Components are INTEGERS in [-1000, 1000] from the cross-engine
    60-bit md5 primitive (``dedup.md5_hash60``) so the bucketing is
    reproducible in ANSI SQL — with integer dot products the sign
    decision is exact arithmetic, immune to float association order.
    DuckDB form of a component:
    ``(('0x'||substr(md5('hp,'||t||','||p||','||d),1,15))::BIGINT % 2001) - 1000``.
    """
    from .dedup import md5_hash60

    n = tables * planes_per_table
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    comp = lambda d: (md5_hash60(  # noqa: E731
        F.concat_ws(",", F.lit("hp"), F.col("_tbl"), F.col("_p"),
                    d.cast("string"))) % 2001 - 1000)
    return (df.sparkSession.range(n)
            .select((F.col("id") / planes_per_table).cast("int").alias("_tbl"),
                    (F.col("id") % planes_per_table).cast("int").alias("_p"))
            .select("_tbl", "_p",
                    F.transform(idx, comp).alias("_hv"),
                    F.pow(F.lit(2.0), F.col("_p")).cast("long").alias("_bitval")))


def quantized_vec(vec: Column) -> Column:
    """floor(v * 10000) as long per component — the bucketing vector form.
    floor (unlike round) is bit-identical across Spark and DuckDB, and
    integer dot products make every sign decision exact."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * 10000.0)
                       .cast("long"))


def bucket_table(df: DataFrame, id_col: str, vec_col: str, tables: int,
                 planes_per_table: int, dim: int) -> DataFrame:
    """Per-vector sign buckets as rows: (id, _tbl, _bkt).

    One broadcast cross join against the nc=tables×planes hyperplane
    rows, ONE compiled dot-product expression, then a bit-pack groupBy on
    (id, table) over slim (id, _tbl, _bit) rows. Linear, shuffle is
    vectors×tables tiny rows; replaces the expression-tree blow-up of
    evaluating every plane inline per row.

    Integer hyperplanes × floor-quantized vectors: every sign decision
    is exact int64 arithmetic, reproducible in DuckDB.
    """
    hp = hyperplanes_df(df, tables, planes_per_table, dim)
    v = fan_out(df).select(F.col(id_col),
                           quantized_vec(F.col(vec_col)).alias("_v"))
    scored = (v.crossJoin(F.broadcast(hp))
               .select(id_col, "_tbl",
                       F.when(dot(F.col("_v"), F.col("_hv")) >= 0,
                              F.col("_bitval")).otherwise(F.lit(0))
                        .alias("_bit")))
    return (scored.groupBy(id_col, "_tbl")
                  .agg(F.sum("_bit").alias("_bkt")))


def auto_planes(n: int, target_bucket_population: int = 2,
                lo: int = 8, hi: int = 32) -> int:
    """Self-sizing LSH bucket-space dial: the smallest plane count whose
    2^planes buckets keep the EXPECTED per-bucket population at or below
    ``target_bucket_population`` for an ``n``-vector corpus — i.e.
    ceil(log2(ceil(n / target))), clamped to [lo, hi].

    Pure integer arithmetic (bit_length, no libm log2), so an oracle can
    reproduce the identical dial from COUNT(*). This is what keeps the
    bucket self-join linear as the corpus grows: a fixed plane count
    means per-bucket population — and with it the candidate-pair count —
    grows linearly with n, turning the join quadratic (measured: 8
    planes went quadratic at 50k docs; 16 planes spilled the external
    sorter at 500k docs on one node). With the dial, candidates stay
    ~n·tables·target/2 at any scale.
    """
    m = max(1, -(-n // max(1, target_bucket_population)))
    return max(lo, min(hi, (m - 1).bit_length()))


def lsh_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.9,
                       dim: int = 64, planes_per_table: int | None = 8,
                       tables: int = 8) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a block column: random-hyperplane
    LSH blocking + exact cosine verification — the scale path that
    replaces the all-pairs cross join (which is quadratic and only
    acceptable inside small explicit blocks).

    Recall: a pair at angle θ shares one table's bucket with prob
    (1-θ/π)^planes; with ``tables`` independent tables the miss prob is
    (1-p)^tables — at cos>=0.9 and (8 planes, 8 tables) that is <2%.
    Every emitted pair is verified exactly, so precision is 1.

    ``planes_per_table=None`` self-sizes the bucket space from the
    corpus count via :func:`auto_planes` (one metadata-cheap count job).
    Hyperplanes are seeded by (table, plane, dim) — independent of the
    plane COUNT — so a smaller dial is a strict prefix of a larger one
    and the choice replays exactly in the DuckDB oracle (mask the
    32-plane bucket to the same count derived from COUNT(*)).

    One (table_idx, bucket) self-join — same single-shuffle shape as
    dedup.minhash_lsh_pairs_md5.
    """
    if planes_per_table is None:
        planes_per_table = auto_planes(df.count())
    vd = as_double_vec(F.col(vec_col))
    v = df.select(F.col(id_col).alias("_id"), vd.alias("_v"),
                  norm2(vd).alias("_n"))
    bk = (bucket_table(df, id_col, vec_col, tables, planes_per_table, dim)
          .withColumnRenamed(id_col, "_id"))
    base = tracked_persist(bk.join(v, "_id"))
    a = base.select(F.col("_id").alias("vec_a"), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"), "_tbl", "_bkt")
    b = base.select(F.col("_id").alias("vec_b"), F.col("_v").alias("_vb"),
                    F.col("_n").alias("_nb"), "_tbl", "_bkt")
    cand = (a.join(b, ["_tbl", "_bkt"])
             .filter(F.col("vec_a") < F.col("vec_b"))
             .dropDuplicates(["vec_a", "vec_b"]))
    pairs = (cand.withColumn("cos", dot(F.col("_va"), F.col("_vb"))
                             / (F.col("_na") * F.col("_nb")))
                 .filter(F.col("cos") >= threshold))
    return pairs.select("vec_a", "vec_b", F.round("cos", 4).alias("cos_r"))


def lsh_bucket_topk(queries: DataFrame, candidates: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64, planes_per_table: int = 8,
                    tables: int = 4) -> DataFrame:
    """Approximate top-k: candidates must share a sign-bucket with the
    query in at least one hash table; exact cosine re-rank inside.

    Each table contributes one equality join on its bucket key — at 100 TB
    this replaces the full scan per query with ~N/2^planes bucket reads.
    """
    # ONE (table_idx, bucket) row-set per side + ONE equality join
    # replaces the per-table union-of-joins: the bucketing runs once over
    # the candidate corpus instead of once per table (bucket_table's join
    # formulation — the inline-expression version dominated runtime).
    vd = as_double_vec(F.col(vec_col))
    q = (bucket_table(queries, id_col, vec_col, tables, planes_per_table, dim)
         .withColumnRenamed(id_col, "query_id")
         .join(queries.select(F.col(id_col).alias("query_id"),
                              vd.alias("_qv"), norm2(vd).alias("_qn")),
               "query_id"))
    c = (bucket_table(candidates, id_col, vec_col, tables, planes_per_table,
                      dim)
         .join(candidates.select(F.col(id_col), vd.alias("_cv"),
                                 norm2(vd).alias("_cn")), id_col))
    cand = (c.join(F.broadcast(q), ["_tbl", "_bkt"])
             .filter(F.col(id_col) != F.col("query_id"))
             .select("query_id", "_qv", "_qn", id_col, "_cv", "_cn")
             .dropDuplicates(["query_id", id_col]))
    scored = cand.withColumn("cos", dot(F.col("_qv"), F.col("_cv"))
                             / (F.col("_qn") * F.col("_cn")))
    top = top_k_per_group(scored, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    return top.select("query_id", id_col, F.round("cos", 4).alias("cos_r"))


# ---------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------

def _slim_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, _v double-vec, _n norm): the slim projection every IVF stage
    consumes. Derived once per ``ivf_topk`` call and persisted so the
    centroid iterations, the list build and the seed draw share one
    materialization instead of re-scanning the corpus and re-running the
    double-vec + norm arithmetic per stage (guide §2.4/§5)."""
    vd = as_double_vec(F.col(vec_col))
    return fan_out(df).select(F.col(id_col), vd.alias("_v"),
                              norm2(vd).alias("_n"))


def _assert_share_frame(df: DataFrame, cols: tuple, param: str) -> None:
    """Guard for the internal shared-frame params (``vecs``/``sv``): the
    caller must pass the frame produced by the matching derivation
    (``_slim_vecs`` / ``_subvectors``) over the SAME rows. Column-name
    check only — free (no job) — so an external caller who passes some
    unrelated frame fails loudly instead of silently mis-assigning."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{param} must be the internally derived share frame "
            f"(missing columns {missing}); pass None to derive it")


def ivf_centroids(candidates: DataFrame, nc: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  iters: int = 1, vecs: DataFrame | None = None) -> DataFrame:
    """Deterministic IVF coarse quantizer: ``nc`` seed vectors are chosen
    by xxhash64(id) order (a distributed TakeOrdered — no full sort, no
    RNG), then optionally refined with k-means iterations: assign every
    vector to its nearest centroid, recompute each centroid as the
    per-dimension mean (posexplode -> groupBy(cid, dim) -> avg -> re-pack
    with array_sort). Each iteration is two hash shuffles over (cid, dim)
    pairs — linear in corpus size, never quadratic.

    ``vecs`` optionally supplies the pre-derived (id, _v, _n) frame from
    ``_slim_vecs`` (same rows by construction) so a caller holding a
    persisted copy avoids one corpus re-derivation per stage.

    Returns (cid, _cv double-vec, _cn norm) — nc rows, broadcast-sized.
    """
    from pyspark.sql.window import Window

    if vecs is not None:
        _assert_share_frame(vecs, (id_col, "_v", "_n"), "vecs")
        seeds = (vecs
                 .select(F.col("_v").alias("_cv"),
                         F.xxhash64(F.col(id_col).cast("string")).alias("_h"))
                 .orderBy("_h").limit(nc))
    else:
        vd = as_double_vec(F.col(vec_col))
        seeds = (candidates
                 .select(vd.alias("_cv"), F.xxhash64(F.col(id_col).cast("string")).alias("_h"))
                 .orderBy("_h").limit(nc))
    cents = (seeds.withColumn("cid", F.row_number().over(Window.orderBy("_h")))
                  .select("cid", "_cv", norm2(F.col("_cv")).alias("_cn")))
    for _ in range(iters):
        assigned = ivf_assign(candidates, cents, id_col=id_col,
                              vec_col=vec_col, nprobe=1, vecs=vecs)
        cents = (assigned
                 .select("cid", F.posexplode("_v").alias("_d", "_x"))
                 .groupBy("cid", "_d").agg(F.avg("_x").alias("_m"))
                 .groupBy("cid")
                 .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_dm"))
                 .select("cid", F.transform("_dm", lambda s: s["_m"]).alias("_cv"))
                 .withColumn("_cn", norm2(F.col("_cv"))))
    return cents


def ivf_assign(df: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               nprobe: int = 1, vecs: DataFrame | None = None) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest inverted lists by
    cosine against the broadcast nc-row centroid table.

    Scale shape: scoring is a broadcast nested-loop over nc centroids —
    linear, no shuffle. The top-nprobe reduction runs on a SLIM
    (id, cid, sim) projection so the window shuffle never amplifies the
    vectors nc×; the vectors are joined back by id afterwards (one hash
    join AQE can broadcast when the side is small). ``vecs`` optionally
    supplies the pre-derived ``_slim_vecs`` frame (identical rows) so a
    persisted copy is reused instead of re-deriving it per call.

    Returns (id_col, cid, _v double-vec, _n norm).
    """
    if vecs is not None:
        _assert_share_frame(vecs, (id_col, "_v", "_n"), "vecs")
    v = vecs if vecs is not None else _slim_vecs(df, id_col, vec_col)
    slim = (v.select(id_col, "_v", "_n")
             .crossJoin(F.broadcast(centroids))
             .withColumn("_sim", dot(F.col("_v"), F.col("_cv"))
                         / (F.col("_n") * F.col("_cn")))
             .select(id_col, "cid", "_sim"))
    top = top_k_per_group(slim, [id_col], "_sim", nprobe, descending=True,
                          tiebreak=["cid"])
    return top.select(id_col, "cid").join(v, id_col)


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int = 10,
             nc: int = 16, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", iters: int = 1) -> DataFrame:
    """IVF approximate top-k cosine search: candidates are partitioned
    into ``nc`` inverted lists by nearest centroid; each query probes only
    its ``nprobe`` nearest lists and re-ranks exactly inside them.

    This is the classic FAISS-style IVF layout as DataFrame ops: the
    corpus is scanned once to build lists (linear), then every query
    touches ~nprobe/nc of the corpus instead of all of it. With
    ``nprobe == nc`` every list is probed and the result is EXACTLY
    brute-force top-k (the property the oracle and tests pin); shrinking
    nprobe trades recall for a proportional cost cut — the knob a 100 TB
    deployment actually turns. Centroids are deterministic (seeded by
    xxhash64 order, refined by k-means on mean vectors).

    Returns (query_id, vec_id, cos_r) like ``brute_force_topk``.
    """
    vecs = tracked_persist(_slim_vecs(candidates, id_col, vec_col))
    cents = tracked_persist(ivf_centroids(candidates, nc=nc, id_col=id_col,
                                          vec_col=vec_col, iters=iters,
                                          vecs=vecs))
    cand = ivf_assign(candidates, cents, id_col=id_col, vec_col=vec_col,
                      nprobe=1, vecs=vecs)
    # query-side twin of the candidate-side share (r15): ivf_assign
    # consumes its slim frame twice (the centroid scoring and the
    # join-back), so an unshared call re-derived the queries projection
    # per consumer — one persisted frame, same rows by construction
    qvecs = tracked_persist(_slim_vecs(queries, id_col, vec_col))
    qa = (ivf_assign(queries, cents, id_col=id_col, vec_col=vec_col,
                     nprobe=nprobe, vecs=qvecs)
          .select(F.col(id_col).alias("query_id"), "cid",
                  F.col("_v").alias("_qv"), F.col("_n").alias("_qn")))
    joined = (cand.join(F.broadcast(qa), "cid")
                  .filter(F.col(id_col) != F.col("query_id"))
                  .withColumn("cos", dot(F.col("_qv"), F.col("_v"))
                              / (F.col("_qn") * F.col("_n"))))
    top = top_k_per_group(joined, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    return top.select("query_id", id_col, F.round("cos", 4).alias("cos_r"))


# ----------------------------------------------------------------- PQ ---

def _l2sq(u: Column, v: Column) -> Column:
    """Squared L2 distance of two array<double> columns."""
    return F.aggregate(F.zip_with(u, v, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _subvectors(df: DataFrame, m: int, dsub: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(id, sub, _sv): each vector split into ``m`` contiguous ``dsub``-dim
    subvectors — a per-row posexplode, no shuffle."""
    vd = as_double_vec(F.col(vec_col))
    slices = F.array(*[F.slice(vd, s * dsub + 1, dsub) for s in range(m)])
    return df.select(F.col(id_col),
                     F.posexplode(slices).alias("sub", "_sv"))


def pq_codebooks(candidates: DataFrame, m: int = 16, ksub: int = 16,
                 dim: int = 64, iters: int = 1, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 sv: DataFrame | None = None) -> DataFrame:
    """Deterministic per-subspace PQ codebooks: for each of ``m``
    subspaces, ``ksub`` codewords seeded by xxhash64(id) order and
    refined with k-means iterations (assign by squared L2, recompute as
    per-dimension means — same shape as ``ivf_centroids``, run once per
    subspace in a single plan, never a per-subspace driver loop).

    ``sv`` optionally supplies the pre-derived ``_subvectors`` frame
    (identical rows by construction) so a caller holding a persisted
    copy avoids one corpus re-derivation per consumer.

    Returns (sub, code, _cv, _c2): m*ksub rows — broadcast-sized at any
    corpus scale (the codebook is a training artifact, not data).
    """
    from pyspark.sql.window import Window

    dsub = dim // m
    if sv is None:
        sv = _subvectors(candidates, m, dsub, id_col, vec_col)
    else:
        _assert_share_frame(sv, (id_col, "sub", "_sv"), "sv")
    w = Window.partitionBy("sub").orderBy(F.xxhash64(F.col(id_col).cast("string")),
                                          F.col(id_col))
    books = (sv.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= ksub)
               .select("sub", (F.col("_rn") - 1).alias("code"),
                       F.col("_sv").alias("_cv")))
    for _ in range(iters):
        assigned = _pq_assign(sv, books)
        books = (assigned.join(books.select("sub", "code", "_cv"),
                               ["sub", "code"])
                 .select("sub", "code", F.posexplode("_sv").alias("_d", "_x"))
                 .groupBy("sub", "code", "_d").agg(F.avg("_x").alias("_m"))
                 .groupBy("sub", "code")
                 .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_dm"))
                 .select("sub", "code",
                         F.transform("_dm", lambda s: s["_m"]).alias("_cv")))
    return books.withColumn("_c2", dot(F.col("_cv"), F.col("_cv")))


def _pq_assign(sv: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest codeword per (id, sub) by squared L2 against the broadcast
    codebook — keeps the subvector column for the k-means mean step."""
    id_col = sv.columns[0]
    scored = (sv.join(F.broadcast(books.select("sub", "code", "_cv")), "sub")
                .withColumn("_d2", _l2sq(F.col("_sv"), F.col("_cv")))
                .select(id_col, "sub", "_sv", "code", "_d2"))
    top = top_k_per_group(scored, [id_col, "sub"], "_d2", 1,
                          descending=False, tiebreak=["code"])
    return top.select(id_col, "sub", "_sv", "code")


def pq_encode(df: DataFrame, books: DataFrame, m: int = 16, dim: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              sv: DataFrame | None = None) -> DataFrame:
    """Compress each vector to ``m`` codebook ids: (id, sub, code).

    This IS the memory story of PQ at 100 TB: m bytes per vector
    (m * log2(ksub) bits) instead of dim * 4 — a 64-dim float corpus
    compresses 32x, so the searchable index of a corpus that doesn't fit
    in cluster RAM does. ``sv`` optionally reuses a pre-derived
    ``_subvectors`` frame (identical rows).
    """
    if sv is None:
        sv = _subvectors(df, m, dim // m, id_col, vec_col)
    else:
        _assert_share_frame(sv, (id_col, "sub", "_sv"), "sv")
    return _pq_assign(sv, books).select(id_col, "sub", "code")


def pq_topk(queries: DataFrame, candidates: DataFrame, k: int = 10,
            m: int = 16, ksub: int = 16, dim: int = 64, shortlist: int = 128,
            iters: int = 1, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ approximate top-k cosine via asymmetric distance computation
    (ADC) + exact re-rank — the third FAISS leg beside IVF and LSH,
    covering the memory axis (IVF cuts compute, PQ cuts index bytes).

    ADC: each query precomputes dot(q_s, codeword) for every (sub, code)
    — an m*ksub lookup table per query, broadcast — then a candidate's
    approximate score is the SUM over its m codes of table entries: the
    corpus side is scanned as (id, sub, code) triples, never as floats.
    The approximate cosine divides by the reconstruction norm
    sqrt(sum_s |c_s|^2). The top-``shortlist`` per query then re-ranks
    EXACTLY against the full vectors, so accuracy degrades to recall of
    the shortlist, not to quantization error of the scores.

    Returns (query_id, vec_id, cos_r) like ``brute_force_topk``.
    Recall/determinism pinned by tests; no SQL oracle (float k-means
    means have no bit-stable SQL replay) — benched as a throughput
    query.
    """
    # one persisted subvector frame shared by the codebook training and
    # the corpus encode (guide §2.4/§5: each re-derivation was a full
    # corpus scan + per-row slice arithmetic)
    sv = tracked_persist(_subvectors(candidates, m, dim // m,
                                     id_col, vec_col))
    books = tracked_persist(pq_codebooks(candidates, m=m, ksub=ksub, dim=dim,
                                         iters=iters, id_col=id_col,
                                         vec_col=vec_col, sv=sv))
    codes = pq_encode(candidates, books, m=m, dim=dim,
                      id_col=id_col, vec_col=vec_col, sv=sv)
    # per-query ADC lookup table: (query_id, sub, code, partial dot, |c|^2)
    qsv = _subvectors(queries, m, dim // m, id_col, vec_col) \
        .withColumnRenamed(id_col, "query_id")
    qn = (queries.select(F.col(id_col).alias("query_id"),
                         norm2(as_double_vec(F.col(vec_col))).alias("_qn")))
    lut = (qsv.join(F.broadcast(books), "sub")
              .select("query_id", "sub", "code",
                      dot(F.col("_sv"), F.col("_cv")).alias("_pd"), "_c2"))
    scored = (codes.join(F.broadcast(lut), ["sub", "code"])
                   .filter(F.col(id_col) != F.col("query_id"))
                   .groupBy("query_id", id_col)
                   .agg(F.sum("_pd").alias("_ad"), F.sum("_c2").alias("_ac2"))
                   .join(F.broadcast(qn), "query_id")
                   .withColumn("_acos", F.col("_ad")
                               / (F.col("_qn") * F.sqrt("_ac2"))))
    short = top_k_per_group(scored, ["query_id"], "_acos", shortlist,
                            descending=True, tiebreak=[id_col])
    # exact re-rank of the shortlist against full vectors
    cd = as_double_vec(F.col(vec_col))
    cv = candidates.select(F.col(id_col), cd.alias("_cv"), norm2(cd).alias("_cn"))
    qv = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                    as_double_vec(F.col(vec_col)).alias("_qv"),
                                    norm2(as_double_vec(F.col(vec_col))).alias("_qn2")))
    rer = (short.select("query_id", id_col)
                .join(cv, id_col).join(qv, "query_id")
                .withColumn("cos", dot(F.col("_qv"), F.col("_cv"))
                            / (F.col("_qn2") * F.col("_cn"))))
    top = top_k_per_group(rer, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    return top.select("query_id", id_col, F.round("cos", 4).alias("cos_r"))


def lsh_multiprobe_topk(queries: DataFrame, candidates: DataFrame,
                        k: int = 10, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        planes_per_table: int = 8,
                        tables: int = 4) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): each query probes its
    own sign bucket PLUS every bucket at Hamming distance 1 (one plane's
    sign flipped) in every table — (planes+1) x tables probes instead of
    more tables. A vector that lands just across ONE hyperplane from the
    query is found without paying another full hash table's memory and
    build cost: recall rises at the price of (planes+1)x more bucket
    LOOKUPS, which are cheap equality-join rows, not new corpus passes.

    Same plan shape as ``lsh_bucket_topk`` — the probe expansion is a
    per-query-row explode of a literal-sized array (planes+1 entries),
    broadcast against the candidate bucket table; exact cosine re-rank
    inside.
    """
    vd = as_double_vec(F.col(vec_col))
    qb = (bucket_table(queries, id_col, vec_col, tables, planes_per_table,
                       dim)
          .withColumnRenamed(id_col, "query_id"))
    probes = F.array(F.col("_bkt"),
                     *[F.col("_bkt").bitwiseXOR(F.lit(1 << p))
                       for p in range(planes_per_table)])
    q = (qb.withColumn("_bkt", F.explode(probes))
           .join(queries.select(F.col(id_col).alias("query_id"),
                                vd.alias("_qv"), norm2(vd).alias("_qn")),
                 "query_id"))
    c = (bucket_table(candidates, id_col, vec_col, tables, planes_per_table,
                      dim)
         .join(candidates.select(F.col(id_col), vd.alias("_cv"),
                                 norm2(vd).alias("_cn")), id_col))
    cand = (c.join(F.broadcast(q), ["_tbl", "_bkt"])
             .filter(F.col(id_col) != F.col("query_id"))
             .select("query_id", "_qv", "_qn", id_col, "_cv", "_cn")
             .dropDuplicates(["query_id", id_col]))
    scored = cand.withColumn("cos", dot(F.col("_qv"), F.col("_cv"))
                             / (F.col("_qn") * F.col("_cn")))
    top = top_k_per_group(scored, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    return top.select("query_id", id_col, F.round("cos", 4).alias("cos_r"))


def quantize_int8_error(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization audit: quantize every embedding to 8 bits
    per dimension against the corpus-wide per-dimension [min, max] range
    and report each vector's worst-case reconstruction error — the
    go/no-go check before shipping a 4x-smaller vector index (int8 is the
    standard serving format; this measures what it costs on YOUR corpus).

    q = floor((v - min_d) / scale_d + 0.5) clamped to [0, 255],
    scale_d = (max_d - min_d) / 255, reconstruction r = min_d + q*scale_d.
    Every step is a fixed chain of correctly-rounded IEEE double ops
    (subtract / divide / floor / multiply / add — no libm), so the
    per-vector max |v - r| is bit-identical across engines. Per-vector
    MAX is aggregation-order-independent (unlike a mean), which is what
    makes the audit oracle-checkable; constant dimensions (max == min)
    reconstruct exactly and contribute 0.

    Scale design: the per-dimension range is one map-side-combinable
    aggregation over the exploded corpus, broadcast back as a |dim|-row
    frame; the audit pass is then embarrassingly parallel. Returns
    (vec_id, max_err_r, n_clipped) where n_clipped counts dimensions
    landing exactly on a range endpoint (saturation pressure).
    """
    v = F.col("_v").cast("double")
    ex = embeddings.select(F.col(id_col), F.posexplode(F.col(vec_col))
                           .alias("_d", "_v"))
    rng = (ex.groupBy("_d").agg(F.min(v).alias("_lo"), F.max(v).alias("_hi"))
             .withColumn("_scale",
                         F.when(F.col("_hi") > F.col("_lo"),
                                (F.col("_hi") - F.col("_lo")) / 255.0)
                          .otherwise(F.lit(1.0))))  # constant dim: no NaN div
    q = F.least(F.greatest(
        F.floor((v - F.col("_lo")) / F.col("_scale") + 0.5), F.lit(0)),
        F.lit(255)).cast("double")
    recon = F.col("_lo") + q * F.col("_scale")
    err = F.when(F.col("_hi") > F.col("_lo"), F.abs(v - recon)) \
           .otherwise(F.lit(0.0))
    clipped = F.when((F.col("_hi") > F.col("_lo"))
                     & ((q == 0) | (q == 255)), 1).otherwise(0)
    return (ex.join(F.broadcast(rng), "_d")
              .select(F.col(id_col), err.alias("_e"), clipped.alias("_cl"))
              .groupBy(id_col)
              .agg(F.round(F.max("_e"), 6).alias("max_err_r"),
                   F.sum("_cl").alias("n_clipped")))


def embed_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-class embedding centroid + per-dimension dispersion in EXACT
    integer micros — the class-geometry audit behind drift detection
    ("did the 'code' cluster move between snapshots?") and retrieval
    debugging ("are two labels' centroids collapsing?").

    Each component is quantized once to micros (round(v * 1e6), the
    same float boundary contract as _cents) and every cross-row sum
    accumulates in DECIMAL(38,0), so the centroid is order- and
    partition-independent and hash-matches the oracle: a float mean()
    over a billion rows is none of those things. mean is half-up via
    the (2S + n) DIV 2n identity; the variance numerator n·Σx² − (Σx)²
    stays in exact integer micro² (DIV n² at the edge).

    Scale design: ONE map-side-combinable aggregation over the exploded
    (|rows| × dim) frame, grouped by (label, dim) — cardinality
    |labels|·dim, never data-sized; no join, no window, no second pass.

    Returns (label, dim, n, mean_micro, var_micro2).
    """
    xm = F.round(F.col("_v").cast("double") * 1000000.0).cast("long") \
          .cast("decimal(38,0)")
    ex = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"))
    agg = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(xm).alias("_s"),
        F.sum(xm * xm).alias("_ss"))
    return agg.select(
        "label", "dim", F.col("_n").cast("long").alias("n"),
        # half-up integer mean: (2S + n) DIV 2n shifted for negatives
        F.expr("CAST(CASE WHEN _s >= 0 THEN (2 * _s + _n) DIV (2 * _n) "
               "ELSE -((2 * -_s + _n) DIV (2 * _n)) END AS BIGINT)")
         .alias("mean_micro"),
        F.expr("CAST((_n * _ss - _s * _s) DIV (_n * _n) AS BIGINT)")
         .alias("var_micro2"))


def _centroid_d2(embeddings: DataFrame, label_col: str,
                 id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, cluster, d2): exact LONG squared distance from every
    vector to every per-label centroid — the shared n x |labels| frame
    behind nearest-centroid assignment and silhouette. Quantization is
    round(v * 1e6), the same float boundary contract as
    embed_centroids; distances stay LONG (sums <= 64 * (2e6)^2 ~
    2.6e14, four orders inside long range — DECIMAL through this hot
    frame measured ~5x the wall; consumers cast to DECIMAL only where
    a downstream product can overflow).

    Shape matters here: the obvious formulation (explode vectors to
    n x dim rows, equi-join centroids on dim, aggregate) pushes
    n x dim x |labels| rows through the hash aggregate — 128M rows at
    20k vectors x 100 clusters, measured 46s. Packing each centroid
    into ONE broadcast array row and zip_with-ing per (vector,
    centroid) pair keeps the join output at n x |labels| rows with the
    dim loop inside the expression — same exact integers, ~6x the
    throughput, and the shape a 10k-cluster production quantizer needs.
    """
    cen = F.broadcast(
        embed_centroids(embeddings, label_col, vec_col)
        .groupBy(F.col("label").alias("cluster"))
        .agg(F.transform(
            F.array_sort(F.collect_list(
                F.struct("dim", F.col("mean_micro").alias("c")))),
            lambda s: s["c"]).alias("cv")))
    vq = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1000000.0)
                               .cast("long")).alias("v"))
    return (vq.join(cen)   # broadcast nested-loop: n x |labels| rows out
              .select("vec_id", "cluster",
                      F.aggregate(
                          F.zip_with("v", "cv",
                                     lambda x, y: (x - y) * (x - y)),
                          F.lit(0).cast("long"),
                          lambda acc, x: acc + x).alias("d2")))


def _assign_pandas(embeddings: DataFrame, label_col: str, id_col: str,
                   vec_col: str, fit_on: DataFrame | None = None) -> DataFrame:
    """(vec_id, cluster, a2, b2): nearest-centroid assignment plus the
    second-nearest distance, via ONE driver collect of the centroid
    matrix (K x dim rows — bounded by the QUANTIZER size, never the
    data; the same centroids-to-driver-then-broadcast shape Spark
    MLlib's KMeans uses) and a vectorized mapInPandas over the vectors:
    d2 = |x|^2 + |c|^2 - 2 x.c with the cross term an exact int64
    matmul in C. No n x K row frame ever materializes — each Arrow
    batch emits one row per vector. Ties: C is sorted by cluster id and
    argmin takes the first minimum, so the lowest cluster id wins exact
    ties (identical to min(struct(d2, cluster))); when two clusters tie
    at the minimum, b2 == a2 by the same partition rule the n x K
    formulation produces. ``fit_on`` fits the centroids on a DIFFERENT
    frame than the one being assigned (the incremental path freezes the
    quantizer on the existing index and assigns only the new batch).
    """
    import numpy as np

    cen_rows = (embed_centroids(fit_on if fit_on is not None
                                else embeddings, label_col, vec_col)
                .select("label", "dim", "mean_micro")
                .orderBy("label", "dim").collect())
    if not cen_rows:   # empty input: empty output, stable schema
        return (embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(label_col).alias("cluster"),
            F.lit(0).cast("long").alias("a2"),
            F.lit(-1).cast("long").alias("b2"))
            .filter(F.lit(False)))
    labels = sorted({r["label"] for r in cen_rows})
    dim = max(r["dim"] for r in cen_rows) + 1
    cmat = np.zeros((len(labels), dim), dtype=np.int64)
    lab_ix = {lab: i for i, lab in enumerate(labels)}
    for r in cen_rows:
        cmat[lab_ix[r["label"]], r["dim"]] = r["mean_micro"]
    lab_arr = np.array(labels)
    c2 = np.einsum("ij,ij->i", cmat, cmat)
    single = len(labels) == 1

    def f(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["v"].tolist(), dtype=np.int64)
            x2 = np.einsum("ij,ij->i", x, x)
            d2 = x2[:, None] + c2[None, :] - 2 * (x @ cmat.T)
            own = d2.argmin(axis=1)
            a2 = d2[np.arange(len(x)), own]
            if single:
                b2 = np.full(len(x), -1, dtype=np.int64)
            else:
                b2 = np.partition(d2, 1, axis=1)[:, 1]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "cluster": lab_arr[own],
                "a2": a2, "b2": b2})

    vq = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1000000.0)
                               .cast("long")).alias("v"))
    out_schema = (f"vec_id long, cluster {embeddings.schema[label_col].dataType.simpleString()}, "
                  "a2 long, b2 long")
    return vq.mapInPandas(f, out_schema)


def assign_nearest_centroid(embeddings: DataFrame,
                            label_col: str = "label",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            engine: str = "pandas") -> DataFrame:
    """One k-means assignment step in EXACT integer micro space: each
    vector goes to the nearest (squared-distance) per-label centroid —
    the coarse quantizer behind SemDeDup / silhouette below. Unlike the
    label column itself, the assignment is GEOMETRIC: a vector whose
    label says "code" but whose embedding sits in the "prose" cluster is
    assigned to prose, which is exactly the disagreement the curation
    audits want to see.

    ``engine`` picks the distance machinery — both produce identical
    integers (parity-tested): "pandas" (default) is _assign_pandas'
    vectorized mapInPandas over a driver-broadcast centroid matrix (the
    MLlib KMeans shape — O(n K d) in C, no n x K rows; 128M interpreted
    lambda steps at 20k x 100 measured ~20s, this path ~2s); "array"
    keeps the pure-DataFrame n x |labels| zip_with frame (_centroid_d2
    — the shape the DuckDB oracle mirrors, argmin via
    min(struct(d2, cluster))). Returns (vec_id, cluster, d2_own).
    """
    if engine == "pandas":
        return (_assign_pandas(embeddings, label_col, id_col, vec_col)
                .select("vec_id", "cluster", F.col("a2").alias("d2_own")))
    if engine != "array":
        raise ValueError(f"assign_nearest_centroid: unknown engine {engine!r}")
    d2 = _centroid_d2(embeddings, label_col, id_col, vec_col)
    return (d2.groupBy("vec_id")
              .agg(F.min(F.struct("d2", "cluster")).alias("_m"))
              .select("vec_id", F.col("_m.cluster").alias("cluster"),
                      F.col("_m.d2").alias("d2_own")))


def _sem_dup_pandas(sides: DataFrame, tau_num: int,
                    tau_den: int) -> DataFrame:
    """Dropped ids for SemDeDup via one Arrow batch per cluster: stack
    the cluster's micro vectors into an int64 matrix, ONE integer
    matmul for every pairwise dot (exact: dots <= ~6e13, inside int64),
    a float prefilter with a one-sided 1e-9 slack that can only
    over-admit, then an exact python-int re-check of the few admitted
    pairs — bit-identical results to the array path, verified by test.
    The threshold square dot^2 * den^2 (~1e30) is what forces the
    two-step: it overflows int64, and numpy has no int128.

    This is the brief's "Pandas UDF where built-ins can't express it
    efficiently" case: the JVM array path evaluates zip_with lambdas
    INTERPRETED (higher-order functions don't codegen), measured 1.28B
    lambda steps = ~2 minutes on the 20M-pair regime; the in-group
    matmul ships only n x dim micros through Arrow (not pairs x dim)
    and runs the O(m^2 d) inner loop in C."""
    import pandas as pd  # noqa: PLC0415 — executor-side import pattern

    def f(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd  # noqa: PLC0415
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.array(pdf["v"].tolist(), dtype=np.int64)[order]
        d = x @ x.T
        n2 = np.einsum("ij,ij->i", x, x)
        lhs = d.astype(np.float64) ** 2 * float(tau_den * tau_den)
        rhs = (np.outer(n2, n2).astype(np.float64)
               * float(tau_num * tau_num))
        cand = np.triu((d >= 0) & (lhs >= rhs * (1.0 - 1e-9)), k=1)
        nn, dd = tau_num * tau_num, tau_den * tau_den
        out = set()
        for i, j in zip(*np.nonzero(cand)):
            if int(ids[j]) in out:
                continue
            dv, a2, b2 = int(d[i, j]), int(n2[i]), int(n2[j])
            if a2 > 0 and b2 > 0 and dv >= 0 and dv * dv * dd >= a2 * b2 * nn:
                out.add(int(ids[j]))
        return pd.DataFrame(
            {"vec_id": pd.Series(sorted(out), dtype="int64")})

    return (sides.select("cluster", "vec_id", "v")
                 .groupBy("cluster").applyInPandas(f, "vec_id long"))


def semdedup(embeddings: DataFrame, tau_num: int = 17, tau_den: int = 20,
             label_col: str = "label", id_col: str = "vec_id",
             vec_col: str = "embedding",
             max_cluster_size: int | None = None,
             pair_mode: str = "pandas") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication — assign every
    embedding to its nearest centroid, find within-cluster pairs whose
    cosine >= tau, keep one representative per duplicate neighborhood
    (the keep-lowest-id rule: b is dropped iff a lower-id a in the same
    cluster has cos(a,b) >= tau — the deterministic greedy variant; the
    paper's keep-farthest-from-centroid rule changes WHICH survivor is
    kept, not how many near-dup neighborhoods exist).

    tau is an exact rational tau_num/tau_den (default 17/20 = 0.85), so
    the threshold test is pure integer arithmetic on micro-quantized
    vectors: cos >= tau <=> dot >= 0 AND den^2*dot^2 >= num^2*|a|^2*|b|^2
    — no sqrt, no float, bit-identical in the DuckDB twin. Zero vectors
    never match (cosine undefined -> excluded by |a|^2, |b|^2 > 0).

    Scale design: this is the SemDeDup contract — the quadratic pairwise
    stage is confined WITHIN clusters, so cost is sum(|cluster|^2), set
    by the quantizer's granularity, never n^2. ``pair_mode`` picks the
    pair engine: "pandas" (default) runs ONE exact int64 matmul per
    cluster group via applyInPandas (_sem_dup_pandas — Arrow ships
    n x dim micros, the O(m^2 d) loop runs in C; measured 125s -> ~15s
    on the 20M-pair hostile regime); "array" keeps the pure-DataFrame
    zip_with pair join (the shape the DuckDB oracle mirrors CTE by CTE
    — parity between the modes is itself a test). Both produce
    bit-identical rows. ``max_cluster_size`` makes the per-group memory
    budget explicit (the pandas mode holds one m x m int64 gram matrix
    per cluster): a cluster above it fails fast with the offending id —
    the remedy is a finer quantizer or the in-cluster LSH path
    (embedding_near_dup_pairs). Returns (vec_id, cluster, kept).
    """
    asg = tracked_persist(
        assign_nearest_centroid(embeddings, label_col, id_col, vec_col)
        .select("vec_id", "cluster"))
    if max_cluster_size is not None:
        over = (asg.groupBy("cluster").count()
                   .filter(F.col("count") > max_cluster_size).first())
        if over is not None:
            raise ValueError(
                f"semdedup: cluster {over['cluster']} has {over['count']} "
                f"vectors (max_cluster_size={max_cluster_size}); use a "
                "finer quantizer or the in-cluster LSH path")
    # per-vector micro array AND its norm, computed ONCE per vector —
    # a first formulation re-derived both norms inside every pair row
    # (pairs x 3 x dim lambda evaluations, in DECIMAL per element: the
    # pair stage measured 11.2s at sf0.1). Element math stays in LONG
    # (micro products <= 1e12/element, 64-dim sums <= ~6e13 — overflow
    # needs per-component magnitudes ~1e5, far past any embedding);
    # DECIMAL enters once per pair for the squared threshold products.
    lzero = F.lit(0).cast("long")
    vq = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1000000.0)
                               .cast("long")).alias("v")).select(
        "vec_id", "v",
        F.aggregate(F.transform("v", lambda x: x * x),
                    lzero, lambda acc, x: acc + x).alias("n2"))
    sides = asg.join(vq, "vec_id")
    if pair_mode == "pandas":
        dup = _sem_dup_pandas(sides, tau_num, tau_den).distinct()
    elif pair_mode == "array":
        a = sides.select(F.col("vec_id").alias("va"), "cluster",
                         F.col("v").alias("_av"), F.col("n2").alias("na2"))
        b = sides.select(F.col("vec_id").alias("vb"),
                         F.col("cluster").alias("_bc"),
                         F.col("v").alias("_bv"), F.col("n2").alias("nb2"))
        dup = (a.join(b, (F.col("cluster") == F.col("_bc"))
                      & (F.col("va") < F.col("vb")))
                .withColumn("dot", F.aggregate(
                    F.zip_with("_av", "_bv", lambda x, y: x * y),
                    lzero, lambda acc, x: acc + x))
                .filter((F.col("na2") > 0) & (F.col("nb2") > 0)
                        & (F.col("dot") >= 0)
                        & (F.col("dot").cast("decimal(38,0)") * F.col("dot")
                           * (tau_den * tau_den)
                           >= F.col("na2").cast("decimal(38,0)")
                           * F.col("nb2") * (tau_num * tau_num)))
                .select(F.col("vb").alias("vec_id")).distinct())
    else:
        raise ValueError(f"semdedup: unknown pair_mode {pair_mode!r}")
    return (asg.join(dup.withColumn("_d", F.lit(1)), "vec_id", "left")
               .select("vec_id", "cluster",
                       F.col("_d").isNull().alias("kept")))


def cluster_silhouette(embeddings: DataFrame, label_col: str = "label",
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       engine: str = "pandas") -> DataFrame:
    """Per-cluster simplified silhouette in squared-distance micro space:
    for each vector, a = d^2 to its assigned (nearest) centroid, b = d^2
    to the nearest OTHER centroid, s = (b - a) / max(a, b) — the
    clustering-quality audit run on the quantizer SemDeDup and IVF both
    hang off (a cluster whose mean silhouette collapses toward 0 is two
    clusters the quantizer failed to separate). Under nearest-centroid
    assignment a <= b always, so s is in [0, 1] ppm; the centroid form
    is O(n x |labels|) work, never the O(n^2) pairwise silhouette.

    Every step is exact: micro quantization, LONG squared distances
    (bounds in _centroid_d2's docstring), and per-vector (a2, b2) come
    straight out of the assignment engine — "pandas" (default) emits
    them from the vectorized mapInPandas batch (argmin + partition —
    no n x |labels| row frame at all); "array" reduces the persisted
    n x |labels| zip_with frame with two map-side-combinable
    aggregations (the oracle-mirrored shape, parity-tested). The mean
    is half-up in exact integer space. Returns
    (cluster, n, mean_sil_ppm); a single-cluster corpus returns no
    rows (b, and thus s, is undefined with nothing to separate from).
    """
    if engine == "pandas":
        per = (_assign_pandas(embeddings, label_col, id_col, vec_col)
               .filter(F.col("b2") >= 0)   # -1 sentinel: single cluster
               .select("vec_id", F.col("cluster").alias("own"),
                       "a2", "b2"))
    elif engine == "array":
        d2 = tracked_persist(
            _centroid_d2(embeddings, label_col, id_col, vec_col))
        own = (d2.groupBy("vec_id")
                 .agg(F.min(F.struct("d2", "cluster")).alias("_m"))
                 .select("vec_id", F.col("_m.cluster").alias("own"),
                         F.col("_m.d2").alias("a2")))
        other = (d2.join(own, "vec_id")
                   .filter(F.col("cluster") != F.col("own"))
                   .groupBy("vec_id").agg(F.min("d2").alias("b2")))
        per = own.join(other, "vec_id")
    else:
        raise ValueError(f"cluster_silhouette: unknown engine {engine!r}")
    # the ppm product (b2 - a2) * 2e6 can overflow long (b2 <= ~2.6e14);
    # this per-VECTOR frame is n rows, so the decimal cast is off the
    # hot path
    per_vec = per.withColumn("s_ppm", F.expr(
        "CAST(CASE WHEN b2 = 0 THEN 0 ELSE "
        "(2 * (CAST(b2 AS DECIMAL(38,0))"
        " - CAST(a2 AS DECIMAL(38,0))) * 1000000"
        " + CAST(b2 AS DECIMAL(38,0)))"
        " DIV (2 * CAST(b2 AS DECIMAL(38,0))) "
        "END AS BIGINT)"))
    return (per_vec.groupBy(F.col("own").alias("cluster"))
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("s_ppm").cast("decimal(38,0)"))
                         .alias("_S"))
                   .select("cluster", F.col("n").cast("long").alias("n"),
                           F.expr("CAST((2 * _S + n) DIV "
                                  "CAST(2 * n AS DECIMAL(38,0)) AS BIGINT)")
                            .alias("mean_sil_ppm")))


def semdedup_incremental(existing: DataFrame, new: DataFrame,
                         tau_num: int = 17, tau_den: int = 20,
                         label_col: str = "label", id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Incremental SemDeDup: admit a NEW embedding batch against an
    existing index without re-deduplicating the index — the shape every
    continuously-growing corpus actually runs (the full semdedup() is
    the per-release rebuild; this is the per-increment path, the
    embedding twin of dedup.incremental_dedup).

    Contract: the quantizer is FROZEN on the existing index (centroids
    fit on ``existing`` only — re-fitting per increment would silently
    shift every prior assignment); both sides are assigned under it; a
    new vector is dropped iff cos >= tau against ANY existing vector in
    its cluster, or against a LOWER-ID new vector in its cluster (the
    same keep-lowest-id greedy as the rebuild, with the existing index
    winning all ties by seniority). Existing vectors are never dropped.
    Same exact integer arithmetic as semdedup — bit-identical to what a
    rebuild would decide about the new ids given the same clusters.

    Scale shape: per-cluster Arrow groups like the rebuild, but the
    gram matrix is only (existing_m + new_m) x dim per cluster and the
    candidate mask touches only columns that are NEW — increments are
    small, so per-group cost is ~|cluster| x |new-in-cluster| x dim.
    Returns (vec_id, cluster, kept) for the NEW batch only.
    """
    import pandas as pd  # noqa: PLC0415

    asg_ex = _assign_pandas(existing, label_col, id_col, vec_col) \
        .select("vec_id", "cluster").withColumn("is_new", F.lit(False))
    asg_new = _assign_pandas(new, label_col, id_col, vec_col,
                             fit_on=existing) \
        .select("vec_id", "cluster").withColumn("is_new", F.lit(True))
    asg = tracked_persist(asg_ex.unionByName(asg_new))
    vq = existing.unionByName(new).select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1000000.0)
                               .cast("long")).alias("v"))
    sides = asg.join(vq, "vec_id")

    def f(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd  # noqa: PLC0415
        # order: existing (by id), then new (by id) — "earlier in this
        # order" IS the drop rule's quantifier
        pdf = pdf.sort_values(["is_new", "vec_id"]).reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        is_new = pdf["is_new"].to_numpy()
        x = np.array(pdf["v"].tolist(), dtype=np.int64)
        d = x @ x.T
        n2 = np.einsum("ij,ij->i", x, x)
        lhs = d.astype(np.float64) ** 2 * float(tau_den * tau_den)
        rhs = (np.outer(n2, n2).astype(np.float64)
               * float(tau_num * tau_num))
        cand = np.triu((d >= 0) & (lhs >= rhs * (1.0 - 1e-9)), k=1)
        cand[:, ~is_new] = False   # only NEW columns can be dropped
        nn, dd = tau_num * tau_num, tau_den * tau_den
        out = set()
        for i, j in zip(*np.nonzero(cand)):
            if int(ids[j]) in out:
                continue
            dv, a2, b2 = int(d[i, j]), int(n2[i]), int(n2[j])
            if a2 > 0 and b2 > 0 and dv >= 0 and dv * dv * dd >= a2 * b2 * nn:
                out.add(int(ids[j]))
        return pd.DataFrame(
            {"vec_id": pd.Series(sorted(out), dtype="int64")})

    dup = (sides.select("cluster", "vec_id", "v", "is_new")
                .groupBy("cluster").applyInPandas(f, "vec_id long")
                .distinct())
    return (asg.filter(F.col("is_new"))
               .join(dup.withColumn("_d", F.lit(1)), "vec_id", "left")
               .select("vec_id", "cluster",
                       F.col("_d").isNull().alias("kept")))


def kmeans_step(embeddings: DataFrame, label_col: str = "label",
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """One Lloyd iteration in EXACT integer micro space: assign every
    vector to its nearest current centroid (the per-label centroids —
    or, on iteration i>1, the clusters this function emitted last
    round), then recompute each ASSIGNED cluster's centroid. This makes
    the coarse quantizer behind SemDeDup / IVF / silhouette trainable:
    the driver loop re-invokes with the previous step's assignment as
    the label column — the bounded-iteration external-loop idiom every
    iterative kernel in this repo uses (PageRank, BFS, CC), and the
    same centroids-on-the-driver shape as Spark MLlib's KMeans.

    Exactness: assignment is the parity-tested engine above; the
    recomputed means are half-up integer micros over DECIMAL(38,0)
    sums (the embed_centroids contract), so a step is bit-reproducible
    and the DuckDB oracle replays assign + regroup end to end. Clusters
    that lose every member simply emit no rows (the standard empty-
    cluster outcome; production re-seeds them).

    Scale shape: one vectorized assignment pass (no n x K frame) + one
    map-side-combinable (cluster, dim) aggregation — two corpus passes
    per iteration, |clusters| x dim output. Returns
    (cluster, dim, n, mean_micro, var_micro2).
    """
    asg = (assign_nearest_centroid(embeddings, label_col, id_col, vec_col)
           .select(F.col("vec_id").alias(id_col), "cluster"))
    re_labeled = (embeddings.join(asg, id_col)
                  .select(F.col("cluster").alias("_k"), F.col(vec_col)))
    out = embed_centroids(re_labeled, "_k", vec_col)
    return out.select(F.col("label").alias("cluster"), "dim", "n",
                      "mean_micro", "var_micro2")


def kmeans_train_assign(embeddings: DataFrame, iters: int = 2,
                        label_col: str = "label", id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Fixed-N-iteration Lloyd TRAINING loop: the driver-looped
    composition of kmeans_step's assign machinery that actually trains
    the coarse quantizer behind SemDeDup / IVF (iteration i assigns to
    the centroids of iteration i-1's clustering; iteration 0 seeds from
    ``label_col``). Same external-bounded-loop idiom as PageRank / BFS
    / connected components: a FIXED iteration count, each round
    localCheckpointing only the (vec_id, cluster) assignment so lineage
    stays flat while the vector frame itself is re-read (pruned parquet
    scan) rather than checkpointed.

    Exactness: every round is the parity-tested assignment engine over
    half-up integer-micro centroids, so the whole trajectory — not just
    one step — is bit-reproducible and the DuckDB oracle replays the
    training unrolled round by round. Empty clusters vanish (standard
    Lloyd outcome); ties go to the lowest cluster id.

    Scale shape per iteration: one K x dim centroid aggregation + one
    vectorized assignment pass — the MLlib KMeans cost model; the
    driver holds only K x dim micros per round. Returns the FINAL
    (vec_id, cluster) assignment; feed it to embed_centroids for the
    trained centroids or relabel the corpus with it for SemDeDup.
    """
    base = embeddings.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("_v"))
    lbl = embeddings.select(F.col(id_col).alias("vec_id"),
                            F.col(label_col).alias("_lbl"))
    for _ in range(iters):
        cur = base.join(lbl, "vec_id")
        asg = assign_nearest_centroid(cur, "_lbl", "vec_id", "_v")
        lbl = (asg.select("vec_id", F.col("cluster").alias("_lbl"))
                  .localCheckpoint(eager=False))
    return lbl.select("vec_id", F.col("_lbl").alias("cluster"))


def embedding_outliers(embeddings: DataFrame, k: float = 3.0,
                       label_col: str = "label",
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       median_mode: str = "exact",
                       exact_max_group: int | None = None) -> DataFrame:
    """Robust embedding-space outlier summary per cluster: vectors are
    geometrically assigned to their nearest per-label centroid
    (assign_nearest_centroid — exact integer micro² distances), then
    each cluster reports median squared distance, MAD, and the count
    of members with |d² − median| > k·MAD — the curation hygiene pass
    that surfaces mislabeled or corrupt embeddings BEFORE they poison
    SemDeDup clusters or ANN inverted lists.

    Same exactness argument as stats.mad_outliers: distances are
    exact integers, both medians are dyadic-rational interpolations of
    integers (< 2^53), so the flag comparison is bit-stable across
    engines and partitionings. Plan shape: the assignment scan, then
    two per-cluster median aggregations with tiny per-cluster frames
    broadcast back. The exact medians buffer a cluster's d² values in
    one aggregation buffer — size-gated (r10 advice): ``median_mode``
    'exact' (oracle-gated default), 'approx' (percentile_approx,
    bounded buffers — the 100 TB setting where one giant cluster
    would otherwise OOM the audit), or 'auto' (group-size probe on
    the materialized assignment, stats.EXACT_MEDIAN_MAX_GROUP
    threshold unless ``exact_max_group`` overrides).
    Returns (cluster, n, n_outliers, median_d2, mad_d2).
    """
    from ..cache import tracked_persist
    from .stats import EXACT_MEDIAN_MAX_GROUP, _median_fn
    # persist the assignment: it feeds the median aggregate, the
    # deviation join and (via dev) the MAD + flag aggregates — without
    # the barrier the mapInPandas distance kernel re-ran once per
    # consumer (12 Python-boundary nodes in the r14 plan sweep;
    # guide §4/§5). The auto mode's count probe reads the same cache.
    asg = tracked_persist(
        assign_nearest_centroid(embeddings, label_col=label_col,
                                id_col=id_col, vec_col=vec_col))
    if median_mode == "auto":
        cap = (EXACT_MEDIAN_MAX_GROUP if exact_max_group is None
               else exact_max_group)
        top = (asg.groupBy("cluster").count()
               .agg(F.max("count")).first()[0]) or 0
        median_mode = "exact" if top <= cap else "approx"
    med_of = _median_fn(median_mode)
    med = asg.groupBy("cluster").agg(med_of("d2_own").alias("_m"))
    dev = (asg.join(F.broadcast(med), "cluster")
              .withColumn("_d", F.abs(F.col("d2_own") - F.col("_m"))))
    mad = dev.groupBy("cluster").agg(
        med_of("_d").alias("_md"),
        F.first("_m").alias("_m2"))
    flagged = (dev.join(F.broadcast(mad.select("cluster", "_md")),
                        "cluster")
               .groupBy("cluster")
               .agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(F.when(F.col("_d") > F.lit(k) * F.col("_md"),
                                 1).otherwise(0)).cast("long")
                     .alias("n_outliers")))
    return (flagged.join(F.broadcast(mad), "cluster")
            .select("cluster", "n", "n_outliers",
                    F.col("_m2").cast("double").alias("median_d2"),
                    F.col("_md").cast("double").alias("mad_d2")))
