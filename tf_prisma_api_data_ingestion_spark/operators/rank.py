"""Distributed exact ranking — the scalable replacement for the
single-task global/per-group window sort (north-star extension; no
reference analog).

``ntile`` / ``row_number`` over ``Window.partitionBy(group)`` (or an
UNPARTITIONED window) hash-partitions by the group key, so one task
sorts an entire group — at 100 TB, where one language stratum can be
half the corpus, that task IS the job (the r9 VERDICT's two `weak`
plans: text-ccnet-buckets, op-equidepth-histogram). The classic
two-pass rewrite here keeps every task bounded by a RANGE BUCKET, not
a group:

1. BOUNDARIES: B-1 approximate quantiles of the sort key are computed
   once (`percentile_approx`, one cheap sketch scan) and frozen into
   the plan as an array LITERAL. This replaces ``repartitionByRange``
   deliberately: Spark's range partitioner re-samples per execution
   with RDD-id-derived seeds, so the two passes below could see
   DIFFERENT partition boundaries when their subtrees are not
   exchange-reused — a literal boundary table makes every
   recomputation (second pass, AQE replan, task retry) assign the
   identical bucket. Boundary quality only affects balance, never
   correctness.
2. map-side bucket assignment from the literal boundaries (ties at a
   boundary go to the lower bucket — deterministic);
3. a LOCAL ``row_number`` window partitioned by (bucket, group) sorts
   one bucket's slice of one group per task — bounded by ~corpus/B
   even when one group is the whole corpus;
4. per-(bucket, group) row counts aggregate map-side into a tiny frame
   (B x #groups rows); cumulative offsets per group over bucket index
   are computed on that tiny frame and broadcast back;
5. global rank = local rank + preceding-buckets offset.

Total cost: one sketch scan + two bounded corpus passes (each one
hash exchange) + a broadcast join — vs one exchange into ONE unbounded
task for the naive window. The full order must be TOTAL (a unique
``tiebreak`` is required): equal sort keys never straddle buckets (tie
rule above), and the tiebreak orders them within one task.

The boundary sketch is an EAGER driver action at operator-construction
time, by design: the boundary table parameterizes the partitioner, so
it must be frozen before the plan exists — the same sample
``repartitionByRange`` takes implicitly, done explicitly so it is
taken exactly once (driver traffic: B-1 numbers).

``exact_ntile`` reproduces ANSI ``ntile(k)`` bit-for-bit from the
exact rank: with n group rows, q = n div k and rem = n mod k, the
first rem buckets take q+1 rows — bucket(rank) is a two-branch integer
expression, verified against Spark's own ntile across group sizes
(including n < k) in tests/test_round10.py and against DuckDB's ntile
by the text-ccnet-buckets / op-equidepth-histogram oracles, which keep
running plain single-window ntile SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# _adaptive_buckets: one boundary bucket per this many estimated input
# bytes (64 MiB, the advisory granularity AQE coalesces to), and a hard
# cap on the bucket count
RANK_BUCKET_BYTES = 64 << 20
RANK_BUCKET_CAP = 4096


def _order_exprs(key_col: str, desc: bool,
                 tiebreak: Sequence[str]) -> list[Column]:
    head = F.col(key_col).desc() if desc else F.col(key_col).asc()
    return [head] + [F.col(t).asc() for t in tiebreak]


def range_boundaries(df: DataFrame, key_col: str,
                     buckets: int, accuracy: int = 10_000) -> list:
    """B-1 approximate quantile cutpoints of a non-null numeric
    ``key_col``, deduplicated and sorted — the literal boundary table
    for ``exact_global_rank``. One sketch scan; driver traffic is
    ``buckets - 1`` numbers."""
    if buckets < 2:
        return []
    probs = [i / buckets for i in range(1, buckets)]
    row = df.select(F.percentile_approx(
        F.col(key_col), F.array(*[F.lit(p) for p in probs]),
        F.lit(accuracy)).alias("_b")).first()
    vals = row["_b"] if row is not None else None
    return sorted(set(v for v in (vals or []) if v is not None))


def _adaptive_buckets(df: DataFrame) -> int:
    """Scale-adaptive boundary count (guide §2): the bucket count
    bounds one local-sort task at ~corpus/B, so a CONSTANT tuned for
    local mode (the session's shuffle-partition setting) re-creates the
    unbounded-task problem at 100 TB. Derive B from the input's Catalyst
    size estimate instead — one bucket per ``RANK_BUCKET_BYTES`` — with
    the session shuffle setting as the floor (any input under
    floor×target stays at the floor) and ``RANK_BUCKET_CAP`` as a HARD
    cap that also bounds the floor (a cluster session at 20000 shuffle
    partitions must not mint a 20000-leaf when-tree). The
    bucket-assignment when-tree costs O(log B) per row and the boundary
    sketch ships B-1 numbers to the driver — both fine at 4096; past the
    cap the sketch accuracy dial matters more than more buckets. Both
    constants are read at call time. Estimate-only: boundary count
    affects task balance, never values, so a bad estimate costs skew
    headroom, not correctness."""
    spark = df.sparkSession
    try:
        floor_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # some platforms report a non-numeric value here (e.g. "auto"
        # under vendor AQE shims) — fall back to the cluster's default
        # parallelism rather than crashing every default-bucket call
        floor_n = max(1, spark.sparkContext.defaultParallelism)
    try:
        # NOTE private-API coupling (Spark 4.1 pin): queryExecution()/
        # optimizedPlan().stats() is not public PySpark surface; if a
        # Spark upgrade moves it, the except below silently degrades to
        # the (safe, exact) floor — re-check this hook on any upgrade.
        raw = (df._jdf.queryExecution()  # noqa: SLF001
               .optimizedPlan().stats().sizeInBytes())
        # py4j maps scala.math.BigInt to Python int when it fits; very
        # large estimates (post-join multiplications) surface as the
        # Java object — stringify those
        est = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # stats unavailable (exotic plan) — keep the floor
        return floor_n
    if est >= 1 << 60:
        # leaves without statistics (RDD-backed frames, createDataFrame)
        # report spark.sql.defaultSizeInBytes = Long.MaxValue and taint
        # every product above them; past 2^60 (an exabyte — no real
        # estimate) the number is a sentinel, not a size. Keep the
        # floor; callers who know better pass ``buckets`` explicitly.
        return floor_n
    # cap is a HARD bound applied after the floor: the when-tree costs
    # O(log B) per row but ships B-1 boundaries through every plan, so
    # a session set to e.g. 20000 shuffle partitions must not mint a
    # 20000-leaf tree just because the floor says so
    return min(RANK_BUCKET_CAP,
               max(floor_n, -(-est // RANK_BUCKET_BYTES)))


def exact_global_rank(df: DataFrame, key_col: str, *,
                      desc: bool = False,
                      tiebreak: Sequence[str],
                      group_cols: Sequence[str] = (),
                      out: str = "rank",
                      total_col: str | None = None,
                      buckets: int | None = None) -> DataFrame:
    """Exact 1-based row_number per ``group_cols`` under the TOTAL
    order (``key_col`` asc/desc, then ``tiebreak`` asc), computed with
    bounded tasks as described in the module docstring. ``key_col``
    must be non-null numeric (it feeds the quantile sketch); the
    boundary count defaults to a scale-adaptive value derived from the
    input's size estimate (see ``_adaptive_buckets``), floored at the
    session's shuffle-partition setting. ``total_col`` additionally
    attaches the per-group row
    count, read off the same tiny counts frame — no extra corpus pass
    (ntile and percentile assignment need it)."""
    gcols = list(group_cols)
    order_by = _order_exprs(key_col, desc, tiebreak)
    nb = buckets or _adaptive_buckets(df)
    bnds = range_boundaries(df, key_col, nb)
    # The bucket index increases ALONG the sort direction; key == b
    # lands in the lower bucket either way (deterministic ties). Built
    # from plain literal comparisons, NOT a higher-order
    # filter(array, lambda): a HOF's `references` set hides the key
    # column, so InferFiltersFromConstraints pushes the join's alias
    # constraint to the OFFSETS side as a filter referencing a
    # left-subtree attribute — an unbindable plan (observed:
    # `!Filter (size(filter(...v...)) <=> _rk_b)` under the
    # all-columns write path). Plain comparisons keep the references
    # honest and the inferred cross-side filter is correctly dropped.
    #
    # Shape (r11): a BALANCED nested-when tree — the binary search
    # over the sorted boundaries as an expression. cond(i) is
    # monotone in i (once true, stays true), so `bucket <= mid iff
    # cond(mid)` splits the range exactly and each row evaluates
    # O(log B) comparisons instead of the previous first-match
    # chain's O(B) — measured 3.6x cheaper per pass at B=4096
    # (10.1s vs 36.1s over 5M rows; SCALING.md r11); identical
    # assignment by construction (0 mismatches in the same run),
    # pinned by the unchanged consumer oracles and
    # tests/test_round10.py.
    k = F.col(key_col)
    conds = ([(k > b) for b in reversed(bnds)] if desc
             else [(k <= b) for b in bnds])

    def tree(lo: int, hi: int) -> Column:
        # first index in [lo, hi] whose cond holds (hi = len(conds)
        # means none) — conds monotone, so this is a binary search
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(conds[mid], tree(lo, mid))
                .otherwise(tree(mid + 1, hi)))

    bucket = tree(0, len(conds))
    d = df.withColumn("_rk_b", bucket)
    w_local = Window.partitionBy("_rk_b", *gcols).orderBy(*order_by)
    ranked = d.withColumn("_rk_lr", F.row_number().over(w_local))
    counts = (d.groupBy("_rk_b", *gcols)
              .agg(F.count(F.lit(1)).alias("_rk_c")))
    w_off = (Window.partitionBy(*gcols).orderBy(F.col("_rk_b").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    w_tot = Window.partitionBy(*gcols)
    offsets = (counts
               .withColumn("_rk_off",
                           F.coalesce(F.sum("_rk_c").over(w_off),
                                      F.lit(0)))
               .withColumn("_rk_n", F.sum("_rk_c").over(w_tot)))
    joined = ranked.join(
        F.broadcast(offsets.select("_rk_b", *gcols, "_rk_off", "_rk_n")),
        ["_rk_b", *gcols])
    joined = joined.withColumn(
        out, (F.col("_rk_lr") + F.col("_rk_off")).cast("long"))
    if total_col is not None:
        joined = joined.withColumn(total_col, F.col("_rk_n").cast("long"))
    return joined.drop("_rk_b", "_rk_lr", "_rk_off", "_rk_n")


def exact_ntile(df: DataFrame, k: int, key_col: str, *,
                desc: bool = False,
                tiebreak: Sequence[str],
                group_cols: Sequence[str] = (),
                out: str = "bucket",
                buckets: int | None = None) -> DataFrame:
    """ANSI ``ntile(k)`` per group under a total order, bit-identical
    to the window function but never sorting a whole group in one
    task. With n rows, q = n div k, rem = n mod k: ranks up to
    (q+1)*rem land in the first rem (larger) buckets, the rest in
    q-sized buckets; n < k degenerates to bucket = rank, which the
    first branch covers (rem = n, q = 0)."""
    if k < 1:
        raise ValueError(f"ntile k must be >= 1, got {k}")
    ranked = exact_global_rank(df, key_col, desc=desc, tiebreak=tiebreak,
                               group_cols=group_cols, out="_nt_r",
                               total_col="_nt_n", buckets=buckets)
    bucket = F.expr(
        f"CASE WHEN _nt_r <= ((_nt_n DIV {k}) + 1) * (_nt_n % {k}) "
        f"THEN (_nt_r + (_nt_n DIV {k})) DIV ((_nt_n DIV {k}) + 1) "
        f"ELSE (_nt_n % {k}) + ((_nt_r - (_nt_n % {k}) * ((_nt_n DIV {k})"
        f" + 1)) + (_nt_n DIV {k}) - 1) DIV (_nt_n DIV {k}) END")
    return (ranked.withColumn(out, bucket.cast("long"))
            .drop("_nt_r", "_nt_n"))


def shard_assign(df: DataFrame, n_shards: int,
                 key_cols: Sequence[str],
                 out: str = "shard_id") -> DataFrame:
    """Deterministic, perfectly balanced assignment of rows (packed
    training sequences, typically) to ``n_shards`` output shards by
    md5-order round-robin: rows are ranked under (md5_hash60 of the
    key, then the key itself — the hash-order election primitive
    op-sample-hash uses) via ``exact_global_rank``, and
    shard = (rank - 1) % n_shards.

    Hash-ORDER round-robin rather than plain hash %% N: shard sizes
    differ by at most one row by construction (%% N is only balanced
    in expectation — at billions of sequences the spread still costs
    straggler time on the widest shard), while the md5 ordering keeps
    the assignment independent of scan order and reproducible run to
    run — same corpus, byte-identical shard membership (the property
    the training-shard writer's test pins). ``key_cols`` must uniquely
    identify rows (they break md5 ties, keeping the order total)."""
    from .dedup import md5_hash60  # deferred: dedup imports siblings

    key = md5_hash60(F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]))
    d = df.withColumn("_sh_h", key)
    ranked = exact_global_rank(d, "_sh_h", tiebreak=key_cols,
                               out="_sh_r")
    return (ranked
            .withColumn(out, ((F.col("_sh_r") - 1) % n_shards)
                        .cast("long"))
            .drop("_sh_h", "_sh_r"))
