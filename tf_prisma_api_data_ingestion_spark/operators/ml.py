"""ML-adjacent data-pipeline primitives (north-star extensions, SURVEY §7.5).

The training-data operators a 100 TB pipeline needs *around* the dedup /
similarity / text families already in this package: label propagation
(kNN classify), item-item collaborative filtering, leakage-safe target
encoding, chi-square feature selection, A/B significance testing,
weight-proportional sampling, and event-sequence transition models.

Determinism contract (same as the rest of the repo): integer / decimal
aggregation wherever a sum crosses rows; double math only in fixed
per-row chains of correctly-rounded IEEE ops (+ - * / sqrt — never ln or
pow, whose last ulp varies across libms); md5-derived 60-bit hashes for
anything pseudo-random, so every operator replays bit-exact in DuckDB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import tracked_persist
from .dedup import as_double_vec, dot, md5_hash60, norm2
from .relational import top_k_per_group


def knn_classify(queries: DataFrame, corpus: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """k-nearest-neighbor label prediction over an embedding corpus.

    The zero-training classifier every labeling pipeline starts from:
    each query vector takes the majority label of its k nearest labeled
    neighbors by cosine (vote ties break to the smaller label, neighbor
    ties to the smaller id — a total order, so the prediction is
    deterministic).

    Scale design: ``queries`` is broadcast (label-propagation batches are
    small relative to the corpus); the corpus streams through one narrow
    scan with per-partition scoring — the only shuffle is the tiny
    per-query top-k, and the vote is a groupBy over k*|queries| rows.
    For corpus-scale query sets, swap the broadcast scorer for the
    LSH/IVF candidate generators in operators/similarity.py; the voting
    tail below is unchanged.

    Returns (query_id, pred_label, votes, n_candidates).
    """
    qd, cd = as_double_vec(F.col(vec_col)), as_double_vec(F.col(vec_col))
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   qd.alias("_qv"), norm2(qd).alias("_qn")))
    c = corpus.select(F.col(id_col), F.col(label_col).alias("_lbl"),
                      cd.alias("_cv"), norm2(cd).alias("_cn"))
    scored = (c.crossJoin(q)
               .filter(F.col(id_col) != F.col("query_id"))
               .withColumn("cos", dot(F.col("_qv"), F.col("_cv"))
                           / (F.col("_qn") * F.col("_cn"))))
    top = top_k_per_group(scored, ["query_id"], "cos", k, descending=True,
                          tiebreak=[id_col])
    votes = (top.groupBy("query_id", "_lbl")
                .agg(F.count(F.lit(1)).alias("votes")))
    # n_candidates is the REAL vote-pool size (sum of votes over the
    # query's label groups): min(k, labeled neighbors actually found),
    # not lit(k) — a corpus with < k neighbors would otherwise overstate
    # the pool. Same window partitioning as the argmax, no extra shuffle.
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(),
                                               F.col("_lbl").asc())
    wq = Window.partitionBy("query_id")
    return (votes.withColumn("_nc", F.sum("votes").over(wq))
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("query_id",
                         F.col("_lbl").cast("long").alias("pred_label"),
                         "votes",
                         F.col("_nc").cast("long").alias("n_candidates")))


def item_item_cf(baskets: DataFrame, basket_col: str, item_col: str,
                 min_support: int = 2, k: int = 3,
                 max_basket_size: int | None = None) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity on the
    item-basket incidence matrix, top-k recommendations per item.

    sim(a, b) = co(a, b) / sqrt(n_a * n_b) where co counts shared
    baskets — the classic Amazon-style item-to-item recommender, computed
    as a basket-grouped self-join (quadratic only within a basket, which
    real baskets bound at tens of items, the same per-group cap argument
    as the co-occurrence projections in catalog_registry._copurchase_edges).

    ``max_basket_size`` makes that boundedness ENFORCED rather than
    assumed: baskets with more distinct items are dropped whole before
    the self-join (dropping, not truncating — a truncated basket would
    bias co-occurrence toward whichever items survive the cut), the same
    hot-key guard the dedup family applies via max_df. Default None
    keeps the unguarded classic semantics for data whose basket key is
    bounded by construction; set it whenever the key can collapse (a
    default/null-ish basket id would otherwise put its full quadratic
    pair set into one join group).

    Scale design: one distinct() to collapse repeat purchases, one
    self-join keyed on the basket id (co-partitioned, no broadcast of
    anything big), integer co/na/nb counts — the sqrt + divide happens
    once per surviving pair. The per-item top-k is a WindowGroupLimit.
    Returns (item_a, item_b, co, sim_r, rank) with both orientations of
    every pair, so `item_a` is a complete recommendation key.
    """
    # persist the distinct incidence frame: it feeds the per-item counts
    # AND both sides of the basket self-join — without the barrier each
    # consumer re-runs the distinct over the source scan (the r14
    # before-plan scanned lineitem 12 times)
    inc = tracked_persist(
        baskets.select(F.col(basket_col).alias("_b"),
                       F.col(item_col).alias("_i"))
               .distinct())
    if max_basket_size is not None:
        ok = (inc.groupBy("_b")
                 .agg(F.count(F.lit(1)).alias("_sz"))
                 .filter(F.col("_sz") <= int(max_basket_size))
                 .select("_b"))
        inc = inc.join(ok, "_b", "left_semi")
    n_i = inc.groupBy("_i").agg(F.count(F.lit(1)).alias("_n"))
    a = inc.select(F.col("_b"), F.col("_i").alias("_u"))
    b = inc.select(F.col("_b"), F.col("_i").alias("_v"))
    co = (a.join(b, "_b")
           .filter(F.col("_u") < F.col("_v"))
           .groupBy("_u", "_v")
           .agg(F.count(F.lit(1)).alias("co"))
           .filter(F.col("co") >= min_support))
    both = co.unionByName(
        co.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"), "co"))
    sim = (both
           .join(n_i.select(F.col("_i").alias("_u"),
                            F.col("_n").alias("_na")), "_u")
           .join(n_i.select(F.col("_i").alias("_v"),
                            F.col("_n").alias("_nb")), "_v")
           .withColumn("sim", F.col("co").cast("double")
                       / F.sqrt((F.col("_na") * F.col("_nb"))
                                .cast("double"))))
    w = Window.partitionBy("_u").orderBy(F.col("sim").desc(),
                                         F.col("_v").asc())
    return (sim.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= k)
               .select(F.col("_u").alias("item_a"),
                       F.col("_v").alias("item_b"),
                       "co", F.round("sim", 6).alias("sim_r"),
                       F.col("_rn").cast("long").alias("rank")))


def target_encode(df: DataFrame, cat_col: str, y01, smoothing: float = 20.0
                  ) -> DataFrame:
    """Smoothed mean target encoding of a categorical column.

    enc(c) = (sum_y(c) + m * global_mean) / (n(c) + m) — the standard
    empirical-Bayes shrinkage that keeps rare categories from memorizing
    their few labels. ``y01`` is a 0/1 integer Column.

    Scale design: two aggregations, both map-side-combinable (integer
    sums); the global mean is a 1-row frame broadcast back via
    crossJoin — no second pass over the data, no window. Returns
    (category, n, sum_y, rate_r, enc_r).
    """
    per = df.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y01.cast("long")).alias("sum_y"))
    tot = per.agg(F.sum("n").alias("_tn"), F.sum("sum_y").alias("_ty"))
    g = F.col("_ty").cast("double") / F.col("_tn").cast("double")
    m = F.lit(float(smoothing))
    enc = ((F.col("sum_y").cast("double") + m * g)
           / (F.col("n").cast("double") + m))
    return (per.crossJoin(F.broadcast(tot))
               .select("category", "n", "sum_y",
                       F.round(F.col("sum_y").cast("double")
                               / F.col("n").cast("double"), 6).alias("rate_r"),
                       F.round(enc, 6).alias("enc_r")))


def chi2_terms(docs: DataFrame, text_col: str, pos01, top_k: int = 20,
               min_df: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Chi-square feature selection: the terms most associated with a
    binary document class, by presence (document frequency, not raw tf —
    the standard formulation, robust to repetition spam).

    chi2 = N * (a*d - b*c)^2 / ((a+b)(c+d)(a+c)(b+d)) over the 2x2
    presence/class contingency table per term. All four cells are exact
    integer counts from ONE distinct (doc, term) explode + aggregation;
    the polynomial is evaluated in double with a fixed association order,
    so both engines emit the identical value.

    Scale design: the explode is linear in tokens; per-term cells are a
    map-side-combinable count; class totals are a broadcast 1-row frame.
    The top-k is a TakeOrdered, no global sort. Returns
    (term, df, df_pos, chi2_r).
    """
    toks = F.array_distinct(F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit("")))
    dt = (docs.select(F.col(id_col), pos01.cast("long").alias("_y"),
                      F.explode(toks).alias("term")))
    per = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("_y").alias("df_pos"))
    tot = (docs.select(pos01.cast("long").alias("_y"))
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_y").alias("_npos")))
    a = F.col("df_pos").cast("double")                    # term & pos
    b = (F.col("df") - F.col("df_pos")).cast("double")    # term & neg
    c = (F.col("_npos") - F.col("df_pos")).cast("double")  # no-term & pos
    d = ((F.col("_n") - F.col("_npos"))
         - (F.col("df") - F.col("df_pos"))).cast("double")
    n = F.col("_n").cast("double")
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    # a zero marginal (term in every/no doc, or a one-class corpus) means
    # zero signal, not a division error — the operator is total under ANSI
    chi2 = F.when(denom > 0,
                  n * (a * d - b * c) * (a * d - b * c) / denom) \
            .otherwise(F.lit(0.0))
    scored = (per.filter(F.col("df") >= min_df)
                 .crossJoin(F.broadcast(tot))
                 .select("term", "df", "df_pos",
                         F.round(chi2, 6).alias("chi2_r")))
    return (scored.orderBy(F.col("chi2_r").desc(), F.col("term").asc())
                  .limit(top_k))


def welch_ttest(df: DataFrame, group_col: str, value_2dec,
                group_a: str, group_b: str) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of a 2-decimal
    metric — the A/B-test significance primitive.

    Sums accumulate in exact DECIMAL cents (order-independent, no double
    associativity drift — same discipline as operators/stats.py linreg);
    mean / variance / t / Welch df are then fixed per-row double chains
    (+ - * / sqrt only). Returns one row:
    (n_a, n_b, mean_a_r, mean_b_r, t_r, df_r).

    Scale design: a single map-side-combinable aggregation per group —
    the whole test is one shuffle of two 3-number partial states.
    """
    cents = (value_2dec.cast("decimal(18,2)") * 100).cast("decimal(18,0)")
    agg = (df.filter(F.col(group_col).isin([group_a, group_b]))
             .groupBy(F.col(group_col).alias("_g"))
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.sum(cents).alias("_s"),
                  F.sum(cents * cents).alias("_ss")))

    def side(tag: str, g: str):
        return (agg.filter(F.col("_g") == g)
                   .select(F.col("_n").alias(f"n_{tag}"),
                           F.col("_s").cast("double").alias(f"_s_{tag}"),
                           F.col("_ss").cast("double").alias(f"_ss_{tag}")))

    j = side("a", group_a).crossJoin(side("b", group_b))
    out_cols = []
    for tag in ("a", "b"):
        n = F.col(f"n_{tag}").cast("double")
        s, ss = F.col(f"_s_{tag}"), F.col(f"_ss_{tag}")
        mean_c = s / n                                       # cents
        var_c = (n * ss - s * s) / (n * (n - 1))             # cents^2
        j = (j.withColumn(f"_m_{tag}", mean_c)
              .withColumn(f"_v_{tag}", var_c / (n * 10000.0)))  # $^2/n
        out_cols.append(F.round(mean_c / 100.0, 6).alias(f"mean_{tag}_r"))
    num = (F.col("_m_a") - F.col("_m_b")) / 100.0
    se2 = F.col("_v_a") + F.col("_v_b")
    t = num / F.sqrt(se2)
    dfw = (se2 * se2) / (
        F.col("_v_a") * F.col("_v_a") / (F.col("n_a").cast("double") - 1)
        + F.col("_v_b") * F.col("_v_b") / (F.col("n_b").cast("double") - 1))
    return j.select("n_a", "n_b", *out_cols,
                    F.round(t, 6).alias("t_r"),
                    F.round(dfw, 3).alias("df_r"))


def weighted_systematic_sample(df: DataFrame, key_col: str, weight_cents,
                               per_shard: int = 8, shards: int = 64
                               ) -> DataFrame:
    """Weight-proportional sample via sharded systematic (PPS) selection
    — deterministic, exact-integer, one window per shard.

    Rows are dealt to ``shards`` hash shards, permuted within the shard
    by their 60-bit md5 hash (a deterministic 'random' order), and a row
    is selected whenever the scaled cumulative weight crosses one of
    ``per_shard`` equally-spaced thresholds:
    floor(cum * k / W) > floor((cum - w) * k / W). Selection probability
    is proportional to weight (rows heavier than W/k are always taken),
    the expected sample size is per_shard * shards, and — unlike the
    Efraimidis-Spirakis u^(1/w) keys — there is NO transcendental math:
    the comparison is exact DECIMAL arithmetic, so both engines pick the
    identical set.

    Scale design: the cumulative sum is windowed PER SHARD (parallel, no
    global sort); shard totals come from an unbounded frame over the same
    partitioning — one shuffle total. All arithmetic is BIGINT with
    integral division (``DIV`` / DuckDB ``//`` agree exactly for
    non-negative operands — no decimal-division scale rules, no doubles);
    cum * per_shard must stay under 2^63, i.e. per-shard weight below
    ~10^18/per_shard cents — raise ``shards`` long before that bites.

    Weight contract: only rows with weight > 0 participate. A zero- or
    negative-weight row has no selection probability under PPS anyway,
    but left in it would break the machinery — an all-zero shard divides
    by zero (ANSI error) and a negative weight makes the cumulative
    threshold walk non-monotone — so they are filtered up front (the
    paired oracle states the same predicate).

    Returns (key, weight_cents, shard, pick).
    """
    h = md5_hash60(F.col(key_col).cast("string"))
    shard = (h % shards).cast("int")
    base = df.select(F.col(key_col).alias("key"),
                     weight_cents.cast("long").alias("w"),
                     shard.alias("shard"), h.alias("_h")) \
             .filter(F.col("w") > 0)
    win = Window.partitionBy("shard").orderBy(F.col("_h").asc(),
                                              F.col("key").asc())
    tot = Window.partitionBy("shard")
    base = (base.withColumn("_cum", F.sum("w").over(win))
                .withColumn("_big", F.sum("w").over(tot)))
    hi = F.expr(f"(_cum * {int(per_shard)}L) DIV _big")
    lo = F.expr(f"((_cum - w) * {int(per_shard)}L) DIV _big")
    return (base.withColumn("_hi", hi).withColumn("_lo", lo)
                .filter(F.col("_hi") > F.col("_lo"))
                .select("key", F.col("w").cast("long").alias("weight_cents"),
                        F.col("shard").cast("long").alias("shard"),
                        F.col("_hi").cast("long").alias("pick")))


def markov_transitions(events: DataFrame, entity_col: str, state_col: str,
                       order_cols: Sequence[str]) -> DataFrame:
    """First-order Markov transition model over per-entity event
    sequences: P(next state | state), from a LAG over each entity's
    totally-ordered history — the session-flow / funnel-discovery
    primitive (and the generative model behind synthetic-sequence data).

    Scale design: one window partitioned by entity (parallel across the
    key space, no global sort), one integer count aggregation; the
    per-source normalizer is a second tiny aggregation joined back (the
    (src, dst) frame is |states|^2 rows, broadcast). Probability is a
    single double division, rounded at the edge.

    Returns (src, dst, n, p_r).
    """
    w = Window.partitionBy(entity_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    steps = (events.withColumn("_prev", F.lag(F.col(state_col)).over(w))
                   .filter(F.col("_prev").isNotNull())
                   .select(F.col("_prev").alias("src"),
                           F.col(state_col).alias("dst")))
    n = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = n.groupBy("src").agg(F.sum("n").alias("_t"))
    return (n.join(F.broadcast(tot), "src")
             .select("src", "dst", "n",
                     F.round(F.col("n").cast("double")
                             / F.col("_t").cast("double"), 6).alias("p_r")))


def ks_drift(df: DataFrame, bin_col, current) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic between a reference
    and a current population — the standard train/serve feature-drift
    test (max absolute ECDF gap).

    ``bin_col`` is an integer bin id the caller derives from the feature
    (binned KS is the practice at scale: the final ordering touches B
    bins, not N rows); ``current`` is a boolean column naming the
    current-period sample. The ECDF comparison is EXACT-INTEGER: the gap
    numerator max|cum_ref * n_cur - cum_cur * n_ref| accumulates in
    DECIMAL(38,0) (products reach ~1e24 at 100 TB row counts — past
    BIGINT, nowhere near DECIMAL38), and the single double division
    happens once at the edge. No ln/pow anywhere, so DuckDB replays the
    identical statistic bit-for-bit.

    Scale design: one map-side-combinable count aggregation shuffles B
    partial states; the cumulative window then orders the B-row binned
    frame (a deliberate single-partition sort over bins, NOT rows —
    document B <= ~1e5). Returns one row (n_ref, n_cur, n_bins, ks_r).
    """
    b = df.select(bin_col.cast("long").alias("bin"),
                  F.when(current, F.lit(1)).otherwise(F.lit(0)).alias("_c"))
    g = b.groupBy("bin").agg(
        F.count(F.when(F.col("_c") == 0, True)).alias("_r"),
        F.count(F.when(F.col("_c") == 1, True)).alias("_k"))
    w = Window.orderBy(F.col("bin").asc()) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = Window.partitionBy()
    cum = (g.withColumn("_cr", F.sum("_r").over(w).cast("decimal(38,0)"))
            .withColumn("_ck", F.sum("_k").over(w).cast("decimal(38,0)"))
            .withColumn("_tr", F.sum("_r").over(t).cast("decimal(38,0)"))
            .withColumn("_tk", F.sum("_k").over(t).cast("decimal(38,0)")))
    gap = F.abs(F.col("_cr") * F.col("_tk") - F.col("_ck") * F.col("_tr"))
    return cum.agg(
        F.max(F.col("_tr")).cast("long").alias("n_ref"),
        F.max(F.col("_tk")).cast("long").alias("n_cur"),
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.when(
            (F.max(F.col("_tr")) > 0) & (F.max(F.col("_tk")) > 0),
            F.max(gap).cast("double")
            / (F.max(F.col("_tr")).cast("double")
               * F.max(F.col("_tk")).cast("double"))), 6).alias("ks_r"))


def drift_bins(df: DataFrame, bin_col, current) -> DataFrame:
    """Per-bin population-drift audit between a reference and a current
    sample — the log-free PSI analog (per-bin shares plus the two-sample
    chi-square contribution, whose sum IS the drift test statistic).

    PSI's ln(p/q) term is deliberately replaced by the chi-square
    contribution (o*n - bt*rt)^2 / (n*bt*rt): rank-equivalent for
    flagging drifted bins, and free of the libm-ulp nondeterminism this
    repo's cross-engine contract forbids (same policy as the log-free
    BM25 family, operators/text.py). Counts are exact integers; each
    bin's term is a FIXED per-row double chain (exact DECIMAL(38,0)
    cross products cast once to double, then one multiply + one divide)
    — never a cross-row double sum, so partition order cannot move a
    digit (precedent: ml.chi2_terms).

    Scale design: one map-side-combinable aggregation; everything after
    operates on the B-row binned frame. Returns per bin, ordered:
    (bin, n_ref, n_cur, p_ref_r, p_cur_r, chi2_r).
    """
    b = df.select(bin_col.cast("long").alias("bin"),
                  F.when(current, F.lit(1)).otherwise(F.lit(0)).alias("_c"))
    g = b.groupBy("bin").agg(
        F.count(F.when(F.col("_c") == 0, True)).alias("n_ref"),
        F.count(F.when(F.col("_c") == 1, True)).alias("n_cur"))
    t = Window.partitionBy()
    g = (g.withColumn("_tr", F.sum("n_ref").over(t))
          .withColumn("_tk", F.sum("n_cur").over(t))
          .withColumn("_n", F.col("_tr") + F.col("_tk"))
          .withColumn("_bt", F.col("n_ref") + F.col("n_cur")))

    def term(o, coltot):
        num = (o.cast("decimal(38,0)") * F.col("_n").cast("decimal(38,0)")
               - F.col("_bt").cast("decimal(38,0)")
               * coltot.cast("decimal(38,0)")).cast("double")
        den = (F.col("_n").cast("decimal(38,0)")
               * F.col("_bt").cast("decimal(38,0)")
               * coltot.cast("decimal(38,0)")).cast("double")
        return num * num / den

    both = (F.col("_tr") > 0) & (F.col("_tk") > 0)
    chi2 = term(F.col("n_ref"), F.col("_tr")) \
        + term(F.col("n_cur"), F.col("_tk"))
    return (g.select(
                "bin", "n_ref", "n_cur",
                F.round(F.when(F.col("_tr") > 0,
                               F.col("n_ref").cast("double")
                               / F.col("_tr").cast("double")), 6)
                 .alias("p_ref_r"),
                F.round(F.when(F.col("_tk") > 0,
                               F.col("n_cur").cast("double")
                               / F.col("_tk").cast("double")), 6)
                 .alias("p_cur_r"),
                F.round(F.when(both, chi2), 6).alias("chi2_r"))
             .orderBy(F.col("bin").asc()))


def gini_diversity(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Per-group categorical diversity: Gini impurity and the inverse
    Simpson index ("effective number of categories") — the label-balance
    / source-mix audit a training-data pipeline runs before sampling.

    Entropy's ln is deliberately avoided (cross-engine ulp contract);
    Gini 1 - sum(c^2)/n^2 and Simpson n^2/sum(c^2) carry the same
    diversity signal on pure integer sums: c^2 accumulates in
    DECIMAL(38,0) (a 1e11-row category squares to 1e22), with the two
    double divisions at the edge.

    Scale design: two map-side-combinable aggregations (group x cat,
    then group); no window, no skew sensitivity beyond the natural key
    distribution. Returns (group, n, n_cats, gini_r, simpson_r).
    """
    c = (df.groupBy(F.col(group_col).alias("grp"),
                    F.col(cat_col).alias("_cat"))
           .agg(F.count(F.lit(1)).alias("_c")))
    cd = F.col("_c").cast("decimal(38,0)")
    g = c.groupBy("grp").agg(
        F.sum("_c").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum(cd * cd).alias("_ss"))
    n2 = F.col("n").cast("double") * F.col("n").cast("double")
    ss = F.col("_ss").cast("double")
    return g.select("grp", "n", "n_cats",
                    F.round(F.lit(1.0) - ss / n2, 6).alias("gini_r"),
                    F.round(n2 / ss, 6).alias("simpson_r"))


def cramers_v(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Cramer's V association between two categorical columns — the
    feature-redundancy / leakage screen (V ~ 1 means one column encodes
    the other; drop it before training).

    chi-square = sum over cells of (o*n - rt*ct)^2 / (n*rt*ct), each
    cell's term a fixed double chain over exact DECIMAL(38,0) integer
    cross products (chi2_terms precedent). Summing terms ACROSS cells
    would be a cross-row double sum, so each term is first scaled to an
    exact BIGINT (round(term * 1e6) — terms are bounded by n*min(r,c),
    ~1e17 scaled at 1e11 rows, inside BIGINT) and the sum is integer;
    /1e6 and sqrt happen once at the edge. V = sqrt(chi2 / (n * min(r-1,
    c-1))); degenerate single-level inputs return V = NULL rather than
    dividing by zero (ANSI-safe).

    The contingency table is DENSIFIED before the sum: a zero cell
    (level pair never observed) still contributes (rt*ct/n) to chi-square
    — summing only observed cells silently halves the statistic on a
    perfectly-associated 2x2 (caught by the unit fixture). The r x c
    level grid is a crossJoin of the two tiny marginal frames.

    Scale design: one cell-count aggregation (map-side combinable);
    marginals and the level grid are aggregations of the tiny r x c cell
    frame. Returns one row (n, r_levels, c_levels, chi2_r, v_r).
    """
    obs = (df.groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
             .agg(F.count(F.lit(1)).alias("_raw")))
    xs = obs.groupBy("_x").agg(F.sum("_raw").alias("_rt"))
    ys = obs.groupBy("_y").agg(F.sum("_raw").alias("_ct"))
    tot = xs.agg(F.sum("_rt").alias("_n"), F.count(F.lit(1)).alias("_r")) \
            .crossJoin(ys.agg(F.count(F.lit(1)).alias("_k")))
    cells = (xs.crossJoin(ys)
               .join(obs, ["_x", "_y"], "left")
               .withColumn("_o", F.coalesce(F.col("_raw"), F.lit(0)))
               .crossJoin(F.broadcast(tot)))
    term_scaled = F.expr(
        "CAST(round((({0}) * ({0})) / ({1}) * 1000000.0) AS BIGINT)".format(
            "CAST(CAST(_o AS DECIMAL(38,0)) * CAST(_n AS DECIMAL(38,0)) "
            "- CAST(_rt AS DECIMAL(38,0)) * CAST(_ct AS DECIMAL(38,0)) "
            "AS DOUBLE)",
            "CAST(CAST(_n AS DECIMAL(38,0)) * CAST(_rt AS DECIMAL(38,0)) "
            "* CAST(_ct AS DECIMAL(38,0)) AS DOUBLE)"))
    agg = cells.select(F.col("_n"), F.col("_r"), F.col("_k"),
                       term_scaled.alias("_ts")) \
               .groupBy("_n", "_r", "_k") \
               .agg(F.sum("_ts").alias("_chi2s"))
    chi2 = F.col("_chi2s").cast("double") / F.lit(1000000.0)
    mind = F.least(F.col("_r") - 1, F.col("_k") - 1).cast("double")
    v = F.when(F.least(F.col("_r"), F.col("_k")) > 1,
               F.sqrt(chi2 / (F.col("_n").cast("double") * mind)))
    return agg.select(F.col("_n").cast("long").alias("n"),
                      F.col("_r").cast("long").alias("r_levels"),
                      F.col("_k").cast("long").alias("c_levels"),
                      F.round(chi2, 6).alias("chi2_r"),
                      F.round(v, 6).alias("v_r"))


def markov_self_eval(events: DataFrame, entity_col: str, state_col: str,
                     order_cols: Sequence[str]) -> DataFrame:
    """In-sample hit-rate@1 of the first-order Markov model: for every
    observed transition, predict the modal next state of its source
    (ties to the lexicographically smaller state — a total order) and
    score the prediction — the sanity bound every sequence model gets
    compared against before anything fancier ships.

    Scale design: the transition stream is ONE window per entity (same
    shuffle as markov_transitions); the argmax model is a window over
    the |states|^2 count frame, broadcast back onto the stream's
    (src, dst) AGGREGATE (|states|^2 rows score against the model, not
    N rows). Accuracy rounds in exact integer space ((2a+b) DIV 2b).
    Returns one row (n_steps, n_hits, acc_r).
    """
    w = Window.partitionBy(entity_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    steps = (events.withColumn("_prev", F.lag(F.col(state_col)).over(w))
                   .filter(F.col("_prev").isNotNull())
                   .select(F.col("_prev").alias("src"),
                           F.col(state_col).alias("dst")))
    n = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wm = Window.partitionBy("src").orderBy(F.col("n").desc(),
                                           F.col("dst").asc())
    model = (n.withColumn("_rn", F.row_number().over(wm))
              .filter(F.col("_rn") == 1)
              .select("src", F.col("dst").alias("_pred")))
    scored = n.join(F.broadcast(model), "src")
    agg = scored.agg(
        F.sum("n").cast("long").alias("n_steps"),
        F.sum(F.when(F.col("dst") == F.col("_pred"), F.col("n"))
               .otherwise(F.lit(0))).cast("long").alias("n_hits"))
    acc = ("CAST(CAST((2 * CAST(n_hits AS DECIMAL(38,0)) * 1000000"
           " + n_steps) DIV CAST(2 * n_steps AS DECIMAL(38,0))"
           " AS DOUBLE) / 1000000.0 AS DOUBLE)")
    return agg.selectExpr("n_steps", "n_hits", f"{acc} AS acc_r")


def te_calibration(df: DataFrame, cat_col: str, y01, bins: int = 10,
                   smoothing: float = 20.0) -> DataFrame:
    """Reliability audit of the smoothed target encoding: bin rows by
    their category's encoded score and compare mean predicted vs
    observed rate per bin — the calibration check every encoded feature
    (and every model consuming it) gets before shipping.

    Exactness hinge: ``enc_r`` is already rounded to 6 decimals, so
    enc_micro = round(enc_r * 1e6) is an EXACT integer per category —
    the per-bin mean-predicted sum is integer arithmetic, not a float
    accumulation. Bins are RANGE-SCALED over the observed encoder span
    ((em - mn) * bins DIV (mx - mn + 1), exact integral math) — shrunk
    encoders cluster tightly, and absolute deciles would lump every
    category into one uninformative bin (observed on the brand
    fixture). Observed rates round via (2a+b) DIV 2b.

    Scale design: rows join the tiny broadcast encoder table; everything
    after is one combinable aggregation over ``bins`` groups. Returns
    (bin, n, mean_pred_r, rate_r) ordered by bin.
    """
    # persist the (tiny) encoder table: the span aggregate and the
    # broadcast row join both consume it, and each expansion re-ran
    # target_encode's full aggregation passes over df (guide §5)
    enc = tracked_persist(
        target_encode(df, cat_col, y01, smoothing=smoothing)
        .select("category",
                F.expr("CAST(round(enc_r * 1000000.0) AS BIGINT)")
                 .alias("_em")))
    span = enc.agg(F.min("_em").alias("_mn"), F.max("_em").alias("_mx"))
    rows = (df.select(F.col(cat_col).alias("category"),
                      y01.cast("long").alias("_y"))
              .join(F.broadcast(enc), "category")
              .crossJoin(F.broadcast(span)))
    binx = F.expr(
        f"((_em - _mn) * {int(bins)}L) DIV (_mx - _mn + 1L)")
    g = (rows.withColumn("bin", binx)
             .groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  # widen BEFORE summing: micros reach 1e6 per row, so a
                  # LONG sum overflows past ~9e12 rows per bin
                  F.sum(F.col("_em").cast("decimal(38,0)")).alias("_sp"),
                  F.sum(F.col("_y").cast("decimal(38,0)")).alias("_sy")))
    mean_pred = ("CAST(CAST((2 * _sp + n) DIV CAST(2 * n AS DECIMAL(38,0))"
                 " AS DOUBLE) / 1000000.0 AS DOUBLE)")
    rate = ("CAST(CAST((2 * _sy * 1000000 + n)"
            " DIV CAST(2 * n AS DECIMAL(38,0)) AS DOUBLE)"
            " / 1000000.0 AS DOUBLE)")
    return (g.selectExpr("bin", "n", f"{mean_pred} AS mean_pred_r",
                         f"{rate} AS rate_r")
             .orderBy("bin"))


def negative_sample(positives: DataFrame, items: DataFrame,
                    user_col: str, item_col: str, m: int = 4) -> DataFrame:
    """Deterministic hash-based negative sampling — the contrastive-pair
    generator behind recsys / embedding training data: each observed
    (user, item) positive is joined by ``m`` pseudo-random negatives
    drawn uniformly from the item catalog via md5 arithmetic, then
    filtered against the user's true positives (a sampled negative the
    user actually interacted with is dropped, the standard correction).

    Determinism: the j-th candidate for a positive is
    items[md5_hash60(user || '#' || item || '#' || j) % |items|] — both
    engines derive the identical draw, so the training set is
    reproducible row-for-row (and backfills don't silently reshuffle
    negatives).

    Scale design: the item index (id -> row_number) is a broadcast (item
    catalogs are small relative to interactions); the anti-join against
    true positives shuffles on (user, item) exactly like the positives
    themselves. Expected output ~ m * |positives| minus collisions.
    Returns (user, pos_item, j, neg_item).
    """
    idx = Window.orderBy(F.col("_it").asc())
    # persist both shared frames (guide §5): the item index is consumed
    # by the count scalar and the broadcast join (its global row_number
    # is the expensive single-partition step — run it once), and the
    # distinct positives feed the candidate build AND the truth
    # anti-join side
    cat = tracked_persist(
        items.select(F.col(item_col).alias("_it")).distinct()
             .withColumn("_row", F.row_number().over(idx) - 1))
    n_items = cat.agg(F.count(F.lit(1)).alias("_ni"))
    pos = tracked_persist(
        positives.select(F.col(user_col).alias("user"),
                         F.col(item_col).alias("pos_item")).distinct())
    cand = (pos.crossJoin(F.broadcast(n_items))
               .withColumn("j", F.explode(
                   F.array(*[F.lit(i) for i in range(m)])))
               .withColumn("_h", md5_hash60(F.concat_ws(
                   "#", F.col("user"), F.col("pos_item"), F.col("j"))))
               .withColumn("_row", F.col("_h") % F.col("_ni")))
    neg = (cand.join(F.broadcast(cat), "_row")
               .select("user", "pos_item", F.col("j").cast("long").alias("j"),
                       F.col("_it").alias("neg_item")))
    truth = pos.select("user", F.col("pos_item").alias("neg_item"))
    return (neg.join(truth, ["user", "neg_item"], "left_anti")
               .orderBy("user", "pos_item", "j"))


def auc_score(scored: DataFrame, score_long, y01) -> DataFrame:
    """ROC AUC of an integer score against a binary label via the exact
    Mann-Whitney rank-sum — the discrimination metric next to
    ``te_calibration``'s reliability view, and a pure-integer
    computation: with tie groups collapsed to distinct scores,
    2*avg_rank = lo + hi (both cumulative-count integers), so
    U2 = sum(npos_s * (lo_s + hi_s)) and
    AUC = (U2 - npos*(npos+1)) / (2*npos*nneg) — an integer ratio,
    rounded with the (2a+b) DIV 2b half-up identity. ZERO floating-point
    operations before the final division, so the engines cannot drift.

    Scale design: one combinable aggregation per distinct score, then a
    cumulative window over the |distinct scores| frame (B rows, not N —
    binned-KS argument; integer scores from quantized model outputs keep
    B small by construction). Returns one row
    (n_pos, n_neg, n_scores, auc_r).
    """
    s = scored.select(score_long.cast("long").alias("_s"),
                      y01.cast("long").alias("_y"))
    g = s.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_np"))
    w = Window.orderBy(F.col("_s").asc()) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = (g.withColumn("_hi", F.sum("_n").over(w).cast("decimal(38,0)"))
          .withColumn("_lo", (F.col("_hi")
                              - F.col("_n").cast("decimal(38,0)") + 1)))
    agg = g.agg(
        F.sum("_np").cast("decimal(38,0)").alias("_P"),
        F.sum(F.col("_n").cast("decimal(38,0)")
              - F.col("_np").cast("decimal(38,0)")).alias("_N"),
        F.count(F.lit(1)).alias("n_scores"),
        F.sum(F.col("_np").cast("decimal(38,0)")
              * (F.col("_lo") + F.col("_hi"))).alias("_U2"))
    auc = ("CAST(CAST((2 * (_U2 - _P * (_P + 1)) * 1000000"
           " + 2 * _P * _N) DIV (2 * (2 * _P * _N)) AS DOUBLE)"
           " / 1000000.0 AS DOUBLE)")
    return agg.selectExpr(
        "CAST(_P AS BIGINT) AS n_pos", "CAST(_N AS BIGINT) AS n_neg",
        "n_scores",
        f"CASE WHEN _P > 0 AND _N > 0 THEN {auc} END AS auc_r")


# 1e6/log2(i+1) rounded to integer micros, positions 1..10. A LITERAL
# table (not a runtime log2) so the Spark plan and the DuckDB oracle
# use bit-identical discounts — transcendentals never enter either
# engine, which is what keeps NDCG hash-comparable.
NDCG_DISCOUNT_MICRO = [1000000, 630930, 500000, 430677, 386853,
                       356207, 333333, 315465, 301030, 289065]


def ndcg_at_k(df: DataFrame, query_col: str, score, rel_int,
              tiebreak, k: int = 10) -> DataFrame:
    """Per-query NDCG@k of a system ranking (``score`` desc, ``tiebreak``
    asc totalizes ties) against graded integer relevance — the standard
    retrieval-eval metric next to the BM25/ANN operators, computed with
    ZERO transcendentals: gains are exact 2^rel−1 BIGINTs, discounts come
    from the literal integer-micro table above, so DCG/IDCG are exact
    integer sums and the only float op is the final single divide.

    Scale design: ONE hash exchange on the query key feeds both window
    sorts (system rank and ideal rank); everything after is a combinable
    per-query aggregation, so the operator is a groupBy-shaped pass over
    the run file — no self-join, no global sort. k ≤ 10 (the literal
    table's reach); extend the table to raise it.

    Returns one row per query: n_ranked (candidates seen), dcg_micro,
    idcg_micro (exact BIGINTs), ndcg_r (round 6, NULL when every graded
    candidate in the top-k ideal is irrelevant).
    """
    if not 1 <= k <= len(NDCG_DISCOUNT_MICRO):
        raise ValueError(f"k must be in 1..{len(NDCG_DISCOUNT_MICRO)}")
    w_tab = F.array(*[F.lit(w) for w in NDCG_DISCOUNT_MICRO[:k]])
    base = df.select(
        F.col(query_col).alias("query"),
        score.alias("_score"),
        rel_int.cast("long").alias("_rel"),
        tiebreak.alias("_tb"),
    ).withColumn("_gain", F.expr(
        "CAST(shiftleft(1, CAST(_rel AS INT)) AS BIGINT) - 1"))
    sys_w = Window.partitionBy("query").orderBy(
        F.col("_score").desc(), F.col("_tb").asc())
    ideal_w = Window.partitionBy("query").orderBy(
        F.col("_rel").desc(), F.col("_tb").asc())
    ranked = base.select(
        "query", "_gain",
        F.row_number().over(sys_w).alias("_r_sys"),
        F.row_number().over(ideal_w).alias("_r_ideal"))
    dcg = F.sum(F.when(F.col("_r_sys") <= k,
                       F.col("_gain")
                       * F.element_at(w_tab, F.col("_r_sys"))))
    idcg = F.sum(F.when(F.col("_r_ideal") <= k,
                        F.col("_gain")
                        * F.element_at(w_tab, F.col("_r_ideal"))))
    return (ranked.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.coalesce(dcg, F.lit(0)).alias("dcg_micro"),
        F.coalesce(idcg, F.lit(0)).alias("idcg_micro"))
        .select(
            "query", "n_ranked", "dcg_micro", "idcg_micro",
            F.round(F.when(
                F.col("idcg_micro") > 0,
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro").cast("double")), 6).alias("ndcg_r")))


def cohens_kappa(df: DataFrame, rater_a, rater_b) -> DataFrame:
    """Cohen's kappa agreement between two label columns — the
    inter-annotator metric a labeling pipeline runs before trusting a
    heuristic rater (or an LLM judge) against a reference rater, with
    chance agreement removed:

        po = Σ_k n_kk / N      pe = Σ_k rowmarg_k · colmarg_k / N²
        kappa = (po − pe) / (1 − pe)

    All counts (diagonal, margins, the margin cross product) accumulate
    as exact integers/DECIMAL(38,0); po, pe, and kappa are single IEEE
    ops over the exact values in a fixed order mirrored in the oracle.

    Scale design: the data is read ONCE — a single map-side-combinable
    aggregation reduces it to the |labels|² contingency table, and the
    diagonal, margins, and margin cross product all derive from that
    tiny frame (label cardinality is never data-sized). NULL labels on
    either side are dropped up front (agreement over the
    jointly-labeled subset — stated contract).

    Returns one row: n, po_r, pe_r, kappa_r (kappa NULL when pe = 1,
    i.e. both raters are constant and agreement is vacuous).
    """
    from ..cache import tracked_persist
    # persisted: the |labels|^2 frame feeds three derivations (observed
    # agreement, both margins); without the barrier each branch would
    # re-run the data-sized aggregation
    ct = tracked_persist(
        df.select(rater_a.alias("_a"), rater_b.alias("_b"))
          .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
          .groupBy("_a", "_b")
          .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")))
    obs = ct.agg(
        F.coalesce(F.sum("_c"), F.lit(0).cast("decimal(38,0)"))
         .cast("long").alias("n"),
        F.coalesce(F.sum(F.when(F.col("_a") == F.col("_b"),
                                F.col("_c"))),
                   F.lit(0).cast("decimal(38,0)"))
         .cast("long").alias("_diag"))
    ma = ct.groupBy(F.col("_a").alias("_lab")).agg(
        F.sum("_c").alias("_ra"))
    mb = ct.groupBy(F.col("_b").alias("_lab")).agg(
        F.sum("_c").alias("_rb"))
    cross = (ma.join(F.broadcast(mb), "_lab")
               .agg(F.coalesce(F.sum(F.col("_ra") * F.col("_rb")),
                               F.lit(0).cast("decimal(38,0)"))
                    .alias("_s")))
    n = F.col("n").cast("double")
    po = F.col("_diag").cast("double") / n
    pe = F.col("_s").cast("double") / (n * n)
    return (obs.crossJoin(F.broadcast(cross)).select(
        "n",
        F.round(po, 6).alias("po_r"),
        F.round(pe, 6).alias("pe_r"),
        F.round(F.when(pe < 1.0, (po - pe) / (1.0 - pe)), 6)
         .alias("kappa_r")))


# 1e6/i rounded half-even to integer micros, positions 1..10 — the MRR
# twin of NDCG_DISCOUNT_MICRO (literal, shared verbatim with the oracle).
MRR_RECIP_MICRO = [1000000, 500000, 333333, 250000, 200000,
                   166667, 142857, 125000, 111111, 100000]


def mrr_at_k(df: DataFrame, query_col: str, score, rel01,
             tiebreak, k: int = 10) -> DataFrame:
    """Per-query reciprocal rank of the FIRST relevant result within the
    top-k of a system ranking (``score`` desc, ``tiebreak`` asc) — the
    binary-relevance companion to ``ndcg_at_k``, sharing its contract:
    the reciprocal comes from the literal integer-micro table above, so
    the metric is exact integer data flow with no division at all.

    Scale design: one hash exchange on the query key, one window sort,
    one combinable aggregation — strictly cheaper than NDCG (no second
    window: binary relevance needs no ideal ranking).

    Returns (query, n_ranked, first_rel_rank — NULL when nothing
    relevant lands in the top-k, rr_micro — 0 in that case, hit).
    """
    if not 1 <= k <= len(MRR_RECIP_MICRO):
        raise ValueError(f"k must be in 1..{len(MRR_RECIP_MICRO)}")
    r_tab = F.array(*[F.lit(r) for r in MRR_RECIP_MICRO[:k]])
    base = df.select(
        F.col(query_col).alias("query"),
        score.alias("_score"),
        rel01.cast("int").alias("_rel"),
        tiebreak.alias("_tb"))
    w = Window.partitionBy("query").orderBy(
        F.col("_score").desc(), F.col("_tb").asc())
    ranked = base.withColumn("_r", F.row_number().over(w))
    first = F.min(F.when((F.col("_r") <= k) & (F.col("_rel") == 1),
                         F.col("_r")))
    return (ranked.groupBy("query")
                  .agg(F.count(F.lit(1)).alias("n_ranked"),
                       first.cast("long").alias("first_rel_rank"))
                  .select(
                      "query", "n_ranked", "first_rel_rank",
                      # NOT element_at(tab, NULL): on a foldable array
                      # literal Spark 4.1 resolves a NULL index to the
                      # LAST element instead of NULL (measured), so the
                      # no-hit case must short-circuit before indexing
                      F.when(F.col("first_rel_rank").isNotNull(),
                             F.element_at(r_tab, F.col("first_rel_rank")
                                          .cast("int")))
                       .otherwise(0).cast("long").alias("rr_micro"),
                      F.when(F.col("first_rel_rank").isNotNull(), 1)
                       .otherwise(0).alias("hit")))


# 1e6/(60+i) rounded to integer micros, positions 1..10 — the RRF
# constant k0=60 from the original reciprocal-rank-fusion formulation,
# as a literal table shared verbatim with the oracle.
RRF_SCORE_MICRO = [16393, 16129, 15873, 15625, 15385,
                   15152, 14925, 14706, 14493, 14286]


def rrf_fusion(df: DataFrame, query_col: str, item_col: str,
               score_a, score_b, tiebreak, k: int = 10,
               top_n: int = 3) -> DataFrame:
    """Reciprocal-rank fusion of two rankers over the same candidates —
    the standard hybrid-retrieval combiner (BM25 + embeddings, price +
    recency, …): each ranker contributes 1e6/(60 + rank) micros for its
    top-``k``, candidates are scored by the sum, and the fused top-
    ``top_n`` per query is returned. Scores come from the literal table
    above, so fusion is exact integer arithmetic end to end.

    Scale design: BOTH rank windows and the final fused-top-N window
    partition on the query key, so the single hash exchange is reused
    by all three sorts — no union, no join: a candidate's two ranks are
    computed on its own row. Ranker ties totalize on ``tiebreak``.

    Returns (query, item, rank_a, rank_b, rrf_micro, fused_rank) —
    rank_a/rank_b NULL when the candidate is outside that ranker's
    top-k (it can still win on the other ranker's contribution).
    """
    if not 1 <= k <= len(RRF_SCORE_MICRO):
        raise ValueError(f"k must be in 1..{len(RRF_SCORE_MICRO)}")
    tab = F.array(*[F.lit(x) for x in RRF_SCORE_MICRO[:k]])
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(item_col).alias("item"),
        score_a.alias("_sa"), score_b.alias("_sb"),
        tiebreak.alias("_tb"))
    wa = Window.partitionBy("query").orderBy(
        F.col("_sa").desc(), F.col("_tb").asc())
    wb = Window.partitionBy("query").orderBy(
        F.col("_sb").desc(), F.col("_tb").asc())
    ranked = (base.withColumn("_ra", F.row_number().over(wa))
                  .withColumn("_rb", F.row_number().over(wb)))
    contrib_a = F.when(F.col("_ra") <= k,
                       F.element_at(tab, F.col("_ra"))).otherwise(0)
    contrib_b = F.when(F.col("_rb") <= k,
                       F.element_at(tab, F.col("_rb"))).otherwise(0)
    fused = (ranked
             .withColumn("_s", (contrib_a + contrib_b).cast("long"))
             .filter(F.col("_s") > 0))
    wf = Window.partitionBy("query").orderBy(
        F.col("_s").desc(), F.col("_tb").asc())
    return (fused.withColumn("fused_rank", F.row_number().over(wf))
                 .filter(F.col("fused_rank") <= top_n)
                 .select(
                     "query", "item",
                     F.when(F.col("_ra") <= k, F.col("_ra"))
                      .cast("long").alias("rank_a"),
                     F.when(F.col("_rb") <= k, F.col("_rb"))
                      .cast("long").alias("rank_b"),
                     F.col("_s").alias("rrf_micro"),
                     F.col("fused_rank").cast("long").alias("fused_rank")))


def bcubed_eval(pred: DataFrame, truth: DataFrame,
                id_col: str = "doc_id",
                cluster_col: str = "cluster_id") -> DataFrame:
    """B-Cubed clustering evaluation (Bagga & Baldwin 1998; the Amigó
    et al. 2009 survey's recommended extrinsic metric): element-level
    precision/recall of a PREDICTED clustering against a TRUTH
    clustering — the standard scorecard for an entity-resolution or
    dedup pipeline (e.g. MinHash clusters vs exact-Jaccard clusters).

    Per element e: P(e) = |pred(e) ∩ truth(e)| / |pred(e)|, R(e) the
    same over |truth(e)|; scores are the element averages. Exactly:
    sum over (pred, truth) cluster intersections of n_pt²/n_p, which
    this computes in pinned integer space — the per-intersection
    square in DECIMAL(38,0) (n_pt² alone overflows int64 past ~3e9
    shared elements), the half-up division at MICRO scale (Spark's
    DIV returns a LONG whatever its operands, so the term must fit
    int64: micro terms are bounded by n_pt * 1e6, safe to 9e12-element
    intersections, and cost at most 0.5 ppm of defined rounding in the
    final mean), term sums re-widened to DECIMAL(38,0) BEFORE the sum
    (the 100M-element scale test caught the long-sum overflow), and
    the final mean and F1 as half-up ppm divisions. Both engines
    replay every rounding.

    Scale shape: ONE equi-join of the two (id, cluster) frames, then
    three map-side-combinable aggregations (intersections, pred sizes,
    truth sizes) and two broadcast-sized joins back onto the
    intersection frame (<= min(|pred clusters|, N) rows per side,
    stats-driven). No quadratic term: B³ never enumerates element
    PAIRS, exactly why it scales where pairwise Rand-style metrics
    don't. Returns ONE row: (n_elements, n_pred_clusters,
    n_truth_clusters, bcubed_precision_ppm, bcubed_recall_ppm,
    bcubed_f1_ppm).
    """
    def dh(a: str, b: str) -> str:
        # half-up integral division, operands non-negative
        return f"(2 * ({a}) + ({b})) DIV (2 * ({b}))"

    j = (pred.select(F.col(id_col).alias("_id"),
                     F.col(cluster_col).alias("_pc"))
         .join(truth.select(F.col(id_col).alias("_id"),
                            F.col(cluster_col).alias("_tc")), "_id"))
    pt = j.groupBy("_pc", "_tc").agg(F.count(F.lit(1)).alias("n_pt"))
    psz = pt.groupBy("_pc").agg(F.sum("n_pt").alias("n_p"))
    tsz = pt.groupBy("_tc").agg(F.sum("n_pt").alias("n_t"))
    terms = (pt.join(psz, "_pc").join(tsz, "_tc")
             .withColumn("_sq", (F.col("n_pt").cast("decimal(38,0)")
                                 * F.col("n_pt")) * F.lit(1_000_000))
             .withColumn("_pterm", F.expr(dh("_sq", "CAST(n_p AS DECIMAL(38,0))")))
             .withColumn("_rterm", F.expr(dh("_sq", "CAST(n_t AS DECIMAL(38,0))"))))
    agg = terms.agg(
        F.sum("n_pt").cast("decimal(38,0)").alias("_n"),
        F.countDistinct("_pc").cast("long").alias("n_pred_clusters"),
        F.countDistinct("_tc").cast("long").alias("n_truth_clusters"),
        F.sum(F.col("_pterm").cast("decimal(38,0)")).alias("_ps"),
        F.sum(F.col("_rterm").cast("decimal(38,0)")).alias("_rs"))
    scored = (agg
              .withColumn("bcubed_precision_ppm", F.expr(
                  f"CAST({dh('_ps', '_n')} AS BIGINT)"))
              .withColumn("bcubed_recall_ppm", F.expr(
                  f"CAST({dh('_rs', '_n')} AS BIGINT)")))
    f1 = F.expr(
        "CASE WHEN bcubed_precision_ppm + bcubed_recall_ppm = 0 THEN 0 "
        "ELSE (2 * (2 * bcubed_precision_ppm * bcubed_recall_ppm) "
        "+ (bcubed_precision_ppm + bcubed_recall_ppm)) "
        "DIV (2 * (bcubed_precision_ppm + bcubed_recall_ppm)) END")
    return scored.select(
        F.col("_n").cast("long").alias("n_elements"),
        "n_pred_clusters", "n_truth_clusters",
        "bcubed_precision_ppm", "bcubed_recall_ppm",
        f1.cast("long").alias("bcubed_f1_ppm"))
