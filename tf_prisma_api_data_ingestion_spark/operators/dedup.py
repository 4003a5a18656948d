"""Deduplication operators for training-data pipelines (north-star
extensions, SURVEY.md §7.5): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design notes (the point of this module):
- Exact dedup is a hash-groupBy — one shuffle on the content hash, partial
  aggregation map-side.
- Exact pairwise Jaccard uses the inverted-index trick (explode shingles,
  self-join on shingle, count co-occurrences) instead of an O(n^2) cross
  join; hot shingles are capped by document frequency so no single key
  explodes the shuffle (the classic skew guard).
- MinHash+LSH banding turns near-dup search into one equality join on
  (band index, band key); candidate pairs are then verified with true
  Jaccard. Signatures use the universal-hash family over md5-derived
  shingle hashes under ``transform``/``array_min`` — all JVM-side, no
  UDFs, and every value replayable in the DuckDB oracle.
- SimHash folds md5 token hashes into a 64-bit signature (two 32-bit
  halves), then pigeonhole-bands 16-bit chunks for Hamming<=k search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..parallel import fan_out
from .text import normalized, normalized_tokens, tokens


# ---------------------------------------------------------------- exact ---

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per distinct text.

    Returns (doc_id, dup_count). md5 over the raw text is the group key so
    the shuffle key is 128 bits regardless of document size.
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("_h"))
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("dup_count"))
              .select(id_col, "dup_count"))


# ------------------------------------------------------------- shingles ---

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram set of the normalized text (space-joined).

    Documents shorter than n tokens contribute their full token string as
    a single shingle so they still participate.

    Formulated as n shifted slices + arrays_zip + a lambda that touches
    ONLY its own variable: referencing the token array inside the lambda
    (the naive sequence/slice formulation) makes Catalyst re-evaluate the
    whole tokenize-regex expression per element — measured 3.5x slower on
    the documents corpus.
    """
    t = normalized_tokens(col)
    k = F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
    parts = [F.slice(t, i + 1, k) for i in range(n)]
    grams = F.transform(F.arrays_zip(*parts),
                        lambda x: F.concat_ws(" ", *[x[str(i)] for i in range(n)]))
    return F.array_distinct(grams)


def _pair_jaccard(shingled: DataFrame, max_df: int | None, id_col: str) -> DataFrame:
    """Inverted-index exact Jaccard over (id, shingles set) rows.

    Emits (doc_a, doc_b, jaccard) for every pair sharing >=1 surviving
    shingle. Shingles in more than ``max_df`` docs are dropped from the
    index (skew guard). Set sizes still use the full set, so the jaccard
    is exact when no shingle shared by a pair was dropped, and a *lower
    bound* otherwise (dropped shingles reduce the counted intersection);
    pass ``max_df=None`` for exact (uncapped) results on small corpora.

    Scale note: only the tiny *hot* shingle set (df > max_df — by
    construction at most corpus_size/max_df rows) is broadcast for a
    left-anti join; the surviving index, which is nearly the whole corpus,
    never moves to the driver.

    Formulation note (measured, round 3): replacing the two-sided
    self-join with groupBy(_sk).collect_list + in-array pair generation
    (one shuffle instead of two) saved only ~10% at sf0.1 — both shapes
    concentrate a hot shingle's pairs identically, and the join is the
    simpler plan — so the self-join stays.
    """
    sized = shingled.select(F.col(id_col).alias("_id"), F.col("shingles"),
                            F.size("shingles").alias("_m"))
    # join on the 64-bit shingle hash, not the string: an 8-byte shuffle key
    # instead of a ~50-byte one. xxhash64 collisions would merge two distinct
    # shingles (inflating _inter by at most 1); negligible below ~2^32
    # distinct shingles — at larger corpora re-verify survivors exactly
    # over the string shingle sets, as minhash_lsh_pairs_md5 does.
    # persist (MEMORY_AND_DISK) the raw index: 24 B per shingle occurrence
    # — corpus-scale but flat, disk-backed when large. It feeds the
    # df-count pass AND (via the anti-join) both sides of the self-join,
    # so the shingling regex pipeline runs exactly ONCE over the corpus.
    inv = tracked_persist(
        sized.select("_id", "_m", F.explode("shingles").alias("_s"))
             .select("_id", "_m", F.xxhash64("_s").alias("_sk")))
    # document-frequency cap: drop shingles present in too many docs.
    # max_df=None (exact mode: no cap) skips the df-count pass and the
    # anti-join entirely — no point paying an extra aggregation over the
    # postings just to subtract a provably empty set.
    if max_df is not None:
        df_counts = inv.groupBy("_sk").agg(F.count("*").alias("_df"))
        hot = df_counts.filter(F.col("_df") > max_df).select("_sk")
        inv = inv.join(F.broadcast(hot), "_sk", "left_anti")
    a = inv.select(F.col("_id").alias("doc_a"), F.col("_m").alias("_ma"), "_sk")
    b = inv.select(F.col("_id").alias("doc_b"), F.col("_m").alias("_mb"), "_sk")
    inter = (a.join(b, "_sk")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b", "_ma", "_mb")
              .agg(F.count("*").alias("_inter")))
    return inter.select(
        "doc_a", "doc_b",
        (F.col("_inter") / (F.col("_ma") + F.col("_mb") - F.col("_inter"))).alias("jaccard"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.2,
                        max_df: int | None = 1000) -> DataFrame:
    """N-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard_r) with
    jaccard >= threshold, rounded to 4 for output. Exact when
    ``max_df=None`` (or when no shingle's document frequency exceeds it
    — see ``_pair_jaccard``); otherwise a candidate filter whose jaccard
    is a lower bound."""
    df = fan_out(df)  # shingling is CPU-bound; don't let a 1-split scan serialize it
    shingled = df.select(F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles"))
    pairs = _pair_jaccard(shingled, max_df, id_col)
    return (pairs.filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard_r")))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            t_num: int = 4, t_den: int = 5,
                            max_df: int | None = 1000) -> DataFrame:
    """Overlap-coefficient near-dup pairs: |A∩B| / min(|A|, |B|) >=
    t_num/t_den over word n-gram sets. The CONTAINMENT companion to
    Jaccard dedup: a short document quoted or embedded inside a long one
    scores near 1 here while its Jaccard stays low — the
    doc-within-doc / boilerplate-inclusion case Jaccard-threshold dedup
    structurally misses.

    Same single-shuffle inverted-index plan as ``ngram_jaccard_pairs``
    (shared ``_pair_jaccard``-style index, df-capped hot shingles); the
    threshold compare is pure integer (``t_den*i >= t_num*min(ma,mb)``)
    so the boundary is exact in both engines. With ``max_df`` set the
    coefficient is a lower bound exactly as documented for the Jaccard
    twin.
    """
    df = fan_out(df)
    shingled = df.select(F.col(id_col),
                         word_shingles(F.col(text_col), n).alias("shingles"))
    sized = shingled.select(F.col(id_col).alias("_id"), F.col("shingles"),
                            F.size("shingles").alias("_m"))
    inv = tracked_persist(
        sized.select("_id", "_m", F.explode("shingles").alias("_s"))
             .select("_id", "_m", F.xxhash64("_s").alias("_sk")))
    if max_df is not None:
        hot = (inv.groupBy("_sk").agg(F.count("*").alias("_df"))
                  .filter(F.col("_df") > max_df).select("_sk"))
        inv = inv.join(F.broadcast(hot), "_sk", "left_anti")
    a = inv.select(F.col("_id").alias("doc_a"), F.col("_m").alias("_ma"), "_sk")
    b = inv.select(F.col("_id").alias("doc_b"), F.col("_m").alias("_mb"), "_sk")
    inter = (a.join(b, "_sk")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b", "_ma", "_mb")
              .agg(F.count("*").alias("_i")))
    mn = F.least(F.col("_ma"), F.col("_mb"))
    return (inter.filter(F.lit(t_den) * F.col("_i") >= F.lit(t_num) * mn)
                 .select("doc_a", "doc_b",
                         F.round(F.col("_i") / mn, 4).alias("containment_r")))


def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                t_num: int = 3, t_den: int = 5,
                                hashed: bool = False,
                                verify_broadcast: bool = False) -> DataFrame:
    """Exact Jaccard pairs at threshold ``t_num/t_den`` via PREFIX
    FILTERING (Bayardo et al., WWW'07 / SSJoin): instead of indexing
    every shingle, each document indexes only its first
    ``|s| - ceil(t*|s|) + 1`` shingles under a global canonical order
    (document frequency ascending, then shingle — rarest first). The
    pigeonhole guarantee: two sets with J >= t overlap in >= ceil(t*|s|)
    elements, so skipping either prefix leaves too few slots — every
    qualifying pair MUST collide on a prefix entry. Candidates are then
    verified exactly from the full shingle arrays.

    This is LOSSLESS (the oracle is the exhaustive full-index join, and
    it matches), yet the self-joined index shrinks by ~t and — the real
    scale win — the rarest-first ordering puts only LOW-df shingles in
    prefixes, so the quadratic per-posting-list term collapses: hot
    shingles never enter the index at all, making the df-cap skew guard
    unnecessary for this formulation.

    The required-overlap arithmetic is pure integer
    (``ceil(t*|s|) = (t_num*|s| + t_den - 1) // t_den``) — no float
    boundary can silently shorten a prefix differently per engine.
    One extra aggregation (global df) + one per-doc rank window versus
    ``ngram_jaccard_pairs``; the verify join moves only candidate rows.

    ``hashed=True`` (r7) runs the identical algorithm over xxhash64
    longs instead of shingle strings — same pair set modulo 64-bit hash
    collisions (negligible; any collision would fail the paired
    exhaustive oracle) at ~6x fewer shuffle/verify bytes. The audits'
    truth sides use it; the oracle-exact string form stays the default
    (its own catalog key differential-checks jaccard_r values). The
    r7 SSJoin size filter also applies in both forms: J >= t implies
    min(ma,mb) >= t*max(ma,mb), so cross-length candidates die in the
    prefix join itself (t_den*min >= t_num*max, pure integer).

    ``verify_broadcast=True`` (r8) attacks where the wall ACTUALLY is at
    the audit's top decade. Stage-timed at 500k docs: the candidate
    self-join is 4s and its distinct 38s, but the VERIFY join was 447s
    of a 488s truth side — at t = 1/5 the prefix is ~0.8|s| long, so
    candidates outnumber true pairs ~3000:1 (76.6M candidates for
    25,600 pairs) and a shuffle-join verify ships BOTH full shingle
    arrays per candidate row: ~64 GB through one scratch disk — the
    r7 "spill cliff" was array freight in the verify, not the
    candidate join (two candidate-join sharding designs measured a
    wash/worse before stage timing found this). The broadcast form
    hash-builds the (id -> shingles) map once (~8 bytes x Σ|s|: 250 MB
    at 500k docs) and streams the candidate pairs through it — zero
    array shuffle. The flag is a SIZE-GATED dial, not a default: the
    map grows linearly with the corpus (≈0.5 GB/M docs here), so
    callers flip it only under a measured corpus bound (the audits use
    docs <= 2M); past that, keep the shuffle join (linear, spreads
    across a cluster's disks) or sample (the production audit).
    """
    from pyspark.sql.window import Window

    sh = (fan_out(df)
          .select(F.col(id_col).alias("_id"),
                  word_shingles(F.col(text_col), n).alias("_sh")))
    if hashed:
        sh = sh.withColumn(
            "_sh", F.array_distinct(F.transform(
                "_sh", lambda s: F.xxhash64(s))))
    sh = tracked_persist(sh.withColumn("_m", F.size("_sh")))
    inv = sh.select("_id", "_m", F.explode("_sh").alias("_s"))
    dfreq = inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # required overlap req = ceil(t*m); prefix keeps m - req + 1 entries
    req = (F.lit(t_num) * F.col("_m") + F.lit(t_den - 1)) / F.lit(t_den)
    plen = F.col("_m") - F.floor(req).cast("long") + 1
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(),
                                          F.col("_s").asc())
    # persist: both sides of the candidate self-join read `prefix`, and
    # without the barrier the df-count + rank window run twice (the r14
    # before-plan shows the window subtree duplicated)
    prefix = tracked_persist(
        inv.join(dfreq, "_s")
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= plen)
           .select("_id", "_m", "_s"))
    size_ok = ((F.lit(t_den) * F.least(F.col("_pma"), F.col("_pmb"))
                >= F.lit(t_num) * F.greatest(F.col("_pma"),
                                             F.col("_pmb"))))
    a = sh.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sa"),
                  F.col("_m").alias("_ma"))
    b = sh.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_sb"),
                  F.col("_m").alias("_mb"))

    cand = (prefix.select(F.col("_id").alias("doc_a"),
                          F.col("_m").alias("_pma"), "_s")
            .join(prefix.select(F.col("_id").alias("doc_b"),
                                F.col("_m").alias("_pmb"), "_s"), "_s")
            .filter((F.col("doc_a") < F.col("doc_b")) & size_ok)
            .select("doc_a", "doc_b").distinct())
    if verify_broadcast:
        a, b = F.broadcast(a), F.broadcast(b)
    ver = (cand.join(a, "doc_a").join(b, "doc_b")
           .withColumn("_i", F.size(F.array_intersect("_sa", "_sb"))))
    # integer threshold compare: t_den*i >= t_num*(ma+mb-i) — exact at
    # the boundary in both engines, no float epsilon
    keep = ver.filter(F.lit(t_den) * F.col("_i")
                      >= F.lit(t_num) * (F.col("_ma") + F.col("_mb")
                                         - F.col("_i")))
    return keep.select(
        "doc_a", "doc_b",
        F.round(F.col("_i") / (F.col("_ma") + F.col("_mb") - F.col("_i")),
                4).alias("jaccard_r"))


def incremental_jaccard_pairs(new_df: DataFrame, index_df: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              n: int = 3, threshold: float = 0.2,
                              max_df: int | None = 1000) -> DataFrame:
    """Incremental near-dup check: Jaccard pairs of NEW documents against
    an EXISTING corpus index only — the production shape for a growing
    corpus, where each ingest batch is deduped against everything already
    accepted without ever re-pairing the existing corpus with itself.

    Returns (new_id, index_id, jaccard) for every cross pair sharing a
    surviving shingle with jaccard >= threshold. The document-frequency
    cap is computed over the INDEX side (the stable, corpus-scale
    statistic) and hot shingles are dropped from both sides, mirroring
    ``_pair_jaccard``'s skew guard.

    Scale shape: cost is O(|batch| x avg postings). The index side's
    postings are semi-joined down to the batch's (broadcast) distinct
    shingle-key set BEFORE anything aggregates — including the
    document-frequency statistic, which is identical restricted to
    batch-shared shingles because a shingle's index-side df does not
    depend on the batch, and shingles the batch never mentions cannot
    form pairs — so every shuffle after the one linear index pass is
    bounded by batch hits, not corpus size (r14; the exact path's
    ``_incremental_provenance_rollup`` shape). The index never
    self-joins. At 100 TB the remaining corpus-sized work is that one
    linear re-shingling pass; ``shingle_inventory`` +
    ``incremental_jaccard_pairs_from_inventory`` replace it with a
    persisted-postings scan, the production daily-ingest shape.
    """
    new_df, index_df = fan_out(new_df), fan_out(index_df)
    sh_idx = index_df.select(F.col(id_col).alias("index_id"),
                             word_shingles(F.col(text_col), n).alias("sh"))
    inv_idx = (sh_idx.select("index_id", F.size("sh").alias("_mi"),
                             F.explode("sh").alias("_s"))
                     .select("index_id", "_mi",
                             F.xxhash64("_s").alias("_sk")))
    inv_new = _new_side_postings(new_df, text_col, id_col, n)
    return _incremental_pairs_tail(inv_new, inv_idx, threshold, max_df)


def _new_side_postings(new_df: DataFrame, text_col: str, id_col: str,
                       n: int) -> DataFrame:
    """The landing batch's (new_id, set size, shingle key) postings —
    shared head of the direct and inventory-fed incremental pair
    pipelines."""
    sh_new = new_df.select(F.col(id_col).alias("new_id"),
                           word_shingles(F.col(text_col), n).alias("sh"))
    return (sh_new.select("new_id", F.size("sh").alias("_mn"),
                          F.explode("sh").alias("_s"))
                  .select("new_id", "_mn", F.xxhash64("_s").alias("_sk")))


def _incremental_pairs_tail(inv_new: DataFrame, inv_idx: DataFrame,
                            threshold: float, max_df: int | None,
                            broadcast_batch: bool = True) -> DataFrame:
    """Shared tail of the incremental pair pipelines: batch postings +
    index postings -> verified (new_id, index_id, jaccard_r) pairs.
    The index is semi-joined to the batch's distinct shingle keys
    first, so the df cap and the pair join both run over the
    batch-hit-sized frame; the hit frame is localCheckpointed because
    it has two consumers with different pruning (the df statistic and
    the pair join) and would otherwise re-scan its lineage per
    consumer."""
    inv_new = tracked_persist(inv_new)
    bkeys = inv_new.select("_sk").distinct()
    if broadcast_batch:
        bkeys = F.broadcast(bkeys)
    hits = (inv_idx.join(bkeys, "_sk", "left_semi")
                   .localCheckpoint(eager=False))
    inv_idx_cold = hits
    if max_df is not None:
        hot = (hits.groupBy("_sk").agg(F.count("*").alias("_df"))
                   .filter(F.col("_df") > max_df).select("_sk"))
        inv_idx_cold = hits.join(F.broadcast(hot), "_sk", "left_anti")
        inv_new = inv_new.join(F.broadcast(hot), "_sk", "left_anti")
    inter = (inv_new.join(inv_idx_cold, "_sk")
                    .groupBy("new_id", "index_id", "_mn", "_mi")
                    .agg(F.count("*").alias("_i")))
    jac = F.col("_i") / (F.col("_mn") + F.col("_mi") - F.col("_i"))
    return (inter.filter(jac >= threshold)
                 .select("new_id", "index_id",
                         F.round(jac, 4).alias("jaccard_r")))


def shingle_inventory(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      source_col: str = "source",
                      n: int = 3) -> DataFrame:
    """The maintained corpus-side artifact for incremental NEAR-dup
    checks: the per-(doc, shingle) inverted-postings fact stream —
    (doc_id, source, m_shingles, shingle_xx, shingle_n), one row per
    distinct word n-gram of each document, carrying the document's
    set size so Jaccard needs no second corpus pass. At 100 TB this
    is a persisted table a daily job APPENDS to — rows are per-doc
    facts, so accepting a batch is exactly appending the batch's own
    inventory (inventory(A ∪ B) = inventory(A) ∪ inventory(B) for
    disjoint doc sets; pinned by test, the ``passage_inventory``
    contract) — and ``incremental_jaccard_pairs_from_inventory`` /
    ``near_dup_provenance_incremental_from_inventory`` consume it
    WITHOUT re-shingling the corpus, closing the rebuilt-per-call
    caveat measured at 10.7x wall per 100x corpus (SCALING r13 §5).
    The shingle width is recorded as a constant ``shingle_n`` column
    so consumers detect a mismatched artifact instead of silently
    computing an empty pair set (the window/stride contract)."""
    sh = fan_out(df).select(F.col(id_col).alias("doc_id"),
                            F.col(source_col).alias("source"),
                            word_shingles(F.col(text_col), n).alias("sh"))
    return (sh.select("doc_id", "source",
                      F.size("sh").alias("m_shingles"),
                      F.explode("sh").alias("_s"))
              .select("doc_id", "source", "m_shingles",
                      F.xxhash64("_s").alias("shingle_xx"),
                      F.lit(n).cast("int").alias("shingle_n")))


def incremental_jaccard_pairs_from_inventory(
        new_df: DataFrame, inventory: DataFrame,
        text_col: str = "text", id_col: str = "doc_id",
        n: int = 3, threshold: float = 0.2,
        max_df: int | None = 1000,
        broadcast_batch: bool = True) -> DataFrame:
    """``incremental_jaccard_pairs`` consuming a PERSISTED
    ``shingle_inventory`` table instead of re-shingling the corpus —
    the daily-ingest production shape: the corpus-sized linear pass
    happens once at accept time (append-only inventory), and each
    landing batch's check is the inventory scan plus batch-bounded
    joins. Bit-identical to the direct form on the same corpus
    (pinned by test). The inventory's recorded ``shingle_n`` must
    match the caller's ``n`` (checked; a mismatch raises instead of
    silently yielding an empty pair set)."""
    _check_inventory_dials(inventory, {"shingle_n": n})
    inv_idx = inventory.select(F.col("doc_id").alias("index_id"),
                               F.col("m_shingles").alias("_mi"),
                               F.col("shingle_xx").alias("_sk"))
    inv_new = _new_side_postings(fan_out(new_df), text_col, id_col, n)
    return _incremental_pairs_tail(inv_new, inv_idx, threshold, max_df,
                                   broadcast_batch)


# -------------------------------------------------------------- minhash ---

def auto_bands(num_hashes: int, threshold: float) -> int:
    """S-curve-derived LSH banding: the number of bands b (with r =
    num_hashes/b rows each) whose collision crossover t* = (1/b)^(1/r)
    is the LARGEST value still <= ``threshold`` — i.e. the cheapest
    banding at which a pair sitting exactly AT the dedup threshold still
    collides with >= ~50% probability (recall-safe by construction; a
    t* above the threshold puts threshold-grade pairs on the S-curve's
    miss tail). Falls back to b = num_hashes (r=1, maximum recall) for
    thresholds below every crossover.

    The companion dial to similarity.auto_planes: num_hashes stays FIXED
    (so md5-seeded signatures replay unchanged in the SQL oracle — only
    the band grouping width changes), and the choice is a pure function
    of (num_hashes, threshold), so both engines and every rerun derive
    the same banding. Cost note, measured on the synthetic corpus
    (threshold 0.2 -> b=32, r=2, t*=0.177 vs the old hand-set 16x4's
    t*=0.5): candidate volume rises ~15x but stays LINEAR in corpus size
    across the sf0.1 -> sf1eq decade (3.9k -> 42k candidates), because
    random-pair jaccard is far below t* — the r-row band key keeps
    noise-pair collision probability ~s^r per band. Recall on corpora
    whose true pairs sit well above the threshold is unchanged (1.0
    measured both bandings, both scales); the dial exists for the
    corpora where they DON'T — threshold-grade pairs a t*=0.5 banding
    silently drops (the S-curve tail the recall audit makes visible).
    """
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        t_star = (1.0 / b) ** (1.0 / r)
        if t_star <= threshold and (best is None or t_star > best[1]):
            best = (b, t_star)
    return best[0] if best is not None else num_hashes


def _resolve_bands(bands: int | str, num_hashes: int,
                   threshold: float) -> int:
    """The band count every MinHash entry point uses: ``"auto"`` through
    ``auto_bands``, else an explicit int that must divide ``num_hashes``
    — a non-divisor would silently drop the trailing hashes (the
    oracles' ``i // r`` grouping keeps them), and ``bands >
    num_hashes`` would make every band key empty, so every doc pair a
    candidate."""
    if bands == "auto":
        return auto_bands(num_hashes, threshold)
    b = int(bands)
    if b < 1 or num_hashes % b:
        raise ValueError(f"bands={bands!r} must be a divisor of "
                         f"num_hashes={num_hashes} in 1..{num_hashes}")
    return b


# ------------------------------------------------------------- clusters ---

def dedup_clusters(pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id",
                   max_iter: int = 50) -> DataFrame:
    """Connected components over near-dup pairs: every id gets the MIN id
    reachable through the pair graph as its ``cluster_id`` (singletons are
    their own cluster). This is the step that turns pairwise near-dup
    output into a keep-one-per-cluster dedup decision.

    Min-label propagation: each round, every node takes the min label
    among itself and its neighbors; converges in graph-diameter rounds
    (near-dup clusters are shallow — dup groups are near-cliques, so a
    handful of rounds). Each round is ONE Spark job: the neighbor-min
    join/groupBy carries a per-node changed flag, a lazy
    ``localCheckpoint`` truncates lineage, and the convergence sum is the
    action that materializes it — no separate old-vs-new compare join and
    no second pass (the previous formulation paid a full shuffle join
    per round just to count changes). At extreme scale, the
    large-star/small-star formulation (same join/groupBy primitives,
    O(log n) rounds instead of O(diameter)) is the drop-in upgrade.

    ``pairs``: (doc_a, doc_b) edges; ``ids``: one row per id (defines the
    node set, so isolated docs appear in the output). Only
    edge-participating nodes iterate — singletons (the overwhelming
    majority of a deduped corpus) are attached once at the end, so label
    state and per-round shuffles are sized by the near-dup population,
    not the corpus.
    """
    # coalesce before checkpoint: localCheckpoint freezes the physical
    # partitioning OUTSIDE AQE, so without it the edge RDD inherits the
    # full initialPartitionNum-wide shuffle (1024 near-empty partitions
    # re-scheduled every round). Edge sets are near-dup-population-sized
    # -- parallelism-many partitions is plenty.
    par = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .distinct().coalesce(par).localCheckpoint())
    # iterate over EDGE-PARTICIPATING nodes only: a node with no edge can
    # never change its label, so carrying it through K rounds of
    # join/checkpoint/convergence-sum is pure waste. At 100 TB this is
    # the difference between label state sized by the (small) near-dup
    # population and by the whole corpus — singletons rejoin once at the
    # end via the same left-join+coalesce the star variant uses.
    labels = (edges.select(F.col("src").alias("n")).distinct()
              .withColumn("lbl", F.col("n")))
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels, edges.src == labels.n)
                        .groupBy("dst").agg(F.min("lbl").alias("nlbl")))
        # labels only ever decrease, so "< old" IS the changed flag —
        # computed in the same pass that produces the new labels
        new_labels = (labels.join(neighbor_min, labels.n == neighbor_min.dst, "left")
                      .select(F.col("n"), F.col("lbl").alias("_old"),
                              F.least(F.col("lbl"),
                                      F.coalesce(F.col("nlbl"), F.col("lbl")))
                               .alias("lbl"))
                      .select("n", "lbl",
                              (F.col("lbl") < F.col("_old")).cast("long")
                               .alias("_chg"))
                      .coalesce(par).localCheckpoint(eager=False))
        changed = new_labels.agg(F.sum("_chg")).first()[0]
        labels = new_labels.select("n", "lbl")
        if not changed:
            break
    return (ids.select(F.col(id_col).alias("n"))
            .join(labels, "n", "left")
            .select(F.col("n").alias(id_col),
                    F.coalesce("lbl", F.col("n")).alias("cluster_id")))


def dedup_clusters_star(pairs: DataFrame, ids: DataFrame,
                        id_col: str = "doc_id",
                        max_iter: int = 25) -> DataFrame:
    """Connected components via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the O(log n)-round formulation that replaces min-label propagation's
    O(diameter) rounds. Same output contract as ``dedup_clusters``:
    (id_col, cluster_id = min reachable id), singletons included.

    Each round is two groupBy+join passes over the EDGE list only (no
    node-labels relation), and the edge list provably shrinks toward one
    star per component centered at its minimum node. Near-dup graphs are
    shallow, so propagation usually wins on constants; this is the shape
    that survives adversarial topology (long chains — e.g. content drift
    across thousands of near-identical snapshots) where propagation needs
    diameter rounds: a 400-node chain converges here in ~6 rounds vs 400.

    Convergence is detected with ONE action per round (count + decimal
    hash-sum of the canonical edge set).
    """
    # canonical (hi, lo) edge list
    par = pairs.sparkSession.sparkContext.defaultParallelism
    e = (pairs.select(F.greatest("doc_a", "doc_b").alias("a"),
                      F.least("doc_a", "doc_b").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct().coalesce(par).localCheckpoint())

    def signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h")).first()
        return (row["n"], row["h"])

    sig = signature(e)
    for _ in range(max_iter):
        # large-star: from every node u, neighbors v > u re-attach to
        # m(u) = min(N(u) ∪ {u})
        sym = e.select("a", "b").unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (sym.groupBy("a").agg(F.min("b").alias("_mv"))
             .select("a", F.least("_mv", F.col("a")).alias("m")))
        ls = (sym.join(m, "a")
              .filter(F.col("b") > F.col("a"))
              .select(F.col("b").alias("a"), F.col("m").alias("b")))
        # small-star: orient (hi, lo); every lo-neighbor and u itself
        # attach to m(u)
        d = (ls.select(F.greatest("a", "b").alias("a"),
                       F.least("a", "b").alias("b"))
             .filter(F.col("a") != F.col("b")).distinct())
        m2 = (d.groupBy("a").agg(F.min("b").alias("_mv"))
              .select("a", F.least("_mv", F.col("a")).alias("m")))
        joined = d.join(m2, "a")
        e = (joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
             .unionByName(m2.select("a", F.col("m").alias("b")))
             .select(F.greatest("a", "b").alias("a"),
                     F.least("a", "b").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct().coalesce(par).localCheckpoint())
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    # converged: e is one star per component, (member, component_min)
    labels = ids.select(F.col(id_col).alias("n"))
    stars = e.select(F.col("a").alias("n"), F.col("b").alias("cluster_id"))
    return (labels.join(stars, "n", "left")
            .select(F.col("n").alias(id_col),
                    F.coalesce("cluster_id", F.col("n")).alias("cluster_id")))


def dedup_clusters_auto(pairs: DataFrame, ids: DataFrame,
                        id_col: str = "doc_id",
                        star_threshold: int = 100_000) -> DataFrame:
    """Connected components with automatic algorithm selection: min-label
    propagation (``dedup_clusters``) for small edge sets — it converges
    in a handful of cheap rounds on the shallow graphs typical after
    exact dedup — and large-star/small-star (``dedup_clusters_star``,
    O(log n) bounded rounds) once the edge count passes
    ``star_threshold``, where propagation's one-job-per-round driver loop
    dominated wall clock (tens of sequential minutes measured at sf10).

    The edge list is canonicalized and localCheckpoint'ed ONCE here, so
    the selection count and both algorithms reuse the materialized
    edges instead of recomputing the (expensive) upstream pair
    machinery. Output contract identical to both variants:
    (id_col, cluster_id = min reachable id), singletons included.
    """
    par = pairs.sparkSession.sparkContext.defaultParallelism
    e = (pairs.select(F.greatest("doc_a", "doc_b").alias("doc_a"),
                      F.least("doc_a", "doc_b").alias("doc_b"))
         .filter(F.col("doc_a") != F.col("doc_b"))
         .distinct().coalesce(par).localCheckpoint())
    fn = dedup_clusters_star if e.count() >= star_threshold else dedup_clusters
    return fn(e, ids, id_col)


def dedup_keep_list(pairs: DataFrame, ids: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """One kept id per near-dup cluster (the min id — deterministic)."""
    clusters = dedup_clusters(pairs, ids, id_col)
    return (clusters.groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .select(F.col("cluster_id").alias(id_col), "cluster_size"))


def dedup_keep_best(pairs: DataFrame, scored: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "quality_score") -> DataFrame:
    """One kept id per near-dup cluster — the HIGHEST-``score_col``
    member (ties -> min id), instead of ``dedup_keep_list``'s min-id
    rule. This is what production corpus dedup actually wants: when five
    near-identical documents survive, keep the best-written one, not the
    one that happened to be crawled first.

    ``scored``: (id_col, score_col) one row per doc — the node set AND
    the ranking signal. Composition: connected components (singleton-
    excluded iteration) -> join scores back -> rank<=1 per cluster, which
    Spark executes with the same partial WindowGroupLimit pushdown as
    top-k-per-group, so the representative election shuffles ~|clusters|
    rows. Returns (id_col, cluster_id, cluster_size, score_col).
    """
    from pyspark.sql.window import Window

    clusters = dedup_clusters(pairs, scored.select(id_col), id_col)
    member = clusters.join(scored, id_col)
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
    sized = member.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    return (sized.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, "cluster_id", "cluster_size", score_col))


# ---------------------------------------------------- embedding near-dup ---

def dot(u: Column, v: Column) -> Column:
    """JVM-side dot product of two array<double> columns (zip_with +
    sequential aggregate — deterministic double accumulation)."""
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def as_double_vec(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def norm2(a: Column) -> Column:
    """Euclidean norm of an array<double> column."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed
    JVM-side. Convenience form that recomputes both norms per call — for
    pairwise scans, precompute a per-vector norm column once and divide a
    plain dot() by it instead (3x less work; see
    embedding_near_dup_pairs / similarity.brute_force_topk)."""
    ad, bd = as_double_vec(a), as_double_vec(b)
    return dot(ad, bd) / (norm2(ad) * norm2(bd))


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id", block_col: str | None = "label",
                             threshold: float = 0.9,
                             max_block_size: int | None = None) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine >= threshold.

    Blocked on ``block_col`` when given: exact within blocks (the block
    key is a pre-existing coarse quantizer — label, cluster id, shard).
    This path is deliberately QUADRATIC WITHIN EACH BLOCK — it is the
    exact baseline, safe only while blocks stay small. Pass
    ``max_block_size`` to make that assumption explicit: a lazy in-plan
    assertion fails the job at execution (naming the offending block and
    the LSH alternative) instead of silently running an n² join when a
    block outgrew the budget.
    With NO block column this delegates to
    ``similarity.lsh_near_dup_pairs`` — random-hyperplane LSH blocking
    with exact verification — because an unblocked all-pairs cross join is
    quadratic in the corpus and must never be the default at scale
    (round-1 verdict).
    """
    if block_col is None:
        from .similarity import lsh_near_dup_pairs
        first = df.select(vec_col).first()
        if first is None:  # empty input: schema-stable empty result
            return df.sparkSession.createDataFrame(
                [], f"vec_a LONG, vec_b LONG, cos_r DOUBLE")
        return lsh_near_dup_pairs(df, id_col=id_col, vec_col=vec_col,
                                  threshold=threshold, dim=len(first[0]))
    if max_block_size is not None:
        # LAZY in-plan guard (no eager job at construction — building the
        # frame for explain/bench-warmup must not scan the table): a
        # per-block window count feeds assert_true, which throws at
        # EXECUTION naming the offending block; the isnull filter is
        # always-true but un-prunable, so the assertion survives
        # optimization. The window's block_col exchange is the same
        # partitioning the pair join needs anyway.
        from pyspark.sql.window import Window
        blk_n = F.count(F.lit(1)).over(Window.partitionBy(block_col))
        guard = F.assert_true(
            F.col("_blk_n") <= F.lit(max_block_size),
            F.concat(F.lit("block "), F.col(block_col).cast("string"),
                     F.lit(f" has more than max_block_size="
                           f"{max_block_size} vectors; the within-block "
                           "exact join is quadratic — use "
                           "similarity.lsh_near_dup_pairs (block_col="
                           "None) or a finer coarse quantizer")))
        df = (df.withColumn("_blk_n", blk_n)
                .filter(F.isnull(guard))
                .drop("_blk_n"))
    # per-vector norm computed ONCE before the pairwise join (the naive
    # cosine-per-pair recomputes both norms for every pair — 3x the flops)
    vd = as_double_vec(F.col(vec_col))
    base = fan_out(df).select(F.col(id_col).alias("_id"), vd.alias("_v"),
                     norm2(vd).alias("_n"),
                     *([F.col(block_col).alias("_blk")] if block_col else []))
    a = base.select(F.col("_id").alias("vec_a"), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"),
                    *([F.col("_blk")] if block_col else []))
    b = base.select(F.col("_id").alias("vec_b"), F.col("_v").alias("_vb"),
                    F.col("_n").alias("_nb"),
                    *([F.col("_blk")] if block_col else []))
    joined = a.join(b, on="_blk") if block_col else a.crossJoin(b)
    pairs = (joined.filter(F.col("vec_a") < F.col("vec_b"))
                   .withColumn("cos", dot(F.col("_va"), F.col("_vb"))
                               / (F.col("_na") * F.col("_nb")))
                   .filter(F.col("cos") >= threshold))
    return pairs.select("vec_a", "vec_b", F.round("cos", 4).alias("cos_r"))


# ------------------------------------ md5-hashed minhash + simhash ---

def md5_hash60(col: Column) -> Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5 as a long.

    DuckDB computes the identical value via
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the primitive that lets
    the minhash/simhash pipelines be oracle-verified end to end (xxhash64
    has no DuckDB analog; 15 nibbles keep the value inside signed int64).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Mersenne prime 2^31 - 1: the universal-hash modulus for the
# oracle-replayable MinHash family. With x reduced mod p first, every
# a*x + b stays below 2^62 — inside signed int64 in Spark AND DuckDB.
_UH_PRIME = 2_147_483_647


def minhash_uh_seeds(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for the universal-hash
    MinHash family h_i(x) = (a_i x + b_i) mod p, p = 2^31 - 1:
    Knuth-multiplicative spray, pinned here so the DuckDB twins can
    embed the identical literals. a_i is never 0 (asserted)."""
    seeds = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1) + 1) % _UH_PRIME
        b = (40_503 * i + 7) % _UH_PRIME
        assert a != 0, i
        seeds.append((a, b))
    return seeds


def _lsh_doc_frame(df: DataFrame, text_col: str, id_col: str, n: int,
                   num_hashes: int, bands: int,
                   source_col: str | None = None) -> DataFrame:
    """Per-doc LSH state under the oracle-replayable universal-hash
    family: (doc_id[, source], shingles, band_keys) — the string
    shingle set (the exact-verify basis the whole minhash-md5 family
    shares) and the ``bands`` banded signature keys (band index =
    array position). The one signature builder: ``minhash_lsh_pairs_md5``,
    ``lsh_inventory`` and the incremental pair pipeline's batch side
    all read it."""
    rpb = num_hashes // bands
    seeds = minhash_uh_seeds(num_hashes)
    keep = ([F.col(source_col).alias("source")]
            if source_col is not None else [])
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), *keep,
        word_shingles(F.col(text_col), n).alias("shingles"))
    # barrier BEFORE the 64-seed signature transform: without it
    # CollapseProject inlines the md5 hashing (and the shingle regex
    # behind it) into EVERY seed's lambda — 64 re-evaluations per row
    # (measured 461s vs ~7s for a 5k-doc inventory build). The lazy
    # localCheckpoint is the write-path-friendly form of a persist.
    base = base.withColumn(
        "_mh", F.transform("shingles",
                           lambda s: md5_hash60(s) % _UH_PRIME)) \
               .localCheckpoint(eager=False)
    sig = F.transform(
        F.array(*[F.array(F.lit(a), F.lit(b)) for a, b in seeds]),
        lambda ab: F.array_min(F.transform(
            F.col("_mh"), lambda x: (ab[0] * x + ab[1]) % _UH_PRIME)))
    # second barrier: each of the ``bands`` band lambdas slices
    # F.col("_sig"), and CollapseProject would inline the whole
    # 64-seed fold into every one of them — a bands x num_hashes
    # interpreted expression forest whose analysis/compile alone
    # costs ~55s flat per query (measured; the similarity.bucket_table
    # lesson). Materializing _sig keeps the band projection a cheap
    # slice over a concrete array.
    base = base.withColumn("_sig", sig).localCheckpoint(eager=False)
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(",", F.transform(
            F.slice(F.col("_sig"), b * rpb + 1, rpb),
            lambda x: x.cast("string"))))
    keep_names = ["source"] if source_col is not None else []
    return base.select("doc_id", *keep_names, "shingles",
                       band_arr.alias("band_keys"))


def minhash_lsh_pairs_md5(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          num_hashes: int = 64, bands: int | str = "auto",
                          threshold: float = 0.2) -> DataFrame:
    """MinHash+LSH near-dup pairs verified with exact Jaccard: shingle
    -> signature -> band -> candidate -> exact-jaccard-verify, with
    universal-hash minima over 60-bit md5 shingle hashes and plain
    string band keys (both built by ``_lsh_doc_frame``) so EVERY
    intermediate value is reproducible in ANSI SQL (DuckDB
    differential-checks the full result, not just row counts).

    b bands x r rows over ``num_hashes`` -> collision prob ~ s^r per
    band; candidates are pairs agreeing on >= 1 full band. The default
    ``bands="auto"`` derives b from the threshold via the ``auto_bands``
    S-curve; num_hashes stays fixed, so the seeded signatures replay
    unchanged in SQL and only the band grouping width (``i // r``)
    follows the dial. ONE (band_idx, band_key) posexplode + ONE
    self-join: a single shuffle keyed on (idx, key) — the scalable path
    where exact all-pairs is impossible. Output is a subset of the
    exact result (candidates only), each verified exactly.

    The per-seed rehash is the PUBLISHED universal-hash MinHash
    family (Broder 1997; Carter & Wegman 1979): each shingle hashes
    ONCE to a 60-bit md5 value reduced mod p = 2^31 - 1, and seed i's
    permutation is h_i(x) = (a_i * x + b_i) mod p with the (a_i, b_i)
    literals from ``minhash_uh_seeds``: the signature hot loop is one
    int64 multiply-add-mod inside whole-stage codegen, and every
    intermediate stays < 2^62 (no overflow in either engine).
    Recall vs the exact-Jaccard truth is re-measured at every decade
    by dedup-minhash-recall (1.0 throughout, see SCALING.md).
    """
    bands = _resolve_bands(bands, num_hashes, threshold)
    # the doc frame feeds both sides of the band self-join AND both
    # verify joins. The sides project different aliases, so their
    # exchanges don't canonicalize equal and ReuseExchange can NOT dedup
    # them: the frame's own checkpoints are what keep the shingle and
    # signature work to one pass — each consumer re-runs only the cheap
    # band-key slice
    docs = _lsh_doc_frame(df, text_col, id_col, n, num_hashes, bands)
    banded = docs.select("doc_id",
                         F.posexplode("band_keys").alias("_bidx", "_bk"))
    l = banded.select(F.col("doc_id").alias("doc_a"), "_bidx", "_bk")
    r = banded.select(F.col("doc_id").alias("doc_b"), "_bidx", "_bk")
    cand = (l.join(r, ["_bidx", "_bk"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b")
             .distinct())
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sb"))
    verified = (cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("jaccard", F.col("_inter") /
                    (F.size("_sa") + F.size("_sb") - F.col("_inter"))))
    return (verified.filter(F.col("jaccard") >= threshold)
                    .select("doc_a", "doc_b",
                            F.round("jaccard", 4).alias("jaccard_r")))


def lsh_inventory(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", source_col: str = "source",
                  n: int = 3, num_hashes: int = 64,
                  bands: int | str = "auto",
                  threshold: float = 0.2) -> DataFrame:
    """The maintained corpus-side artifact for incremental near-dup
    checks at LSH granularity — the MinHash-SIGNATURE half of the
    r13-verdict artifact story (``shingle_inventory`` is the postings
    half): one row per document with its string shingle set (the
    exact-verify basis) and its banded signature keys, under the
    oracle-replayable universal-hash family (``minhash_uh_seeds`` /
    ``md5_hash60`` — every value reproducible in ANSI SQL). At 100 TB
    this is a persisted table a daily job APPENDS to (rows are
    per-doc facts, so the append-only contract holds), and
    ``incremental_minhash_pairs_from_inventory`` consumes it without
    re-shingling OR re-signing the corpus. Where the postings
    inventory pays one batch-keyed semi-join over ALL shared
    shingles, this one generates candidates only where a full band
    collides — the banding-bounded path for corpora whose shared-
    shingle volume (sum over shingles of df x batch hits) outgrows
    the df cap. Construction dials are recorded as constant columns
    (``bands`` stored RESOLVED so "auto" callers and int callers
    interoperate) and checked on load."""
    bands = _resolve_bands(bands, num_hashes, threshold)
    return (_lsh_doc_frame(df, text_col, id_col, n, num_hashes, bands,
                           source_col=source_col)
            .withColumns({"shingle_n": F.lit(n).cast("int"),
                          "num_hashes": F.lit(num_hashes).cast("int"),
                          "bands": F.lit(bands).cast("int")}))


def incremental_minhash_pairs_from_inventory(
        new_df: DataFrame, inventory: DataFrame,
        text_col: str = "text", id_col: str = "doc_id",
        n: int = 3, num_hashes: int = 64,
        bands: int | str = "auto", threshold: float = 0.2,
        broadcast_batch: bool = True) -> DataFrame:
    """Incremental MinHash+LSH near-dup: the landing batch's banded
    signature keys joined against a PERSISTED ``lsh_inventory`` —
    candidates are (batch doc, corpus doc) pairs agreeing on >= 1
    full band, each verified with exact Jaccard over the stored
    string shingle sets. The daily-ingest production shape at LSH
    granularity: the corpus never re-shingles, never re-signs, and
    never self-joins; the index-side band explode is a pure scan
    projection joined to the BROADCAST batch band keys, so everything
    shuffled is candidate-bounded (banding bounds candidates the way
    the df cap bounds postings hits). Returns (new_id, index_id,
    jaccard_r) — verified exactly, like every key in the minhash-md5
    family. Dials are checked against the inventory's recorded
    columns (``bands`` compared RESOLVED)."""
    bands = _resolve_bands(bands, num_hashes, threshold)
    _check_inventory_dials(inventory, {"shingle_n": n,
                                       "num_hashes": num_hashes,
                                       "bands": bands})
    b = tracked_persist(_lsh_doc_frame(new_df, text_col, id_col, n,
                                       num_hashes, bands))
    b_banded = b.select(F.col("doc_id").alias("new_id"),
                        F.posexplode("band_keys").alias("_bidx", "_bk"))
    if broadcast_batch:
        b_banded = F.broadcast(b_banded)
    i_banded = inventory.select(
        F.col("doc_id").alias("index_id"),
        F.posexplode("band_keys").alias("_bidx", "_bk"))
    cand = (i_banded.join(b_banded, ["_bidx", "_bk"])
                    .select("new_id", "index_id").distinct()
                    .localCheckpoint(eager=False))
    hit_ids = cand.select(F.col("index_id").alias("doc_id")).distinct()
    sa = b.select(F.col("doc_id").alias("new_id"),
                  F.col("shingles").alias("_sa"))
    sb = (inventory.join(F.broadcast(hit_ids), "doc_id", "left_semi")
                   .select(F.col("doc_id").alias("index_id"),
                           F.col("shingles").alias("_sb")))
    verified = (cand.join(sa, "new_id").join(sb, "index_id")
                .withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
                .withColumn("jaccard", F.col("_i") /
                            (F.size("_sa") + F.size("_sb")
                             - F.col("_i"))))
    return (verified.filter(F.col("jaccard") >= threshold)
                    .select("new_id", "index_id",
                            F.round("jaccard", 4).alias("jaccard_r")))


def simhash_md5(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: the signature is derived from each
    token's md5 (bit b = bit b of the first 16 hex chars) and returned
    as two 32-bit halves (sim_hi, sim_lo) so all arithmetic stays inside
    signed int64 in both engines — no unsigned casts, no overflow,
    bit-identical in DuckDB.

    Shape: explode (token, bit) -> per-(doc, bit) ±1 sums -> pack halves.
    Two hash shuffles, rows = tokens x 64; every value is
    ANSI-SQL-reproducible.
    """
    tok = (fan_out(df)
             .select(F.col(id_col),
                     F.explode(normalized_tokens(F.col(text_col))).alias("_t"))
             .withColumn("_h", F.md5("_t")))
    bits = tok.select(id_col, "_h",
                      F.explode(F.sequence(F.lit(0), F.lit(63))).alias("_b"))
    bit = F.expr("shiftright(instr('0123456789abcdef', "
                 "substring(_h, 16 - _b DIV 4, 1)) - 1, _b % 4) & 1")
    sums = (bits.withColumn("_bit", bit)
                .groupBy(id_col, "_b")
                .agg(F.sum(F.when(F.col("_bit") == 1, 1).otherwise(-1)).alias("_s")))
    return (sums.groupBy(id_col).agg(
        F.sum(F.when((F.col("_b") >= 32) & (F.col("_s") > 0),
                     F.pow(F.lit(2.0), F.col("_b") - 32).cast("long"))
               .otherwise(F.lit(0))).alias("sim_hi"),
        F.sum(F.when((F.col("_b") < 32) & (F.col("_s") > 0),
                     F.pow(F.lit(2.0), F.col("_b")).cast("long"))
               .otherwise(F.lit(0))).alias("sim_lo")))


def simhash_md5_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_hamming: int = 3) -> DataFrame:
    """Pigeonhole-banded Hamming<=k pairs over the md5 simhash halves:
    4 x 16-bit chunks (pigeonhole: hamming<=3 over 4 chunks implies
    equality on >=1 chunk), ONE (chunk_idx, chunk) posexplode + ONE
    equality self-join, exact bit_count verify — fully SQL-reproducible.
    """
    sigs = tracked_persist(simhash_md5(df, text_col, id_col))
    chunk_arr = F.array(
        F.col("sim_lo") % 65536, F.expr("sim_lo DIV 65536"),
        F.col("sim_hi") % 65536, F.expr("sim_hi DIV 65536"))
    banded = sigs.select(F.col(id_col).alias("_id"), "sim_hi", "sim_lo",
                         F.posexplode(chunk_arr).alias("_cidx", "_ck"))
    l = banded.select(F.col("_id").alias("doc_a"), F.col("sim_hi").alias("_ha"),
                      F.col("sim_lo").alias("_la"), "_cidx", "_ck")
    r = banded.select(F.col("_id").alias("doc_b"), F.col("sim_hi").alias("_hb"),
                      F.col("sim_lo").alias("_lb"), "_cidx", "_ck")
    cand = (l.join(r, ["_cidx", "_ck"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "_ha", "_la", "_hb", "_lb")
             .distinct())
    # cast: Spark bit_count is int32, the DuckDB oracle compares as BIGINT
    hamming = (F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
               + F.bit_count(F.col("_la").bitwiseXOR(F.col("_lb")))).cast("long")
    return (cand.withColumn("hamming", hamming)
                .filter(F.col("hamming") <= max_hamming)
                .select("doc_a", "doc_b", "hamming"))


def substring_dup_coverage(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", min_len: int = 25,
                           flag_ppm: int = 500_000) -> DataFrame:
    """Exact-substring duplicate detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") at
    token granularity: a token is DUPLICATED iff it lies inside some
    substring of >= ``min_len`` tokens that occurs more than once in
    the corpus (any document, including a second occurrence in the
    same one). The suffix-array pass of the paper is inherently
    single-machine; the distributed moral equivalent used here is the
    stride-1 windowed-hash formulation, and it is EXACT for the
    per-token predicate above, not an approximation: a token inside a
    duplicated substring of length M >= L is inside one of its L-token
    windows, each of which recurs wherever the substring does; and any
    duplicated L-window is itself a duplicated substring of length L.

    Pipeline: md5 every ``min_len``-token window at stride 1
    (higher-order functions, one codegen'd scan), count occurrences
    per hash (one uniformly-distributed shuffle — md5 keys cannot
    skew), keep windows whose hash count > 1, merge each document's
    duplicated windows into maximal islands (``merge_intervals``),
    report per-doc coverage in exact-integer ppm.

    Scale shape: windows are ~tokens-per-doc rows each (linear); the
    hash groupBy partial-aggregates map-side; only DUPLICATED windows
    reach the island merge, so the second shuffle carries the
    duplicated fraction only. At 100 TB this is the same profile as
    the passage-hash inventory, plus one interval merge over matched
    docs. Returns (id, n_tokens, dup_tokens, dup_ppm, n_spans,
    dup_heavy) for every document, zeros when nothing matched.
    """
    from .timeseries import merge_intervals

    # r9: windows via min_len shifted slices + arrays_zip (the
    # word_shingles formulation) — a transform-over-sequence lambda
    # slicing the token array re-inlines the tokenize regex per WINDOW
    # (CollapseProject), turning the stride-1 scan quadratic-ish; the
    # zip lambda touches only its own variable. fan_out first: the
    # hashing is CPU-bound and must not serialize on a 1-split scan.
    df = fan_out(df)
    ws = tokens(F.col(text_col))
    k = F.greatest(F.size(ws) - (min_len - 1), F.lit(0))
    parts = [F.slice(ws, i + 1, k) for i in range(min_len)]
    hashes = F.transform(
        F.arrays_zip(*parts),
        lambda x: F.md5(F.concat_ws(
            " ", *[x[str(i)] for i in range(min_len)])))
    occ = df.select(F.col(id_col),
                    F.posexplode(hashes).alias("_p0", "_h"))
    dup = (occ.groupBy("_h")
              .agg(F.count(F.lit(1)).alias("_c"))
              .filter(F.col("_c") > 1)
              .select("_h"))
    iv = (occ.join(dup, "_h")
             .select(F.col(id_col), F.col("_p0").alias("_s"),
                     (F.col("_p0") + (min_len - 1)).alias("_e")))
    islands = merge_intervals(iv, id_col, "_s", "_e", tiebreak="_e")
    cov = islands.groupBy(id_col).agg(
        F.sum(F.col("island_end") - F.col("island_start") + 1)
         .cast("long").alias("_cov"),
        F.count(F.lit(1)).cast("long").alias("_spans"))
    ppm = F.expr("CASE WHEN n_tokens > 0 THEN dup_tokens * 1000000"
                 " DIV n_tokens ELSE 0 END")
    return (df.select(F.col(id_col),
                      F.size(ws).cast("long").alias("n_tokens"))
              .join(cov, id_col, "left")
              .select(id_col, "n_tokens",
                      F.coalesce("_cov", F.lit(0)).cast("long")
                       .alias("dup_tokens"),
                      F.coalesce("_spans", F.lit(0)).cast("long")
                       .alias("n_spans"))
              .withColumn("dup_ppm", ppm.cast("long"))
              .withColumn("dup_heavy", F.col("dup_ppm") >= F.lit(flag_ppm))
              .select(id_col, "n_tokens", "dup_tokens", "dup_ppm",
                      "n_spans", "dup_heavy"))


def passage_provenance(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       source_col: str = "source", window: int = 16,
                       stride: int = 8,
                       max_docs_per_hash: int = 32) -> DataFrame:
    """Cross-source duplication provenance matrix: for every unordered
    source pair (source_a <= source_b, string order), how many
    distinct ``window``-token passages the two sources share and how
    many (doc_a, doc_b) duplicate-evidence pairs those passages imply
    — the which-source-copies-from-which question every multi-crawl
    curation report answers (cross-snapshot/cross-dump duplication in
    the RefinedWeb/FineWeb style), at passage granularity because
    whole-document exact duplication is usually rarer than passage
    reuse (the gate corpus has zero exact-text duplicates but 23
    provenance cells at window=16).

    Scale shape — the matrix is computed WITHOUT materializing doc
    pairs: the corpus-sized stage is the passage-hash stream
    (text.passage_hashes, one shuffle on the uniformly-distributed
    hash); the per-(hash, source) distinct-doc counts form a
    dup-hash-sized frame; and ``dup_doc_pairs`` is the SUM of count
    PRODUCTS (nd_a * nd_b per shared hash; nd*(nd-1)/2 within a
    source), so a passage shared by k docs contributes one integer,
    never k^2 rows. The same hot-passage cap as dedup-passage-pairs
    (hashes in 2..``max_docs_per_hash`` distinct docs; boilerplate
    headers carry no provenance signal and would dominate the sums)
    bounds both the per-hash fanout and the count products. The
    (hash, source, nd) frame is localCheckpointed before the
    self-join — the aliased-sides recompute trap
    (minhash_lsh_pairs_md5's note above).

    Returns (source_a, source_b, n_shared_passages, dup_doc_pairs).
    """
    from .text import passage_hashes

    # No short-doc pre-filter here: passage_hashes guards short docs
    # internally (text.py — the guard is part of the operator's
    # contract) and explode drops their empty arrays; a Filter twin
    # would tokenize the whole corpus a second time (Filter and
    # Project don't share subexpressions across nodes).
    did, h = passage_hashes(F.col(id_col), F.col(text_col),
                            window=window, stride=stride)
    wins = df.select(did.alias("_id"), F.col(source_col).alias("_src"),
                     h.alias("_h")).distinct()
    keep = (wins.groupBy("_h")
                .agg(F.countDistinct("_id").alias("_ndall"))
                .filter((F.col("_ndall") >= 2)
                        & (F.col("_ndall") <= max_docs_per_hash))
                .select("_h"))
    hs = (wins.join(keep, "_h")
              .groupBy("_h", "_src")
              .agg(F.countDistinct("_id").cast("long").alias("_nd"))
              .localCheckpoint(eager=False))
    left = hs.select("_h", F.col("_src").alias("source_a"),
                     F.col("_nd").alias("_na"))
    right = hs.select("_h", F.col("_src").alias("source_b"),
                      F.col("_nd").alias("_nb"))
    j = (left.join(right, "_h")
             .filter(F.col("source_a") <= F.col("source_b")))
    same = F.col("source_a") == F.col("source_b")
    # nd*(nd-1) is even, so shiftright-by-1 is the exact integer
    # halving (no double-precision division in the sum)
    pair_cnt = F.when(
        same, F.shiftright(F.col("_na") * (F.col("_na") - 1), 1)
    ).otherwise(F.col("_na") * F.col("_nb"))
    return (j.filter(~same | (F.col("_na") > 1))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_shared_passages"),
                  F.sum(pair_cnt).cast("long").alias("dup_doc_pairs")))


def near_dup_provenance(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        source_col: str = "source", n: int = 3,
                        num_hashes: int = 64, bands: int | str = "auto",
                        threshold: float = 0.2) -> DataFrame:
    """NEAR-duplicate provenance matrix: ``passage_provenance``'s
    sibling at MinHash granularity — for every unordered source pair,
    how many verified near-duplicate document pairs
    (``minhash_lsh_pairs_md5``: banded LSH candidates, exact-Jaccard
    verified at ``threshold``) connect the two sources, plus the sum
    of their Jaccards in exact-integer ppm (mean similarity is
    jaccard_ppm_sum / dup_pairs, derivable without float aggregation
    — per-pair ppm values are integers derived from the 4-decimal
    rounded Jaccard both engines agree on bit-for-bit, so the SUM
    stays differential-exact where a float mean would be
    summation-order-dependent). Exact passage sharing catches
    verbatim reuse; this catches paraphrase-level and
    boilerplate-heavy near-copies the passage matrix misses.

    Scale shape: inherits the LSH pipeline's (bucketed band
    self-join, never all-pairs); the rollup joins the (small,
    dup-pair-sized) verified pairs frame against the (doc_id, source)
    projection twice and aggregates to a |sources|^2-bounded matrix.

    Returns (source_a, source_b, dup_pairs, jaccard_ppm_sum),
    source_a <= source_b in string order.
    """
    pairs = minhash_lsh_pairs_md5(df, text_col, id_col, n=n,
                                  num_hashes=num_hashes, bands=bands,
                                  threshold=threshold)
    a = df.select(F.col(id_col).alias("doc_a"),
                  F.col(source_col).alias("_sa"))
    b = df.select(F.col(id_col).alias("doc_b"),
                  F.col(source_col).alias("_sb"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    return (j.select(F.least("_sa", "_sb").alias("source_a"),
                     F.greatest("_sa", "_sb").alias("source_b"),
                     F.round(F.col("jaccard_r") * 1_000_000)
                      .cast("long").alias("_ppm"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).cast("long").alias("dup_pairs"),
                  F.sum("_ppm").cast("long").alias("jaccard_ppm_sum")))


def passage_provenance_incremental(batch_df: DataFrame,
                                   corpus_df: DataFrame,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   source_col: str = "source",
                                   window: int = 16, stride: int = 8,
                                   max_docs_per_hash: int = 32,
                                   broadcast_batch: bool = True
                                   ) -> DataFrame:
    """Incremental provenance: ``passage_provenance`` in the
    daily-ingest shape — a LANDING BATCH checked against the accepted
    corpus, rolled up to the same source x source duplication matrix,
    with batch-sized (never corpus-sized) join work and NO corpus
    self-join. Answers "which existing source does this incoming
    batch copy from" before the batch is accepted — the per-ingest
    twin of the full matrix, the way ``incremental_jaccard_pairs`` is
    the per-ingest twin of the all-pairs Jaccard.

    Scale shape: the corpus contributes ONE linear passage-hash pass
    (at 100 TB that inventory is a persisted table maintained across
    ingests — rebuilt per call here, the same caveat as
    ``incremental_jaccard_pairs``); its hit stream is semi-joined down
    to the batch's distinct hash set BEFORE the per-(hash, source)
    aggregation, so everything shuffled is bounded by batch hits, not
    corpus size. With ``broadcast_batch`` the batch-hash set ships as
    a broadcast (right for ingest-sized batches; flip it off when a
    "batch" is itself crawl-scale and the semi-join should shuffle).
    The hot-passage cap is computed over CORPUS distinct docs per
    hash — the stable corpus-scale statistic, mirroring
    ``incremental_jaccard_pairs``' index-side ``max_df`` — because
    boilerplate passages carry no provenance signal and would
    dominate the count products. Sides are asymmetric, so the matrix
    is ORDERED (batch_source, corpus_source) and needs no same-source
    halving: dup_doc_pairs is the plain SUM of nd_batch * nd_corpus
    products per shared hash (one integer per hash, never a pair
    explosion), exactly the full matrix's accounting.

    Callers guarantee batch and corpus doc sets are disjoint (the
    ingest contract). Returns (batch_source, corpus_source,
    n_shared_passages, dup_doc_pairs).
    """
    from .text import passage_hashes

    cdid, ch = passage_hashes(F.col(id_col), F.col(text_col),
                              window=window, stride=stride)
    cwins = (fan_out(corpus_df)
             .select(cdid.alias("_id"), F.col(source_col).alias("_src"),
                     ch.alias("_h")).distinct())
    return _incremental_provenance_rollup(
        batch_df, cwins, text_col, id_col, source_col, window, stride,
        max_docs_per_hash, broadcast_batch)


def passage_inventory(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      source_col: str = "source", window: int = 16,
                      stride: int = 8) -> DataFrame:
    """The maintained corpus-side artifact for incremental provenance:
    the distinct (passage_md5, source, doc_id) fact stream. At 100 TB
    this is a persisted table a daily job APPENDS to — rows are
    per-(doc, passage) facts, so accepting a batch is exactly
    appending the batch's own inventory (inventory(A ∪ B) =
    inventory(A) ∪ inventory(B) for disjoint doc sets; pinned by
    test) — and ``passage_provenance_incremental_from_inventory``
    consumes it WITHOUT re-tokenizing the corpus, closing the
    rebuilt-per-call caveat in ``passage_provenance_incremental``'s
    docstring. Write it with the ordinary parquet sinks, partitioned
    however the ingest cadence wants (e.g. by accept date).

    The tokenization dials are recorded as constant ``window`` /
    ``stride`` columns (RLE'd to nothing in parquet) so a consumer
    can detect an inventory built under different dials instead of
    silently computing a wrong or empty matrix —
    ``passage_provenance_incremental_from_inventory`` checks them on
    load (r13 ADVICE)."""
    from .text import passage_hashes

    did, h = passage_hashes(F.col(id_col), F.col(text_col),
                            window=window, stride=stride)
    return (fan_out(df)
            .select(did.alias("doc_id"),
                    F.col(source_col).alias("source"),
                    h.alias("passage_md5"))
            .distinct()
            .withColumns({"window": F.lit(window).cast("int"),
                          "stride": F.lit(stride).cast("int")}))


def _check_inventory_dials(inventory: DataFrame,
                           dials: dict[str, int]) -> None:
    """Raise if a persisted inventory records tokenization dials that
    differ from the caller's — the silent-empty-matrix failure mode a
    window/stride (or shingle-width) mismatch would otherwise produce
    (r13 ADVICE). Inventories written before the dial columns existed
    are accepted as-is (the must-match contract is then on the
    caller, per the docstrings). Cost: one min/max aggregate over
    constant RLE'd columns — negligible next to the provenance job
    itself."""
    cols = [c for c in dials if c in inventory.columns]
    if not cols:
        return
    aggs = [f(c) for c in cols for f in (F.min, F.max)]
    row = inventory.agg(*aggs).first()
    for i, c in enumerate(cols):
        lo, hi = row[2 * i], row[2 * i + 1]
        if lo is None:  # empty inventory: nothing to contradict
            continue
        if not (lo == hi == dials[c]):
            raise ValueError(
                f"inventory was built with {c}={lo!r}..{hi!r}, "
                f"caller asked for {c}={dials[c]!r}: rebuild the "
                f"inventory or pass matching dials")


def passage_provenance_incremental_from_inventory(
        batch_df: DataFrame, inventory: DataFrame,
        text_col: str = "text", id_col: str = "doc_id",
        source_col: str = "source", window: int = 16, stride: int = 8,
        max_docs_per_hash: int = 32,
        broadcast_batch: bool = True) -> DataFrame:
    """``passage_provenance_incremental`` consuming a PERSISTED
    ``passage_inventory`` table instead of re-tokenizing the corpus —
    the daily-ingest production shape: the corpus-sized linear pass
    happens once at accept time (append-only inventory), and each
    landing batch's check touches only the inventory scan plus
    batch-bounded joins. Bit-identical to the direct form on the same
    corpus (pinned by test). The inventory's recorded window/stride
    columns must match the caller's (checked; a mismatch raises
    instead of silently yielding a wrong or empty matrix)."""
    _check_inventory_dials(inventory, {"window": window,
                                       "stride": stride})
    cwins = inventory.select(F.col("doc_id").alias("_id"),
                             F.col("source").alias("_src"),
                             F.col("passage_md5").alias("_h"))
    return _incremental_provenance_rollup(
        batch_df, cwins, text_col, id_col, source_col, window, stride,
        max_docs_per_hash, broadcast_batch)


def _incremental_provenance_rollup(batch_df: DataFrame,
                                   cwins: DataFrame, text_col: str,
                                   id_col: str, source_col: str,
                                   window: int, stride: int,
                                   max_docs_per_hash: int,
                                   broadcast_batch: bool) -> DataFrame:
    """Shared tail of the two incremental-provenance entry points:
    batch wins + semi-join-reduced corpus wins -> ordered matrix."""
    from .text import passage_hashes

    bdid, bh = passage_hashes(F.col(id_col), F.col(text_col),
                              window=window, stride=stride)
    bwins = (fan_out(batch_df)
             .select(bdid.alias("_id"), F.col(source_col).alias("_src"),
                     bh.alias("_h"))
             .distinct()
             # two consumers (hash set + per-source counts): barrier so
             # the batch tokenizes once, not once per branch
             .localCheckpoint(eager=False))
    bhashes = bwins.select("_h").distinct()
    if broadcast_batch:
        bhashes = F.broadcast(bhashes)
    # two consumers (the cap's ndall and the per-source counts) with
    # different column pruning — without a barrier the CORPUS
    # tokenizes twice (no exchange reuse across pruned scans); the
    # checkpointed frame is batch-hit-sized, not corpus-sized
    hits = (cwins.join(bhashes, "_h", "left_semi")
                 .localCheckpoint(eager=False))
    keep = (hits.groupBy("_h")
                .agg(F.countDistinct("_id").alias("_ndall"))
                .filter(F.col("_ndall") <= max_docs_per_hash)
                .select("_h"))
    cg = (hits.join(keep, "_h")
              .groupBy("_h", "_src")
              .agg(F.countDistinct("_id").cast("long").alias("_ndc")))
    bg = (bwins.groupBy("_h", "_src")
               .agg(F.countDistinct("_id").cast("long").alias("_ndb")))
    j = (bg.select("_h", F.col("_src").alias("batch_source"), "_ndb")
           .join(cg.select("_h", F.col("_src").alias("corpus_source"),
                           "_ndc"), "_h"))
    return (j.groupBy("batch_source", "corpus_source")
             .agg(F.count(F.lit(1)).cast("long")
                   .alias("n_shared_passages"),
                  F.sum(F.col("_ndb") * F.col("_ndc")).cast("long")
                   .alias("dup_doc_pairs")))


def near_dup_provenance_incremental(batch_df: DataFrame,
                                    corpus_df: DataFrame,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    source_col: str = "source",
                                    n: int = 3, threshold: float = 0.2,
                                    max_df: int | None = 1000
                                    ) -> DataFrame:
    """Incremental NEAR-duplicate provenance: the MinHash-granularity
    sibling of ``passage_provenance_incremental``, completing the
    provenance family's 2x2 (full/incremental x exact/near) — which
    existing source is this landing batch a PARAPHRASE-level copy of.
    Rides ``incremental_jaccard_pairs`` (batch-vs-index inverted
    postings, the index never self-joins, index-side df cap), then
    rolls the batch-pair-sized verified frame up to the ORDERED
    (batch_source, corpus_source) matrix with the Jaccard evidence
    summed in exact-integer ppm (``near_dup_provenance``'s
    float-free accounting: per-pair ppm derives from the 4-decimal
    round both engines agree on bit-for-bit).

    Scale shape: cost is the incremental pair pipeline's (O(|batch| x
    avg postings)); the rollup joins the verified-pairs frame against
    the two (doc_id, source) projections — the batch projection is
    batch-sized, the corpus projection joins only where a pair hit it
    — and aggregates to a |sources|^2-bounded matrix.

    Returns (batch_source, corpus_source, dup_pairs,
    jaccard_ppm_sum)."""
    pairs = incremental_jaccard_pairs(batch_df, corpus_df, text_col,
                                      id_col, n=n, threshold=threshold,
                                      max_df=max_df)
    b = corpus_df.select(F.col(id_col).alias("index_id"),
                         F.col(source_col).alias("corpus_source"))
    return _near_provenance_rollup(pairs, batch_df, b, id_col,
                                   source_col)


def _near_provenance_rollup(pairs: DataFrame, batch_df: DataFrame,
                            corpus_srcs: DataFrame, id_col: str,
                            source_col: str) -> DataFrame:
    """Shared tail of the incremental near-dup provenance entry
    points: verified (new_id, index_id, jaccard_r) pairs -> ordered
    (batch_source, corpus_source) matrix with exact-integer-ppm
    Jaccard evidence."""
    a = batch_df.select(F.col(id_col).alias("new_id"),
                        F.col(source_col).alias("batch_source"))
    j = pairs.join(a, "new_id").join(corpus_srcs, "index_id")
    return (j.select("batch_source", "corpus_source",
                     F.round(F.col("jaccard_r") * 1_000_000)
                      .cast("long").alias("_ppm"))
             .groupBy("batch_source", "corpus_source")
             .agg(F.count(F.lit(1)).cast("long").alias("dup_pairs"),
                  F.sum("_ppm").cast("long").alias("jaccard_ppm_sum")))


def near_dup_provenance_incremental_from_inventory(
        batch_df: DataFrame, inventory: DataFrame,
        text_col: str = "text", id_col: str = "doc_id",
        source_col: str = "source", n: int = 3,
        threshold: float = 0.2, max_df: int | None = 1000,
        broadcast_batch: bool = True) -> DataFrame:
    """``near_dup_provenance_incremental`` consuming a PERSISTED
    ``shingle_inventory`` table instead of re-shingling the corpus —
    the near-dup sibling of
    ``passage_provenance_incremental_from_inventory``, completing the
    daily-ingest artifact story for BOTH provenance granularities:
    the corpus pays its linear shingling pass once at accept time,
    and each landing batch's paraphrase-provenance check is the
    inventory scan plus batch-bounded joins. Bit-identical to the
    direct form on the same corpus (pinned by test and gated by the
    frozen-index oracle twin). The corpus (doc_id -> source) map
    rides the inventory itself, semi-joined down to the pair hits
    before the distinct so no corpus-sized shuffle appears."""
    pairs = tracked_persist(incremental_jaccard_pairs_from_inventory(
        batch_df, inventory, text_col, id_col, n=n,
        threshold=threshold, max_df=max_df,
        broadcast_batch=broadcast_batch))
    hit_ids = pairs.select(F.col("index_id").alias("doc_id")).distinct()
    corpus_srcs = (inventory.join(F.broadcast(hit_ids), "doc_id",
                                  "left_semi")
                            .select(F.col("doc_id").alias("index_id"),
                                    F.col("source")
                                     .alias("corpus_source"))
                            .distinct())
    return _near_provenance_rollup(pairs, batch_df, corpus_srcs,
                                   id_col, source_col)


def provenance_report(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      source_col: str = "source", window: int = 16,
                      stride: int = 8, max_docs_per_hash: int = 32,
                      n: int = 3, num_hashes: int = 64,
                      bands: int | str = "auto",
                      threshold: float = 0.2) -> DataFrame:
    """The publishable cross-source duplication report: the exact
    (``passage_provenance``) and near (``near_dup_provenance``)
    matrices full-outer-joined per unordered source pair — one table
    answering both "who shares verbatim text with whom" and "who
    paraphrases whom", the duplication section of a multi-crawl
    datasheet (a cell with passages but no near-dup pairs is
    boilerplate-level reuse below the document Jaccard threshold; the
    reverse is paraphrase without verbatim overlap). Composes the two
    independently oracle-verified matrices; counts zero-filled so
    absent granularities read as 0, not NULL.

    Scale shape: the UNION of the parents' (both |sources|^2-bounded
    outputs; the join itself is matrix-sized, trivially broadcast).

    Returns (source_a, source_b, n_shared_passages, dup_doc_pairs,
    near_dup_pairs, jaccard_ppm_sum).
    """
    exact = passage_provenance(df, text_col, id_col, source_col,
                               window=window, stride=stride,
                               max_docs_per_hash=max_docs_per_hash)
    near = near_dup_provenance(df, text_col, id_col, source_col, n=n,
                               num_hashes=num_hashes, bands=bands,
                               threshold=threshold)
    z = F.lit(0).cast("long")
    return (exact.join(near.withColumnRenamed("dup_pairs",
                                              "near_dup_pairs"),
                       ["source_a", "source_b"], "full_outer")
                 .select("source_a", "source_b",
                         F.coalesce("n_shared_passages", z)
                          .alias("n_shared_passages"),
                         F.coalesce("dup_doc_pairs", z)
                          .alias("dup_doc_pairs"),
                         F.coalesce("near_dup_pairs", z)
                          .alias("near_dup_pairs"),
                         F.coalesce("jaccard_ppm_sum", z)
                          .alias("jaccard_ppm_sum")))
