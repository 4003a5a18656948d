"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {name: sec}, "sf"}.

Protocol v2 (round 7): each query is materialized with the noop sink
(actions.materialize) — every column of every row executes. The v1
action was count(), under which Catalyst prunes aggregate EXPRESSIONS
(count of a groupBy needs only the keys: tpch-q1's eight sums never
ran, 0.33s "measured" vs 0.95s real) and eliminates
cardinality-preserving joins with their whole subtrees. The SCALING_SF01
reference walls below were re-measured under v2 the day of the switch;
pre-v2 SCALING.md tables are internally consistent (pruning is
scale-independent, so decade RATIOS were honest) but their absolute
walls under-state agg-final queries. Timings exclude session startup
and include one warm-up of the parquet footer reads.

Host-variance note (r7 observed): the driver's recorded wall and a
same-day builder run of this exact script differed by ~17% in AGGREGATE
(91.86s vs 78.60s, both `flagged: []`, per-query ratios vs SCALING well
under the 2x guard) — ambient load and JVM warmth, not code. Treat
cross-run aggregate deltas under ~20% as host noise; the per-query
`vs_scaling` ratios and the `flagged` list are the regression signal,
not the total.

Besides the two stdout JSON lines (detail first, tail-safe compact line
last), every run rewrites bench_detail.json next to this file so the
full per-query record survives even when the driver's tail capture
truncates stdout.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = (
    "tpch-q1",            # scan -> partial agg -> shuffle agg
    "tpch-q3",            # 3-way join with broadcast dims
    "tpch-q5",            # 6-table join, broadcast dim chain
    "tpch-q6",            # full predicate pushdown + 1-row agg
    "pd-groupby",         # group-by over orders
    "op-groupagg-count",  # alert-shaped group over events
    "top-k-per-group",    # window rank over lineitem
    "asof-join",          # union + forward-fill window over events
    "op-range-join",      # bin-blocked interval join over events
    "op-time-rollup",     # cascaded minute/hour/day continuous aggregate
    "op-gap-fill",        # sequence-grid densify + LOCF fill window
    "op-merge-upsert",    # latest-wins CDC compaction (WindowGroupLimit)
    "dedup-exact",        # hash groupBy over documents
    "dedup-ngram-jaccard",# inverted-index jaccard
    "dedup-minhash-md5",  # banded LSH + verify
    "dedup-simhash-md5-pairs",  # simhash banding
    "dedup-embedding-lsh",# hyperplane-LSH near-dup (the scale path; the
                          # exact-blocked quadratic twin stays un-benched
                          # as a verification baseline only)
    "sim-bruteforce-topk",# broadcast-queries exact ANN
    "sim-lsh-topk",       # sign-bucket LSH ANN
    "sim-ivf-topk",       # IVF inverted-list ANN (exact mode)
    "text-quality",       # text feature extraction
    "text-tfidf-top-terms",# corpus TF-IDF weighting + per-doc top-k
    "op-sessionize",      # gap-and-islands sessionization
    "dedup-passage-exact",# token-window exact-substring dedup inventory
    "stream-window-agg",  # structured-streaming tumbling window drain
    "stream-stream-join", # watermarked stream-stream interval join
    "stream-funnel",      # stateful candidate-set funnel (applyInPandasWithState)
    "plan-alert-report",  # EP3 end-to-end plan
    "plan-corpus-train",  # product-defining composite: clean->sample->pack
    "plan-multimodal-dedup",  # payload -> Arrow embed -> LSH near-dup
    # round-6 additions
    "dedup-prefix-jaccard",   # SSJoin prefix-filtered exact jaccard
    "dedup-containment",      # overlap-coefficient doc-within-doc
    "text-bm25-topk",         # ranked retrieval (log-free BM25 family)
    "op-pagerank",            # integer-scaled iterative kernel
    "op-triangle-count",      # degree-oriented wedge join
    "op-graph-bfs",           # frontier-iteration reachability
    "op-skyline",             # Pareto frontier (collapsed-frame window)
    # r6b ML-pipeline batch representatives (the rest of the batch is
    # fixed-overhead-bound at sf0.1 — SCALING "ML-pipeline batch" table)
    "op-knn-classify",        # broadcast-queries cosine kNN vote
    "op-item-cf",             # capped item-item co-occurrence CF
    "op-bloom-prefilter",     # Bloom-film semi-join over lineitem
    # r6c drift/LM/feature/RAG representatives (SCALING r6c table)
    "text-lm-likelihood",     # corpus bigram-LM quality scoring
    "plan-feature-store",     # customer feature-store composite
    "plan-rag-context",       # BM25 retrieve + diversity composite
    # r7b data-selection batch representatives (gopher/novelty/silhouette
    # are overhead-bound at sf0.1 — SCALING "Round-7b" table)
    "text-dsir-score",        # DSIR hashed-bigram importance scoring
    "sim-semdedup",           # within-cluster semantic dedup
    # r10 tokenizer-family + release-layer representatives (SCALING
    # "Round-10b" table; op-unigram-estep / text-wordpiece-encode share
    # the same vocab-sized profile as the two below)
    "op-bpe-encode",          # learned-merge-table corpus encoding
    "op-shard-assign",        # exact-rank md5-order shard round-robin
    "text-unigram-segment",   # unigram-LM Viterbi corpus encoding
    "plan-corpus-datasheet",  # per-(source, lang) release report
    "op-vocab-growth",        # Heaps-law curve over exact-ntile deciles
    # r11 production-vocabulary tokenizer + batched-trainer
    # representatives (the unigram/wordpiece Arrow twins share
    # op-bpe-encode-arrow's one-MapInPandas profile — SCALING r11)
    "op-bpe-encode-arrow",    # merge table in the mapInPandas closure
    "op-bpe-batch-elect",     # top-M symbol-disjoint training election
    # r14 additions: the r12/r13 provenance + byte-basis families were
    # previously invisible to the bench (r13 verdict item 6)
    "dedup-provenance-incremental",  # landing batch vs corpus matrix
    "plan-provenance-report", # exact+near matrices full-outer composed
    "op-bpe-encode-bytes",    # byte-level (GPT-2-spirit) BPE encode
)

# Same-day sf0.1 reference walls, re-measured under protocol v2 (noop
# full materialization, round 7 — see the module docstring; the v1
# count() walls under-stated agg-final queries: tpch-q1 0.34 -> 1.03,
# text-quality 0.25 -> 1.04). The in-run self-guard compares each timed
# query against this: >2x earns ONE extra rerun (codegen-eviction
# outliers — the r4 top-k incident — die on a rerun), and a query still
# >2x after that is FLAGGED in the output so a real regression is named
# by the bench itself, not discovered by a human diffing SCALING.md
# later.
SCALING_SF01 = {
    "tpch-q1": 1.03, "tpch-q3": 0.90, "tpch-q5": 1.48, "tpch-q6": 0.24,
    "pd-groupby": 0.26, "op-groupagg-count": 0.24, "top-k-per-group": 1.00,
    # asof-join refreshed r13: canary-healthy (0.44/0.31) min-of-3 read
    # a stable 0.83-1.02s, consistent with r12's 0.88 — the 0.48 wall
    # was stale, not host noise (it sat 1.83x from the flag line)
    "asof-join": 0.83, "op-range-join": 0.47, "op-time-rollup": 0.70,
    "op-gap-fill": 0.52, "op-merge-upsert": 0.37, "dedup-exact": 0.21,
    "dedup-ngram-jaccard": 2.78, "dedup-embedding-lsh": 2.11,
    "sim-bruteforce-topk": 0.46, "sim-lsh-topk": 1.07, "sim-ivf-topk": 1.73,
    "text-quality": 1.04, "text-tfidf-top-terms": 1.43,
    "op-sessionize": 0.44, "stream-window-agg": 1.00,
    "stream-stream-join": 2.56, "stream-funnel": 1.99,
    "plan-alert-report": 0.37, "plan-corpus-train": 8.97,
    "dedup-passage-exact": 0.96, "plan-multimodal-dedup": 3.29,
    # round-6 additions (v2 re-measurement)
    "dedup-prefix-jaccard": 4.15, "dedup-containment": 1.56,
    "text-bm25-topk": 0.59, "op-pagerank": 3.32,
    # bfs re-measured r11 (per-round visited re-checkpoint dropped +
    # lazy edges checkpoint; the old wall was 6.76)
    "op-triangle-count": 6.09, "op-graph-bfs": 5.27, "op-skyline": 0.29,
    # r6b ML-pipeline batch (v2 re-measurement)
    # bloom-prefilter re-measured r11 (probe hash md5 -> seeded
    # xxhash64 by default; the md5 wall was 4.38)
    "op-knn-classify": 1.56, "op-item-cf": 1.93, "op-bloom-prefilter": 1.67,
    # r6c batch (v2 re-measurement)
    "text-lm-likelihood": 1.58, "plan-feature-store": 1.33,
    "plan-rag-context": 2.26,
    # r7b batch (v2; semdedup is the Arrow-matmul pair stage +
    # vectorized assignment — the 11.2s flagged run was the original
    # per-pair DECIMAL formulation, see SCALING's r7b note)
    "text-dsir-score": 1.36, "sim-semdedup": 1.24,
    # r10 additions (min-of-2/3 same-day walls, v2 protocol);
    # the three encoder-family keys re-measured r11 after the plan
    # changes (word-count checkpoint + datasheet single-scan fold) —
    # the checkpoint pays a small materialization at sf0.1 and wins
    # 3.4x at the 500k-doc decade (SCALING.md r11b); old walls were
    # 1.09 / 1.48 / 1.54
    "op-bpe-encode": 1.85, "op-shard-assign": 1.34,
    "text-unigram-segment": 1.72, "plan-corpus-datasheet": 2.37,
    "op-vocab-growth": 1.69,
    # r11 additions (min-of-2 same-day walls, v2 protocol)
    "op-bpe-encode-arrow": 1.17, "op-bpe-batch-elect": 0.76,
    # r14 additions (canary-bracketed min-of-3 same-day walls,
    # 0.183/0.121)
    "dedup-provenance-incremental": 1.89,
    "plan-provenance-report": 4.16, "op-bpe-encode-bytes": 1.43,
}


# Reference wall for the canary (same-day in-bench walls on this box,
# r12: start 0.157 / end 0.124 inside a full sf0.1 suite run).
# The canary is a fixed data-free CPU probe — sum(xxhash64) over a
# 50M range in 32 partitions, pure whole-stage-codegen JVM work, no
# IO, no shuffle of consequence — timed at suite START and END and
# recorded in the artifact. BENCH_r11 committed two false flags
# because the host degraded mid-run (documented 4.7x same-JVM spread)
# and nothing IN the artifact showed it; with the canary pair, a
# degraded host is visible in BENCH_rN.json itself (canary ratios
# well above 1) instead of needing a human to re-measure.
#
# The 0.13 default is a wall measured on the REFERENCE box — ratios
# are only comparable there (r12 ADVICE: on any other machine, or
# after a JVM/hardware change, override via SPARK_GRAFT_CANARY_REF or
# read the absolute start_sec/end_sec walls kept in the artifact and
# ignore the ratios).
CANARY_REF = float(os.environ.get("SPARK_GRAFT_CANARY_REF", "0.13"))


def _canary_wall(spark, materialize) -> float:
    # pmod before sum: the session runs ANSI mode and a raw
    # sum(xxhash64) over 50M rows overflows long
    df = (spark.range(0, 50_000_000, 1, 32)
               .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS s"))
    # 4 warm + min-of-4 timed: the hash loop's C2 tier-up takes a few
    # executions (measured 0.87 -> 0.21s over ~10), so single-pass
    # canaries would read "degraded" on a clean host. Even so, treat
    # ratios <= ~1.5 as JIT/ambient noise — the canary exists to make
    # the 3-5x host degradations (the BENCH_r11 false-flag cause)
    # visible in the artifact, not to resolve 20% drift.
    for _ in range(4):
        materialize(df)
    best = float("inf")
    for _ in range(4):
        t0 = time.time()
        materialize(df)
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from tf_prisma_api_data_ingestion_spark import cache
    from tf_prisma_api_data_ingestion_spark.catalog import (
        QUERIES,
        THROUGHPUT_QUERIES,
    )
    from tf_prisma_api_data_ingestion_spark.session import get_spark

    spark = get_spark("bench")
    from tf_prisma_api_data_ingestion_spark import tables
    # abort in seconds with a schema diff if the driver regenerated the
    # testdata with drifted types (the r3 ts incident) — footer-only read
    tables.assert_contract(spark, sf_dir)
    # warm the file-listing / footer caches so timings measure compute
    for t in tables.TABLE_NAMES:
        tables.load(spark, sf_dir, t).count()
    # warm the Structured Streaming machinery (micro-batch planner, state
    # store provider classes, memory sink) on the tiny sf so the first
    # timed streaming query measures its own drain, not one-time JVM init
    from tf_prisma_api_data_ingestion_spark.streaming import windows as _w
    _w.windowed_event_counts(spark, "/root/testdata/sf0.001",
                             query_name="bench_stream_warmup").count()
    # Each query is warmed once at sf0.001 (~50 docs / 6k rows)
    # IMMEDIATELY before its timed run: the warmup JIT-compiles the
    # query's whole-stage-codegen classes so the timed run measures data
    # throughput, not first-call JVM compilation (measured: cold
    # minhash-lsh 10.6s vs warm 3.7s on identical data). Warm-adjacent
    # matters: the JVM codegen cache holds ~100 generated classes, so a
    # warm-everything-then-time-everything loop lets later warmups evict
    # earlier ones (measured: simhash-pairs re-compiled at 12.5s despite
    # its warmup, 25 queries earlier). On a long-lived cluster these are
    # one-time costs; per-query deltas vs SCALING.md stay comparable
    # because SCALING's numbers were warm too.
    from tf_prisma_api_data_ingestion_spark.actions import materialize

    warm_sf = "/root/testdata/sf0.001"
    canary_start = _canary_wall(spark, materialize)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name) or THROUGHPUT_QUERIES[name]
        try:
            # warm with the SAME action as the timed run: a count()-shaped
            # warmup compiles the PRUNED plan's codegen classes, and the
            # timed materialize would then pay cold compilation
            materialize(fn(spark, warm_sf))
        except Exception as ex:  # noqa: BLE001 — warmup is best-effort,
            # but a swallowed failure means the timed run pays cold
            # compilation, so surface it instead of hiding the 3x jump
            print(f"# warmup failed for {name}: {type(ex).__name__}: "
                  f"{str(ex)[:120]}", file=sys.stderr, flush=True)
        cache.release_all(blocking=True)
        # two timed passes, report the min: the JVM codegen cache holds
        # ~100 classes, so even a warm-adjacent run occasionally pays a
        # recompile when an earlier query's classes evicted this one's
        # (r4 official: top-k-per-group 6.18s vs 1.23s in SCALING on an
        # identical, provably-optimal plan). The min of two passes is the
        # data-throughput number; steady-state clusters never pay
        # first-compile per query.
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
            # blocking: a lazily-evicting cache from query N inflates
            # query N+1's persist pressure (measured 13.7s -> 57s on
            # minhash at 10x sf0.1 with a stale ngram index resident)
            cache.release_all(blocking=True)
        # self-guard: >2x the SCALING reference (sf0.1 runs only) earns
        # ONE extra pass — recompile/eviction outliers die on rerun;
        # genuine regressions survive it and get flagged below
        ref = SCALING_SF01.get(name) if abs(sf - 0.1) < 1e-9 else None
        if ref and best > 2.0 * ref:
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
            cache.release_all(blocking=True)
        timings[name] = round(best, 3)

    # r12 flag hardening: a query still >2x its SCALING reference after
    # the in-loop extra pass gets a full min-of-3 RE-MEASURE at suite
    # end — temporally separated from whatever ambient load inflated
    # the in-loop passes. BENCH_r11's two flags (2.13x and 5.88x) were
    # both host degradation that a later idle min-of-3 read at 1.29x
    # and 0.99x; this puts that adjudication inside the artifact.
    remeasured: list[str] = []
    if abs(sf - 0.1) < 1e-9:
        for name in sorted(n for n, t in timings.items()
                           if n in SCALING_SF01
                           and t > 2.0 * SCALING_SF01[n]):
            remeasured.append(name)
            fn = QUERIES.get(name) or THROUGHPUT_QUERIES[name]
            best = timings[name]
            for _ in range(3):
                t0 = time.time()
                materialize(fn(spark, sf_dir))
                best = min(best, time.time() - t0)
                cache.release_all(blocking=True)
            timings[name] = round(best, 3)
    canary_end = _canary_wall(spark, materialize)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # the host-health record: ratios near 1.0 mean the box was
        # clean at that moment; a big start or end ratio means the
        # aggregate (and any flags) ran on a degraded host
        "canary": {
            "start_sec": canary_start,
            "end_sec": canary_end,
            "ref_sec": CANARY_REF,
            "start_ratio": round(canary_start / CANARY_REF, 2),
            "end_ratio": round(canary_end / CANARY_REF, 2),
        },
    }
    flagged: list[str] = []
    if abs(sf - 0.1) < 1e-9:
        ratios = {n: round(t / SCALING_SF01[n], 2)
                  for n, t in timings.items() if n in SCALING_SF01}
        out["vs_scaling"] = ratios
        flagged = sorted(n for n, r in ratios.items() if r > 2.0)
        out["flagged"] = flagged
        out["remeasured"] = remeasured
    print(json.dumps(out), flush=True)
    # committed artifact: the full detail record, independent of any
    # stdout truncation in the caller's capture. Written BOTH to the
    # fixed name (committed, back-compat) and to a per-core-count name:
    # the driver benches at two core counts back-to-back and the second
    # run used to clobber the first's detail (PERF_r14 could not build
    # a scaling table because the c8 run overwrote the 32-core record).
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for detail_path in (os.path.join(here, "bench_detail.json"),
                        os.path.join(here, f"bench_detail_c{cpus}.json")):
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    # Compact headline LAST: the detailed line above is ~4 KB and a
    # truncating tail capture can cut its head off (BENCH_r06 recorded
    # "parsed": null for exactly that reason). This final line carries
    # the machine-readable contract on its own — INCLUDING the
    # per-query timings (r15): the driver keeps only the last ~2000
    # chars of stdout, and without queries in the tail-safe line
    # PERF_r14 had per_query={} / n_common=0 and round-over-round
    # regression detection was aggregate-only. 55 queries serialize to
    # ~1.5 KB with compact separators — measured against the 2000-char
    # tail with ~500 chars of headroom; revisit the chunking if the
    # suite ever grows past ~70 headliners.
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": timings,
        "flagged": flagged,
        "canary_ratios": [round(canary_start / CANARY_REF, 2),
                          round(canary_end / CANARY_REF, 2)],
    }, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
