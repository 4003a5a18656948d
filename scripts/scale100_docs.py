"""sf10-equivalent (100x) scale harness for the DOCUMENTS family — the
dedup/text/training-pipeline decade on top of scale10's sf1 table.

Builds documents x100 (500k docs) with the per-copy vocabulary
permutation from scripts/_scalebuild.py: within-copy near-dup structure,
quality scores and shingle-df statistics preserved EXACTLY, cross-copy
similarity destroyed, so true pair count AND inverted-index join volume
grow linearly. Embeddings stay at sf0.1 (the vector family's scale path
is measured separately); events/lineitem copy verbatim.

    python scripts/scale100_docs.py [outdir]

Prints | query | sf1 s | sf10 s | x(1->10) | against /tmp/sf1eq
(falls back to sf0.1 when absent).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

SRC = "/root/testdata/sf0.1"
SF1EQ = "/tmp/sf1eq"
WARM = "/root/testdata/sf0.001"

KEYS = (
    "dedup-exact",
    "dedup-ngram-jaccard",
    "dedup-minhash-md5",
    "dedup-simhash-md5-pairs",
    "text-quality",
    "text-token-count",
    "text-bigram-counts",
    "text-tfidf-top-terms",
    "text-temperature-sample",
    "text-pack-sequences",
    "op-stratified-sample",
    "plan-corpus-clean-v2",
    # plan-corpus-train is measured through sf1 (SCALING sf1 table,
    # 4.6x/decade); at sf10 its connected-components rounds alone run
    # tens of minutes — out of budget for this harness, growth already
    # characterized by its stages (all present below + sf1 row)
    # late-r5 documents-family additions
    "text-bigram-lift",
    "dedup-passage-exact",
    "dedup-passage-pairs",
    "plan-multimodal-dedup",
)

VERBATIM = ("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "embeddings")


def build(out: str) -> None:
    from _scalebuild import replicate_documents
    os.makedirs(out, exist_ok=True)
    for t in VERBATIM:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    replicate_documents(f"{SRC}/documents.parquet",
                        f"{out}/documents.parquet", 100)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10docs"
    if not os.path.exists(f"{out}/documents.parquet"):
        print(f"# building 100x documents at {out} ...", file=sys.stderr)
        build(out)
    base = SF1EQ if os.path.exists(f"{SF1EQ}/documents.parquet") else SRC
    label = "sf1 s" if base == SF1EQ else "sf0.1 s"

    from tf_prisma_api_data_ingestion_spark import cache, tables
    from tf_prisma_api_data_ingestion_spark.actions import materialize
    from tf_prisma_api_data_ingestion_spark.catalog import (
        QUERIES,
        THROUGHPUT_QUERIES,
    )
    from tf_prisma_api_data_ingestion_spark.session import get_spark

    spark = get_spark("scale100docs")
    tables.assert_contract(spark, SRC)
    for sf in (base, out):
        for t in tables.TABLE_NAMES:
            tables.load(spark, sf, t).count()

    def _reclaim() -> None:
        # shuffle files persist until their dependency is GC'd; at 100x a
        # SINGLE uncapped-jaccard pass writes ~35 GB of shuffle, so dead
        # shuffle must be reclaimed after every pass, not just per key —
        # nudging the JVM GC lets the ContextCleaner delete the files
        spark.sparkContext._jvm.System.gc()

    def timed(name: str, sf: str) -> float:
        fn = QUERIES.get(name) or THROUGHPUT_QUERIES[name]
        try:
            materialize(fn(spark, WARM))
        except Exception as ex:  # noqa: BLE001
            print(f"# warmup failed for {name}: {ex}", file=sys.stderr)
        cache.release_all(blocking=True)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            materialize(fn(spark, sf))
            best = min(best, time.time() - t0)
            cache.release_all(blocking=True)
            _reclaim()
        return best

    print(f"| query | {label} | sf10 s | x(1->10) |")
    print("|---|---|---|---|")
    for name in KEYS:
        a = timed(name, base)
        b = timed(name, out)
        _reclaim()
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
