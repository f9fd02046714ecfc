"""Scale + skew evidence for the shared MinHash build (VERDICT r16
item #6): the memoized pair build is the single hot path for ten
queries, so its 100 TB story needs two measurements beyond the sf0.1
bench rows:

1. the 10x build at TWO shuffle layouts (32 and 8 partitions) — the
   build must not be tuned to one layout (the memo keys on the layout,
   so both are first-class), and the pair set must be identical;
2. the 10x corpus with a PLANTED hot band bucket (2000 byte-identical
   boilerplate docs appended as one extra ingest file) — the
   max_bucket cap must keep the band self-join bounded: wall time
   within noise of the unplanted build and ZERO pairs inside the
   planted cluster (its over-cap buckets are dropped before the join;
   the planted file is staged in a SEPARATE dir of symlinks so the
   real scaled corpus's fingerprint-keyed artifacts are not poisoned).

Companion to tests/test_minhash_skew.py (the same cap property pinned
on a small engineered corpus, asserted in CI).

Usage: python tools/scale_skew_probe.py [scaled_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

RECIPE = dict(
    threshold=0.5,
    n_hashes=12,
    band_size=3,
    shingle_n=2,
    max_bucket=64,
    sig_agree_min=5,
)
HOT_N = 2000
HOT_ID0 = 900_000_000


def build_hot_dir(scaled: str) -> str:
    """documents-only corpus dir: symlinks to the scaled corpus's part
    files plus one extra file of HOT_N identical boilerplate docs."""
    hot = "/tmp/sf_scaled_hotplant"
    shutil.rmtree(hot, ignore_errors=True)
    docs_dir = os.path.join(hot, "documents.parquet")
    os.makedirs(docs_dir)
    src = os.path.join(scaled, "documents.parquet")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(src, f), os.path.join(docs_dir, f))
    boiler = " ".join(f"boiler{i} plate{i}" for i in range(40))
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(
                [HOT_ID0 + i for i in range(HOT_N)], dtype="int64"
            ),
            "text": [boiler] * HOT_N,
            "lang": "en",
            "source": "hotplant",
            "n_chars": pd.array([len(boiler)] * HOT_N, dtype="int64"),
        }
    )
    pdf.to_parquet(os.path.join(docs_dir, "part-hot.parquet"), index=False)
    return hot


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_scaled"

    from pyspark.sql import functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp
    from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    spark = get_spark("scale-skew-probe")
    # warm the JVM on an unrelated scan + shuffle
    read_table(spark, scaled, "documents").groupBy("lang").count().collect()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    counts: dict[str, int] = {}
    try:
        # --- (1) two shuffle layouts over the honest 10x corpus ---
        for parts in ("32", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            dp.clear_memos()
            t0 = time.perf_counter()
            pairs = dp._minhash_verified_pairs(spark, scaled, **RECIPE)
            n = pairs.count()
            dt = time.perf_counter() - t0
            counts[f"layout{parts}"] = n
            print(
                f"10x build, shuffle.partitions={parts}: {dt:6.2f}s, "
                f"pairs={n}",
                flush=True,
            )
        assert counts["layout32"] == counts["layout8"], counts

        # --- (2) planted hot bucket at 10x ---
        hot = build_hot_dir(scaled)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        dp.clear_memos()
        t0 = time.perf_counter()
        pairs = dp._minhash_verified_pairs(spark, hot, **RECIPE)
        n_total = pairs.count()
        n_hot = pairs.filter(
            (F.col("doc_a") >= HOT_ID0) & (F.col("doc_b") >= HOT_ID0)
        ).count()
        dt = time.perf_counter() - t0
        print(
            f"10x + {HOT_N} planted identical docs: {dt:6.2f}s, "
            f"pairs={n_total}, pairs inside planted cluster={n_hot} "
            f"(uncapped would be {HOT_N * (HOT_N - 1) // 2})",
            flush=True,
        )
        assert n_hot == 0, "max_bucket cap failed to drop the hot bucket"
        shutil.rmtree(hot, ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


if __name__ == "__main__":
    main()
