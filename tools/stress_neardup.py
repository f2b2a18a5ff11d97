"""Stress incremental near-dedup on its PRODUCTION shape (VERDICT r7
item 3): persisted corpus-side shingle table, batch = a small fraction
of the corpus — instead of the registry query's self-contained
``doc_id % 5`` split where the "batch" is 80% of the corpus and both
sides re-shingle every run.

Two phases per scale factor:

  prepare  — shingle the corpus side (doc_id % 50 != 0, i.e. 98% of
             docs), write shingles + per-doc sizes as parquet next to
             the corpus. This models prior ingests' persisted output
             and is NOT part of the incremental cost.
  measure  — wall-time the incremental run only: shingle the batch
             (doc_id % 50 == 0, 2% of docs), build its Bloom bitmap,
             prune + join the persisted corpus shingles, exact-verify.
             This is what every new ingest pays.

Usage:
  python tools/stress_neardup.py prepare SF_DIR SHINGLE_DIR
  python tools/stress_neardup.py measure SF_DIR SHINGLE_DIR [runs]

``measure`` prints one JSON line per timed run:
  {"sf_dir": ..., "sec": ..., "pairs": ..., "batch_docs": ...,
   "corpus_shingle_rows": ...}
Convention from SWEEP_SF10 artifacts: runs=2 -> first run is warm-up,
report the second.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from big_data_pipeline_spark.functions.text import exploded_shingles  # noqa: E402
from big_data_pipeline_spark.io import read_table  # noqa: E402
from big_data_pipeline_spark.session import get_spark, usable_cpus  # noqa: E402
from big_data_pipeline_spark.workloads.training_data import (  # noqa: E402
    neardup_batch_vs_corpus,
)

import os

# batch = 1/_BATCH_MOD of the document stream; override via env to
# measure how incremental cost scales with BATCH size at a fixed
# corpus (STRESS_NEARDUP_MOD=10 -> a 5x bigger batch)
_BATCH_MOD = int(os.environ.get("STRESS_NEARDUP_MOD", "50"))


def prepare(spark, sf_dir: str, shingle_dir: str) -> None:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % _BATCH_MOD != 0)
    sh = exploded_shingles(corpus, "doc_id", "text", 3)
    sh.write.mode("overwrite").parquet(f"{shingle_dir}/corpus_shingles")
    spark.read.parquet(f"{shingle_dir}/corpus_shingles").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        f"{shingle_dir}/corpus_sizes"
    )


def measure(spark, sf_dir: str, shingle_dir: str) -> dict:
    corpus_sh = spark.read.parquet(f"{shingle_dir}/corpus_shingles")
    corpus_sizes = spark.read.parquet(f"{shingle_dir}/corpus_sizes")
    t0 = time.time()
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % _BATCH_MOD == 0)
    batch_sh = exploded_shingles(batch, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )
    batch_sizes = batch_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = neardup_batch_vs_corpus(
        batch_sh, corpus_sh, batch_sizes, corpus_sizes
    ).count()
    sec = time.time() - t0
    return {
        "sf_dir": sf_dir,
        "sec": round(sec, 3),
        "pairs": pairs,
        "batch_docs": batch.count(),
        "corpus_shingle_rows": corpus_sh.count(),
    }


def main() -> int:
    mode, sf_dir, shingle_dir, *rest = sys.argv[1:]
    spark = get_spark("stress-neardup", master=f"local[{usable_cpus()}]")
    if mode == "prepare":
        prepare(spark, sf_dir, shingle_dir)
        print(json.dumps({"prepared": shingle_dir}))
        return 0
    runs = int(rest[0]) if rest else 2
    for _ in range(runs):
        print(json.dumps(measure(spark, sf_dir, shingle_dir)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
