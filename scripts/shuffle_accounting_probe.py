"""Measured shuffle accounting for the headline query families.

SCALE.md §2 claims, per family, how many shuffles run and why their volume
stays bounded at 1000×. This probe turns those claims into numbers: each
headline query executes to a ``noop`` sink inside its own job group and the
stage metrics Spark tracked for exactly those jobs — shuffle bytes
written/read, spill, scan input — are printed per query and as one JSON
line. Run it at sf0.1 (default) and read the ratios: a map-side-collapsing
aggregate should shuffle orders of magnitude less than it scans; nothing
should spill at these scales.

Usage:  python scripts/shuffle_accounting_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_stream_processing_spark.functions.stage_metrics import (
    measure_job_metrics,
    run_to_noop,
)
from energy_data_stream_processing_spark.plans.catalog import all_queries
from energy_data_stream_processing_spark.session import get_spark

# One representative per SCALE.md §2 family.
PROBE_QUERIES = [
    "total_energy_trend",        # distinct-free hourly sum: pure collapse
    "hourly_business_metrics",   # 15-metric agg incl. 2 exact distincts
    "revenue_rollup",            # hour->day->week hierarchy
    "rolling_24h_metrics",       # window over the hours-sized frame
    "customer_view",             # per-user chain, single shuffle
    "user_sessions",             # sessionization windows
    "shipping_priority",         # TPC-H-shaped join (Q3)
    "pricing_insights",          # multi-dim pricing rollup
    "dedup_exact",               # hash-groupBy dedup
    "dedup_minhash_lsh",         # banded signature join
    "dedup_ngram_jaccard",       # inverted-index exact verify
    "embedding_cosine_topk",     # brute-force ANN baseline
    "ann_ivf_topk",              # IVF cell-pruned ANN
    "sequence_packing_audit",    # FFD packing shards
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("shuffle-accounting-probe")
    qs = all_queries()
    out: dict[str, dict] = {}
    fmt = "{:<28}{:>14}{:>14}{:>12}{:>14}{:>14}{:>8}"
    print(fmt.format("query", "shuffle_w", "shuffle_r", "spill", "input", "peak_mem", "stages"))
    for name in PROBE_QUERIES:
        q = qs[name]
        df = q.builder(spark, sf_dir)
        m = measure_job_metrics(spark, lambda d=df: run_to_noop(d))
        row = {
            k: m[k]
            for k in (
                "shuffle_write_bytes", "shuffle_read_bytes",
                "memory_spill_bytes", "disk_spill_bytes",
                "input_bytes", "peak_execution_memory_bytes", "stages",
            )
        }
        out[name] = row
        print(
            fmt.format(
                name,
                row["shuffle_write_bytes"],
                row["shuffle_read_bytes"],
                row["memory_spill_bytes"] + row["disk_spill_bytes"],
                row["input_bytes"],
                row["peak_execution_memory_bytes"],
                row["stages"],
            )
        )
    print(json.dumps({"sf_dir": sf_dir, "metrics": out}))


if __name__ == "__main__":
    main()
