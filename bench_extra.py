#!/usr/bin/env python
"""Per-query optimization harness (guide §1): noop-sink isolated timing
with repeats + .explain("formatted") capture.

NOT the driver bench — bench.py stays the frozen measurement contract.
This file exists so optimization work can (a) time each declared query
in isolation against the noop sink (no output cost, no count() column
pruning), (b) capture before/after plans into plans/r08/, and
(c) report median-of-N numbers robust to the sandbox host's noise.

Usage:
  python bench_extra.py plans [out_suffix]   # dump explain() for bench queries
  python bench_extra.py time  [q1,q2,...]    # median-of-N noop timings
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, WMD_EXTRA_REPEATS (default 3)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from watermark_detector_spark.session import DEFAULT_CPUS as CPUS

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("WMD_EXTRA_REPEATS", "3"))
PLANS_DIR = os.environ.get("WMD_PLANS_DIR", "/root/repo/plans/r08")

# the queries bench.py times (the driver's per-query perf record)
BENCH_QUERIES = [
    "q02_groupby_agg", "q03_join_agg", "q09_time_window_agg",
    "q17_jaccard_pairs", "q18_minhash_sigs", "q19_simhash",
    "q20_cosine_pairs", "q21_ann_topk", "q44_lsh_ann_candidates",
    "q45_near_dup_pairs", "q59_dedup_clusters", "q70_quality_rules",
    "q72_funnel", "q78_gopher_gates", "q80_pii_scrub",
    "q82_sequence_match", "q97_range_join", "q99_lm_quality",
    "q100_pack_sequences", "q116_pagerank", "q117_hll_distinct",
]


def _spark():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from watermark_detector_spark.session import get_spark

    return get_spark(app_name="wmd-extra", cpus=CPUS, extra_conf={
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.shuffle.partitions": "32",
    })


def dump_plans(suffix: str = "before", names: list[str] | None = None) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    os.makedirs(PLANS_DIR, exist_ok=True)
    q = entrymod.queries()
    for name in names or BENCH_QUERIES:
        df = q[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(PLANS_DIR, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange)")
    spark.stop()


def time_queries(names: list[str] | None = None) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    q = entrymod.queries()
    names = names or BENCH_QUERIES
    # warmup: spin the python worker pool + codegen on a cheap query
    q["q02_groupby_agg"](spark, SF_DIR).write.format("noop").mode(
        "overwrite").save()
    out = {}
    for name in names:
        samples = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.time()
            q[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"median": statistics.median(samples), "samples": samples}
        print(name, out[name], flush=True)
    print(json.dumps({k: v["median"] for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    arg = sys.argv[2] if len(sys.argv) > 2 else None
    if mode == "plans":
        dump_plans(arg or "before")
    else:
        time_queries(arg.split(",") if arg else None)
