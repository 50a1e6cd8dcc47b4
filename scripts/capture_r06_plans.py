"""Capture .explain('formatted') for the query paths touched in r6 session 2
(ann family norm-precompute, terms-from-partials, lineage derivation).

Usage: python scripts/capture_r06_plans.py <before|after>
Writes plans/r06/<name>_<tag>.txt
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

TAG = sys.argv[1] if len(sys.argv) > 1 else "after"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    import __spark_entry__ as entrymod
    from geocoderpl_spark.session import get_spark

    spark = get_spark(app_name=f"plans_{TAG}", cpus=8)
    os.makedirs(OUT, exist_ok=True)
    for name in (
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "dedup_embedding_lsh",
    ):
        df = entrymod.queries()[name](spark, SF)
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan_of(df))
        print(f"wrote {name}_{TAG}.txt")

    # terms-dictionary stage plan: aggregate source (tf rescan vs partials)
    idx = entrymod._index_for(spark, SF)
    import glob

    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.postings import build_terms

    tf = spark.read.parquet(os.path.join(idx.root, "tf")).filter(
        F.col("term").isNotNull()
    ).drop("sha256")
    tpart_dir = os.path.join(idx.root, "tf", "_termstats")
    tpart = (
        spark.read.parquet(tpart_dir)
        if glob.glob(os.path.join(tpart_dir, "*.parquet"))
        else None
    )
    t = build_terms(tf, partials=tpart)
    with open(os.path.join(OUT, f"build_terms_stage_{TAG}.txt"), "w") as f:
        f.write(plan_of(t))
    t._stats_cache.unpersist()
    print(f"wrote build_terms_stage_{TAG}.txt")


if __name__ == "__main__":
    main()
