"""A/B the IVF artifact LAYOUT (format 4 per-list dirs vs format-3 flat)
for the stored-index serving entries — the r09-verdict bisect for
`sim_cosine_topk_ivf_pq_refine`'s elevation.

Arms, interleaved rep-by-rep in ONE session (host drift cancels):

  fmt4          directory-per-list layout, broadcast-probes DPP serving
                (the shipped layout)
  flat          ONE list_id-sorted file per artifact (the format-3
                physical shape), probes joined (no partition dirs to
                prune — the join restricts rows, footers restrict pages)

If fmt4 arms are slower at sf0.1, the per-list directory scan setup
(8 dirs × 1 tiny file, listing + task per file) is the small-SF cost —
scale-justified (at 100 TB pruning at listing time wins), but worth the
committed numbers. Each rep runs under ``released_after`` so checkpoint
blocks can't accumulate into the later reps (bench.py discipline).

Usage: python tools/ab_layout.py [reps_per_arm]   (default 6)
Prints one JSON line; committed outputs live beside this script
(ab_layout_r{N}.json).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from bench import warm_median  # the pinned statistic

QUERY_KINDS = ("from_index", "sq8_from_index", "refine")
LIST_TABLES = ("coarse_assign", "codes", "sq8_codes")
COPY_TABLES = ("centroids", "codebooks", "sq8_stats")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.operators.similarity import N_QUERIES
    from csv_parquet_s3_spark.operators.similarity_index import (
        _read_lists,
        ensure_ivf_pq_index,
        ivf_pq_refined_topk,
        ivf_pq_topk_from_index,
        sq8_topk_from_index,
    )
    from csv_parquet_s3_spark.plans.materialize import released_after
    from csv_parquet_s3_spark.session import get_spark
    from csv_parquet_s3_spark.sources.tables import TABLES, load_table

    spark = get_spark(
        app_name="csv_parquet_s3_spark_ab_layout",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    fmt4_root = ensure_ivf_pq_index(spark, sf_dir)

    # flat variant of the same index: identical rows, ONE list_id-sorted
    # file per inverted-list artifact (the format-3 physical shape)
    flat_root = tempfile.mkdtemp(prefix="ivf_flat_ab_")
    for t in COPY_TABLES:
        spark.read.parquet(f"{fmt4_root}/{t}").write.mode("overwrite").parquet(
            f"{flat_root}/{t}"
        )
    for t in LIST_TABLES:
        (
            _read_lists(spark, f"{fmt4_root}/{t}")
            .repartition(1)
            .sortWithinPartitions("list_id")
            .write.mode("overwrite")
            .parquet(f"{flat_root}/{t}")
        )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def serve(kind: str, root: str):
        if kind == "from_index":
            return ivf_pq_topk_from_index(spark, queries, root)
        if kind == "sq8_from_index":
            return sq8_topk_from_index(spark, queries, root)
        return ivf_pq_refined_topk(spark, queries, emb, root)

    ARMS = {"fmt4": fmt4_root, "flat": flat_root}

    def anchor() -> float:
        ts = []
        for _ in range(4):
            t0 = time.perf_counter()
            load_table(spark, sf_dir, "lineitem").write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.perf_counter() - t0, 4))
        return warm_median(ts)

    try:
        a_pre = anchor()
        runs: dict[str, dict[str, list[float]]] = {
            k: {a: [] for a in ARMS} for k in QUERY_KINDS
        }
        for _rep in range(reps):
            for kind in QUERY_KINDS:
                for arm, root in ARMS.items():
                    t0 = time.perf_counter()
                    with released_after(spark):
                        serve(kind, root).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    runs[kind][arm].append(
                        round(time.perf_counter() - t0, 4)
                    )
        a_post = anchor()

        # sanity: every arm must produce the same answer (the layout is a
        # physical choice, never a semantic one)
        for kind in QUERY_KINDS:
            base = sorted(map(tuple, serve(kind, fmt4_root).collect()))
            flat = sorted(map(tuple, serve(kind, flat_root).collect()))
            assert base == flat, f"{kind}: flat layout diverged"

        out = {
            "sf": sf_dir,
            "reps": reps,
            "anchor_pre": a_pre,
            "anchor_post": a_post,
            "ab": {
                kind: {
                    arm: {"median": warm_median(rs), "runs": rs}
                    for arm, rs in arms.items()
                }
                for kind, arms in runs.items()
            },
        }
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(flat_root, ignore_errors=True)


if __name__ == "__main__":
    main()
