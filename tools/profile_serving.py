"""Stage-level wall profile of the two heaviest serving probes
(`retrieval_bm25_from_index`, `sim_cosine_topk_ivf_pq_refine`) — r12
verdict #4: four rounds of flat watch numbers graduate to a PROFILE that
says where the wall goes, at sf0.1 and at the factor-100 derived corpus.

Method: time nested plan PREFIXES of each serving pipeline to the noop sink
(guide §1.4), reps with warm-median (the pinned statistic), pre/post scan
anchors for calmness. Stage cost ≈ prefix[k] − prefix[k−1] (each prefix
re-executes its predecessors, so deltas attribute wall to the added stage;
the probes-materialize job inside the IVF path is re-paid per prefix and
shows up in every prefix equally). The index build is done ONCE before
timing (ensure_*), exactly like a bench invocation's steady state.

Usage:
    python tools/profile_serving.py [out.json]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_REPS (default 5).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from bench import warm_median


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO_DIR, "tools", "profile_serving.json"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.operators import retrieval as R
    from csv_parquet_s3_spark.operators import similarity_index as S
    from csv_parquet_s3_spark.operators.similarity import _with_norm
    from csv_parquet_s3_spark.plans.materialize import released_after
    from csv_parquet_s3_spark.session import get_spark
    from csv_parquet_s3_spark.sources.tables import load_table, read_parquet

    spark = get_spark(
        app_name="profile_serving",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # steady state: indexes resolved/built before anything is timed
    bm25_root = R.ensure_bm25_index(spark, sf_dir)
    pq_root = S.ensure_ivf_pq_index(spark, sf_dir)
    load_table(spark, sf_dir, "embeddings").count()

    runs: dict[str, list[float]] = {}

    def timed(tag: str, frame_fn) -> None:
        per = []
        for _ in range(reps):
            t0 = time.perf_counter()
            with released_after(spark):
                spark.sparkContext.setJobDescription(f"profile: {tag}")
                frame_fn().write.format("noop").mode("overwrite").save()
                spark.sparkContext.setJobDescription(None)
            per.append(round(time.perf_counter() - t0, 4))
        runs[tag] = per

    def anchor(tag: str) -> None:
        per = []
        for _ in range(reps):
            t0 = time.perf_counter()
            load_table(spark, sf_dir, "lineitem").write.format("noop").mode(
                "overwrite"
            ).save()
            per.append(round(time.perf_counter() - t0, 4))
        runs[f"calib_scan_{tag}"] = per

    # ---- BM25 serving prefixes --------------------------------------------
    def bm25_qterms():
        doc_tf = read_parquet(spark, f"{bm25_root}/doc_tf")
        return doc_tf.filter(F.col("doc_id") < R.N_QUERIES).select(
            F.col("doc_id").alias("query_id"), "token"
        )

    def bm25_enriched():
        doc_tf = read_parquet(spark, f"{bm25_root}/doc_tf")
        df = read_parquet(spark, f"{bm25_root}/df")
        n_docs, avgdl = R._bm25_stats_scalars(spark, bm25_root)
        return (
            doc_tf.join(F.broadcast(bm25_qterms()), "token")
            .filter(F.col("doc_id") != F.col("query_id"))
            .join(df, "token")
            .withColumn("n_docs", F.lit(n_docs))
            .withColumn("avgdl", F.lit(avgdl))
        )

    def bm25_scored():
        return bm25_enriched().groupBy("query_id", "doc_id").agg(
            F.sum(R._bm25_term_score()).alias("score_sum")
        )

    def bm25_full():
        return R._bm25_serve_from(spark, bm25_root)

    # ---- IVF×PQ refine prefixes -------------------------------------------
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < S.N_QUERIES)

    def pq_probes_and_candidates():
        cand, _probes = S._stored_coarse_candidates(spark, queries, pq_root)
        return cand

    def pq_codes_scan():
        _cand, probes = S._stored_coarse_candidates(spark, queries, pq_root)
        return S._restrict_to_probed(
            S._read_lists(spark, f"{pq_root}/codes"), probes
        )

    def pq_from_index():
        return S.ivf_pq_topk_from_index(spark, queries, pq_root)

    def pq_shortlist_join():
        shortlist = S.ivf_pq_topk_from_index(
            spark, queries, pq_root, k=S.REFINE_FACTOR * S.TOP_K
        ).select("query_id", "cand_id")
        v = _with_norm(emb).select("vec_id", "vd", "norm")
        cv = v.select(
            F.col("vec_id").alias("cand_id"),
            F.col("vd").alias("cv2"),
            F.col("norm").alias("cnorm2"),
        )
        return shortlist.join(cv, "cand_id")

    def pq_refine_full():
        return S.ivf_pq_refined_topk(spark, queries, emb, pq_root)

    anchor("pre")
    stages = [
        ("bm25_1_qterms", bm25_qterms),
        ("bm25_2_enriched", bm25_enriched),
        ("bm25_3_scored", bm25_scored),
        ("bm25_4_full", bm25_full),
        ("pq_1_candidates", pq_probes_and_candidates),
        ("pq_2_codes_scan", pq_codes_scan),
        ("pq_3_from_index", pq_from_index),
        ("pq_4_shortlist_join", pq_shortlist_join),
        ("pq_5_refine_full", pq_refine_full),
    ]
    # interleave stage order per rep? stages are nested prefixes — run each
    # stage's reps together (the warm-median discards cold reps), anchors
    # bound the window.
    for tag, fn in stages:
        timed(tag, fn)
    anchor("post")

    med = {k: warm_median(v) for k, v in runs.items()}
    pre, post = med["calib_scan_pre"], med["calib_scan_post"]
    a = round((pre + post) / 2, 4)
    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "anchor_pre": pre,
        "anchor_post": post,
        "anchor_spread": round(abs(pre - post) / max(pre, post), 4)
        if max(pre, post)
        else 0.0,
        "median": {k: med[k] for k, _ in stages},
        "normalized": {k: round(med[k] / a, 4) for k, _ in stages} if a else {},
        "deltas": {},
        "runs": runs,
    }
    order = [t for t, _ in stages]
    for fam in ("bm25", "pq"):
        fam_tags = [t for t in order if t.startswith(fam)]
        prev = 0.0
        for t in fam_tags:
            out["deltas"][t] = round(med[t] - prev, 4)
            prev = med[t]
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"median": out["median"], "deltas": out["deltas"],
                      "anchor_spread": out["anchor_spread"]}))


if __name__ == "__main__":
    main()
