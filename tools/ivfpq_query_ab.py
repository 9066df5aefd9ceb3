"""Interleaved A/B of the persisted IVF-PQ dense leg: ``ivfpq_query_index``
from a baseline checkout against the working tree, on the corpus_serve
benchmark's own index shape (320 built + 40 appended 64-dim vectors,
k_centroids=16, m=8, ks=16, k=10).

For each query, each arm appends the batch to a fresh copy of the built
index (untimed, with that arm's own ``append_to_ivfpq_index``), then times
one request, ``ivfpq_query_index(...).collect()`` on a one-row Python-list
query frame, and counts the Spark jobs it ran. The arm order alternates
per query; the outputs of the two arms are asserted identical. Run from
the repository root:

    git archive <ref> | tar -x -C /tmp/base
    python tools/ivfpq_query_ab.py /tmp/base [n_queries] [out.json]
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nextgenetl_spark.operators import similarity  # noqa: E402
from nextgenetl_spark.session import get_spark  # noqa: E402
from perfbench import gen  # noqa: E402

N_BASE, APPEND_ROWS, K = 320, 40, 10


def _load_baseline(root: str):
    path = os.path.join(root, "nextgenetl_spark", "operators", "similarity.py")
    spec = importlib.util.spec_from_file_location("baseline_similarity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    base_root = sys.argv[1]
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    out_path = sys.argv[3] if len(sys.argv) > 3 else "IVFPQ_QUERY_AB.json"
    arms = {"baseline": _load_baseline(base_root), "change": similarity}
    spark = get_spark("ivfpq_query_ab")
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="ivfpq_ab_")
    seed = 21
    tabs = gen.tables(seed, 0.02, ("embeddings",))
    gen.write_tables(tabs, work)
    ids = tabs["embeddings"]["vec_id"].to_numpy()
    vecs = np.stack(tabs["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
    emb = spark.read.parquet(os.path.join(work, "embeddings.parquet"))
    built = os.path.join(work, "built")
    similarity.build_ivfpq_index(
        emb.filter(F.col("vec_id") < N_BASE), built, k_centroids=16, refine_iters=0, m=8, ks=16
    )
    batch = emb.filter((F.col("vec_id") >= N_BASE) & (F.col("vec_id") < N_BASE + APPEND_ROWS))
    rng = np.random.default_rng(seed)
    qids = [int(q) for q in rng.choice(ids[ids < N_BASE], size=n_queries + 1, replace=False)]

    def request(name, mod, i, qid):
        serving = os.path.join(work, f"{name}{i}")
        shutil.copytree(built, serving)
        mod.append_to_ivfpq_index(spark, serving, batch, batch_id=0)
        qvec = vecs[int(np.where(ids == qid)[0][0])].astype(np.float32)
        q = spark.createDataFrame([(qid, qvec.tolist())], "query_id long, embedding array<float>")
        group = f"ab-{name}-{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        rows = mod.ivfpq_query_index(spark, serving, q, k=K).collect()
        wall = time.perf_counter() - t0
        sc.setJobGroup("idle", "idle")
        return wall, len(sc.statusTracker().getJobIdsForGroup(group)), sorted(map(tuple, rows))

    for name, mod in arms.items():  # warm-up, not recorded
        request(name, mod, -1, qids[-1])
    records = []
    for i, qid in enumerate(qids[:-1]):
        order = list(arms) if i % 2 == 0 else list(arms)[::-1]
        res = {name: request(name, arms[name], i, qid) for name in order}
        assert res["baseline"][2] == res["change"][2], f"outputs differ for query {qid}"
        records.append({
            "query_id": qid,
            "order": order,
            **{f"{n}_wall_s": round(res[n][0], 4) for n in arms},
            **{f"{n}_jobs": res[n][1] for n in arms},
        })
        print(records[-1], flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    summary = {
        n: {
            "median_wall_s": round(statistics.median(r[f"{n}_wall_s"] for r in records), 4),
            "median_jobs": statistics.median(r[f"{n}_jobs"] for r in records),
        }
        for n in arms
    }
    doc = {
        "what": "ivfpq_query_index dense leg after an append, baseline tree vs change",
        "command": "python tools/ivfpq_query_ab.py <baseline checkout> "
                   f"{n_queries} {os.path.basename(out_path)}",
        "data_seed": seed,
        "host": {"cpus": os.cpu_count(), "spark_master": sc.master},
        "outputs_identical": True,
        "change_wins": sum(r["change_wall_s"] < r["baseline_wall_s"] for r in records),
        "summary": summary,
        "queries": records,
    }
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
