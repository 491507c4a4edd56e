"""Persisted-IVFADC recall under distribution drift (round 14).

The index's cells are trained ONCE on batch 0 (the frozen-artifact
deployment shape, tools/pq_index_probe.py) — but every maintenance
probe so far ingested same-distribution batches, so the open question
from the r13 verdict is: how fast does the frozen coarse quantizer
decay when the corpus DRIFTS, and what monitorable signal should
trigger a retrain?

Drift model: batch ``b`` carries vectors ``v + alpha*b * u`` with
``u`` a fixed hash-derived direction (the make_sf1 fresh-vector
machinery's hash, reused as a deterministic offset) — a progressive
mean shift, the classic embedding-drift failure (new model version,
new domain mix). Ids shift per batch as in pq_index_probe.

Measured per batch, at fixed nprobe:
- recall@10 of the persisted-index query vs the exact cosine top-10
  over the FULL current corpus, averaged over Q query vectors drawn
  from the NEWEST batch (the serving reality: fresh queries look like
  fresh data);
- the newest batch's cell-occupancy skew (max cell share under the
  frozen assignment) — the cheap, label-free leading indicator (a
  drifted batch crowds into few cells);
- recall for the same corpus/queries under cells RETRAINED on the
  full corpus (the policy's payoff arm).

Prints the table SCALING.md §index-maintenance cites.

Usage: python tools/pq_index_drift_probe.py [sf_dir] [n_batches]
       [alpha_step] [nprobe]
"""

from __future__ import annotations

import math
import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from lmo_data_catalog_spark.operators.ann_index import (  # noqa: E402
    PqIvfIndexState,
    pq_encode_codes,
)
from lmo_data_catalog_spark.operators.similarity import (  # noqa: E402
    kmeans_cells_exact,
)
from lmo_data_catalog_spark.session import get_spark  # noqa: E402

DIM = 64
Q = 10  # queries per batch, drawn from the newest batch
K = 10  # recall@K
RERANK = 50


def drifted(base, b: int, alpha: float, n: int):
    """Batch b: ids shifted by b*n, vectors v + alpha*b*u with u the
    deterministic hash direction (unit-scale per dim)."""
    if b == 0:
        return base
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))
    shift = F.transform(
        dims,
        lambda d: (
            (
                F.pmod(F.xxhash64(d, F.lit(13)), F.lit(2000001))
                / F.lit(1000000.5)
                - F.lit(1.0)
            )
            * F.lit(alpha * b)
        ).cast("float"),
    )
    vec = F.zip_with(
        F.col("embedding"), shift, lambda v, s: (v + s).cast("float")
    )
    return base.select(
        (F.col("vec_id") + F.lit(b * n)).alias("vec_id"),
        vec.alias("embedding"),
    )


def recall_at_k(state, corpus, queries) -> float:
    """Mean recall@K of the persisted-index query vs exact cosine
    top-K over ``corpus``, for the given (vec_id, embedding) query
    rows (driver-side loop over Q bounded queries)."""
    import numpy as np

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    ids = np.array(sorted(vecs))
    M = np.stack([vecs[i] for i in ids])
    Mn = M / np.sqrt((M * M).sum(axis=1, keepdims=True))
    total = 0.0
    for q in queries:
        qv = np.asarray(q["embedding"], dtype=np.float64)
        qn = qv / math.sqrt(float(qv @ qv))
        cos = Mn @ qn
        order = np.lexsort((ids, -cos))
        exact = set(ids[order[:K]].tolist())
        got = {
            r["id"]
            for r in state.adc_shortlist(
                [float(x) for x in q["embedding"]],
                nprobe=state_nprobe,
                rerank=RERANK,
            ).collect()
        }
        # exact re-rank of the shortlist (the query path's last stage,
        # replicated driver-side over <= RERANK bounded rows)
        short_ids = np.array(sorted(got))
        sc = Mn[np.searchsorted(ids, short_ids)] @ qn
        sorder = np.lexsort((short_ids, -sc))
        served = set(short_ids[sorder[:K]].tolist())
        total += len(exact & served) / K
    return total / len(queries)


def main() -> None:
    global state_nprobe
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    alpha = float(sys.argv[3]) if len(sys.argv) > 3 else 0.15
    state_nprobe = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    spark = get_spark("pq-drift-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = base.count()

    def train(df):
        _, sums = kmeans_cells_exact(
            df,
            id_col="vec_id",
            vec_col="embedding",
            dim=DIM,
            k=8,
            iters=3,
            return_state=True,
        )
        return sums

    frozen = train(base)
    state = PqIvfIndexState(
        spark, tempfile.mkdtemp(prefix="pqix_drift"), frozen
    )
    print(
        f"batch size = {n}; alpha_step = {alpha}; nprobe = "
        f"{state_nprobe}; cells trained once on batch 0"
    )
    print(
        "batch  alpha  frozen_recall@10  retrain_recall@10  "
        "batch_max_cell_share"
    )
    corpus = None
    for b in range(n_batches):
        batch = drifted(base, b, alpha, n)
        state.ingest(batch)
        corpus = batch if corpus is None else corpus.unionByName(batch)
        corpus = corpus.localCheckpoint()
        occ = (
            pq_encode_codes(batch, state.cell_sums, scale=state.scale)
            .groupBy("cell")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        share = occ / n
        queries = batch.orderBy("vec_id").limit(Q).collect()
        r_frozen = recall_at_k(state, corpus, queries)
        # retrain arm: cells fit to the FULL current corpus, fresh
        # index over the same rows (the policy's payoff)
        re_state = PqIvfIndexState(
            spark,
            tempfile.mkdtemp(prefix="pqix_drift_rt"),
            train(corpus),
        )
        re_state.ingest(corpus)
        r_retrain = recall_at_k(re_state, corpus, queries)
        print(
            f"{b:>5}  {alpha * b:5.2f}  {r_frozen:16.2f}  "
            f"{r_retrain:17.2f}  {share:20.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
