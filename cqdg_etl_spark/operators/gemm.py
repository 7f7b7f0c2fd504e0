"""Arrow/BLAS similarity kernels — the batched-matmul scale path."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via batched matrix multiplication — the BLAS
    scale path for exact similarity search. Same contract and result as
    ``brute_force_topk`` (query_id, neighbor_id, rank, cos): ties broken
    by neighbor id, cos rounded to 6dp for presentation while ranking
    runs on the full float64 scores.

    Scale shape: the query block (a bounded query workload, O(|Q|·d))
    is collected once and ships inside the Arrow-kernel closure — the
    same closure-data pattern as the IVF centroids. Each corpus
    partition then runs ONE numpy GEMM per Arrow batch
    (batch × d @ d × |Q|), folds the batch results into an O(|Q|·k)
    running top-k, and emits its LOCAL top-k per query once at
    partition end (|partitions|·|Q|·k skinny candidate rows — batch
    count does NOT appear in the bound), so the global row_number
    window ranks a tiny frame. Contrast with
    ``brute_force_topk``, whose per-pair JVM fold evaluates the dot
    product expression row-at-a-time: the arithmetic here is identical
    float64 (modulo summation order, absorbed by the repo-wide
    round-6 presentation convention) but vectorized across the whole
    batch — the formulation that keeps 1000 executors busy at 100 TB
    corpus scale with zero shuffle before the candidate aggregate.

    Local-top-k correctness: the global top-k under the total order
    (cos desc, neighbor_id asc) restricted to any partition is that
    partition's top-k under the same order, so emitting k per
    (partition, query) is a lossless candidate superset.

    Degenerate-vector contract (shared with ``brute_force_topk``): a
    zero-norm vector has cosine 0.0 to everything — norms are floored
    before the divide, so 0/eps = 0 exactly and no NaN ever enters the
    ranking. Without the floor the two paths silently diverge on
    degenerate rows: numpy's lexsort drops NaN to the end while JVM
    ordering treats NaN as the largest double.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .collect()
    )
    if not q_rows:
        empty = "query_id bigint, neighbor_id bigint, rank bigint, cos double"
        return corpus.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_mat = q_mat / np.maximum(q_norms, 1e-300)  # zero-norm -> cos 0.0

    n_q = len(q_ids)

    def local_topk(batches):
        # Running top-k per query ACROSS the partition's Arrow batches,
        # emitted ONCE at partition end — per-batch emission would
        # inflate the candidate frame by the batch count (a 10M-row
        # partition is ~10³ batches at the default Arrow batch size).
        # State is O(|Q|·k); the per-batch merge concatenates the k
        # incumbents with the batch's k best and re-truncates.
        best_ids = [np.empty(0, dtype=np.int64) for _ in range(n_q)]
        best_cos = [np.empty(0, dtype=np.float64) for _ in range(n_q)]
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["_v"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            # floor: zero-norm corpus rows score 0.0, never NaN
            cos = (c_mat / np.maximum(norms, 1e-300)) @ q_mat.T  # |batch| × |Q|
            kk = min(k, len(ids))
            for j in range(n_q):
                col = cos[:, j]
                # total order (cos desc, neighbor_id asc); lexsort keys
                # are listed least-significant first
                order = np.lexsort((ids, -col))[:kk]
                merged_ids = np.concatenate((best_ids[j], ids[order]))
                merged_cos = np.concatenate((best_cos[j], col[order]))
                keep = np.lexsort((merged_ids, -merged_cos))[:k]
                best_ids[j], best_cos[j] = merged_ids[keep], merged_cos[keep]
        out_q = np.repeat(q_ids, [len(b) for b in best_ids])
        if len(out_q):
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": np.concatenate(best_ids),
                    "cos": np.concatenate(best_cos),
                }
            )

    # NOT spread (r11 probe): repartitioning the corpus before the
    # GEMM pass measured a LOSS at sf0.1 (0.36 vs 0.26 best-of) — the
    # vector-payload exchange + worker spin-up exceeds the batched
    # matmul — and at scale it would add a full-corpus shuffle to a
    # design whose point is zero shuffle before the candidate
    # aggregate.
    cand = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).mapInPandas(
        local_topk, "query_id bigint, neighbor_id bigint, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos", 6).alias("cos"),
        )
    )
