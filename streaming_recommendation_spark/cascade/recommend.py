"""The three-stage recommendation cascade as ONE DataFrame plan.

Reference dataflow (SURVEY §2.9 M1-M5):
  recall  — user embedding . item matrix, top k_recall
            (eval_online/main/lightgcn.py:32-45; model_service/
            models.py:47-55)
  exclude — drop items already in the user's history
            (model_service/models.py:61,83)
  rank    — DIN(candidate | history) score, top k_rank
            (eval_online/main/din.py:91-129, invoked inference.py:89-95)
  rerank  — RankNet(user_feat, item_feat) score, top k_final
            (eval_online/main/ranknet.py:85-105)
  chain   — k: recall 100 -> rank 50 -> rerank 20 -> final 10
            (model_service/models.py:198-210; inference.py:78-106)

Spark-first shape: everything is a DataFrame stage; per-user top-k is
a rank-filtered window (WindowGroupLimit — per-partition k-heaps);
the item side is broadcast once and reused by every stage. Scorers
are pluggable Column-builders: the default stubs are deterministic
embedding math (dot / cosine — JVM-side, no Python); a torch-backed
``predict_batch_udf`` drops into the same slots when model weights
and torch are available (not in this container — import-gated).

The reference's model_service stubs DIN/RankNet with ``random``
scores (models.py:126-130,171-175); our stubs are DETERMINISTIC
(documented divergence, required for testability).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot
from ..operators.similarity import mean_pool_grouped
from ..operators.topk import top_k_per_group


@dataclass
class CascadeConfig:
    k_recall: int = 100
    k_rank: int = 50
    k_rerank: int = 20
    k_final: int = 10
    # vector width, required by recall_strategy="lsh" (hyperplanes are
    # plan-time literals; see operators.similarity._require_dim)
    lsh_dim: int | None = None


def _default_recall_score() -> Column:
    """M1 stub: dot(user_vec, item_vec) — exactly the reference's
    LightGCN scoring (a matmul row)."""
    return dot("user_vec", "item_vec")


def _default_rank_score() -> Column:
    """M3 stub: cosine(candidate, mean-pooled history embedding) —
    a deterministic stand-in with DIN's signature (candidate scored
    against the user's history)."""
    return cosine_similarity("item_vec", "history_vec")


def _default_rerank_score() -> Column:
    """M4 stub: cosine(user_vec, item_vec) — RankNet's signature
    (user feature x item feature)."""
    return cosine_similarity("user_vec", "item_vec")


def _vectorized_brute_recall(
    users: DataFrame, items: DataFrame, k_recall: int
) -> DataFrame:
    """The brute recall (dot(user_vec, item_vec), top-k_recall per
    user, ties to the smaller item_id) computed batch-vectorized in
    numpy instead of per-pair Catalyst HOF folds — guide §4.2/§8.3:
    Spark distributes, native code does the bulk math. Measured ~6x
    on the 20M-pair q178 recall stage (the old shape spent ~20 s in
    interpreted per-pair zip_with+aggregate).

    Bit-parity with the JVM path, element by element: Catalyst's
    dot() multiplies the raw element type (float32 for the
    embeddings tables) and folds left into a DOUBLE accumulator
    (0.0 + p1 + p2 + ...); the numpy loop below multiplies in the
    SAME dtype and adds each widened product into a float64
    accumulator in the SAME order, so every score has identical
    bits and the (score desc, item_id asc) top-k selects identical
    rows (pinned by tests/test_cascade.py::
    test_vectorized_recall_matches_jvm).

    Scale shape: users hash into `spark.sql.shuffle.partitions`
    shards (deterministic xxhash64 — guide §2.5 note on rand-derived
    keys); the item side replicates per shard (explode, no join) —
    the same "item matrix on every worker" contract the broadcast
    crossJoin had, with the per-pair score rows never materialized:
    only the k_recall survivors per user leave the cogroup task. No
    construction-time jobs — the collect-free plan stays fully lazy.
    """
    import pandas as pd  # noqa: F401 (applyInPandas contract)
    from pyspark.sql.types import StructType

    spark = users.sparkSession
    shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_schema = StructType(
        [users.schema["user_id"], items.schema["item_id"]]
    )

    def score_shard(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"user_id": left["user_id"][:0], "item_id": right["item_id"][:0]}
            )
        U = np.stack(left["user_vec"].to_numpy())
        V = np.stack(right["item_vec"].to_numpy())
        item_ids = right["item_id"].to_numpy()
        # exact replay of Catalyst's fold: per-element product in the
        # source dtype, widened into a float64 accumulator, left to
        # right (0.0 + p1 + p2 + ... — IEEE ops in identical order)
        acc = np.zeros((U.shape[0], V.shape[0]), dtype=np.float64)
        for i in range(U.shape[1]):
            acc += U[:, i : i + 1] * V[:, i][None, :]
        k = min(k_recall, V.shape[0])
        # row_number over (score desc, item_id asc): lexsort's last
        # key is primary; -score asc == score desc (equal scores stay
        # ties — -0.0/+0.0 compare equal — and fall to item_id asc)
        uid_out = []
        iid_out = []
        for r in range(U.shape[0]):
            order = np.lexsort((item_ids, -acc[r]))[:k]
            uid_out.append(np.repeat(left["user_id"].iloc[r], k))
            iid_out.append(item_ids[order])
        return pd.DataFrame(
            {
                "user_id": np.concatenate(uid_out),
                "item_id": np.concatenate(iid_out),
            }
        )

    u = users.select(
        "user_id",
        "user_vec",
        F.pmod(F.xxhash64("user_id"), F.lit(shards)).alias("__shard"),
    )
    it = items.select(
        "item_id",
        "item_vec",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(shards - 1).cast("long"))
        ).alias("__shard"),
    )
    return (
        u.groupBy("__shard")
        .cogroup(it.groupBy("__shard"))
        .applyInPandas(score_shard, schema=out_schema)
    )


def recommend(
    users: DataFrame,
    items: DataFrame,
    history: DataFrame,
    config: CascadeConfig | None = None,
    recall_score: Column | None = None,
    rank_score: Column | None = None,
    rerank_score: Column | None = None,
    recall_strategy: str = "brute",
) -> DataFrame:
    """Run the cascade for every user in `users`.

    users:   (user_id, user_vec: array<double-ish>)
    items:   (item_id, item_vec)
    history: (user_id, item_id) — already-seen pairs to exclude (J6)

    Returns (user_id, item_id, rank) with rank 1..k_final.

    Plan shape: items broadcast to every stage; the candidate set
    shrinks 100 -> 50 -> 20 -> 10 per user, so later stages are
    narrow. One shuffle per top-k window, all on user_id — Spark
    reuses the partitioning across consecutive windows.
    """
    cfg = config or CascadeConfig()

    # M1 recall. recall_strategy:
    #   "brute" — score every (user, item) pair (exact). With the
    #             default dot scorer this runs the numpy-vectorized
    #             cogroup (_vectorized_brute_recall — bit-identical,
    #             guide §4.2); a CUSTOM recall_score Column keeps the
    #             crossJoin+window shape (the Column must evaluate
    #             in-plan).
    #   "brute_jvm" — force the crossJoin+window reference shape.
    #   "lsh"   — SRP-LSH bucketed approximate recall: at 100 TB the
    #             item corpus is too large to score densely; buckets
    #             prune ~1/2^P per table (same output contract)
    if recall_strategy == "lsh":
        from ..operators.similarity import lsh_knn

        recalled = lsh_knn(
            items,
            users.select("user_id", F.col("user_vec").alias("item_vec")),
            k=cfg.k_recall,
            dim=cfg.lsh_dim,
            id_col="item_id",
            vec_col="item_vec",
            query_id_col="user_id",
        ).select("user_id", F.col("neighbor_id").alias("item_id"))
    elif recall_score is None and recall_strategy == "brute":
        recalled = _vectorized_brute_recall(users, items, cfg.k_recall)
    else:
        scored = users.crossJoin(F.broadcast(items)).select(
            "user_id",
            "item_id",
            (
                recall_score if recall_score is not None else _default_recall_score()
            ).alias("recall_score"),
        )
        recalled = top_k_per_group(
            scored,
            cfg.k_recall,
            ["user_id"],
            F.col("recall_score").desc(),
            F.col("item_id").asc(),
        )

    # J6: drop items the user has already interacted with.
    fresh = recalled.join(history, ["user_id", "item_id"], "left_anti")

    # History mean-pool for the rank stub (A7): mean of history item
    # vectors per user; users with no history get a zero vector.
    hist_vecs = mean_pool_grouped(
        history.join(F.broadcast(items), "item_id"), "user_id", "item_vec"
    ).withColumnRenamed("mean_vec", "history_vec")

    # M3 rank: candidate vs history context, keep k_rank.
    with_feats = (
        fresh.join(F.broadcast(items), "item_id")
        .join(hist_vecs, "user_id", "left")
        .withColumn(
            "history_vec",
            F.coalesce(
                F.col("history_vec"),
                F.transform(F.col("item_vec"), lambda _: F.lit(0.0)),
            ),
        )
    )
    ranked = top_k_per_group(
        with_feats.select(
            "user_id",
            "item_id",
            "item_vec",
            (rank_score if rank_score is not None else _default_rank_score()).alias(
                "rank_score"
            ),
        ),
        cfg.k_rank,
        ["user_id"],
        F.col("rank_score").desc(),
        F.col("item_id").asc(),
    )
    shortlisted = top_k_per_group(
        ranked,
        cfg.k_rerank,
        ["user_id"],
        F.col("rank_score").desc(),
        F.col("item_id").asc(),
    )

    # M4 rerank: user embedding vs item embedding, final top-k.
    final_scored = shortlisted.join(
        users.select("user_id", "user_vec"), "user_id"
    ).select(
        "user_id",
        "item_id",
        (rerank_score if rerank_score is not None else _default_rerank_score()).alias(
            "rerank_score"
        ),
    )
    return top_k_per_group(
        final_scored,
        cfg.k_final,
        ["user_id"],
        F.col("rerank_score").desc(),
        F.col("item_id").asc(),
        rank_col="rank",
    ).select("user_id", "item_id", "rank")
