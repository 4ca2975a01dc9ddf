"""Deterministic mini-batch-free Lloyd k-means over an embedding column,
entirely in DataFrame expressions — the coarse quantizer behind
operators.quantize.quantized_ivf_topk and operators.mining
(plans.documents.ann_ivf_label_topk uses the corpus ``label`` as a
stand-in cell instead).

Scale shape per iteration (N vectors × dim, k centroids):
- assignment: broadcast the k×dim centroid table (tiny) over one corpus
  scan; argmin via ``min(struct(dist, cid))`` — a hash aggregate, no
  window, no shuffle of the vectors themselves;
- update: posexplode each vector to (cid, pos, val) rows — N×dim rows
  shuffled by (cid, pos), far smaller than the corpus when dim ≪ row
  payload — then one more aggregate rebuilds the k×dim centroid table.
Driver holds only k×dim floats between iterations. Nothing here is
quadratic in N; 100 TB cost is iters × (scan + N×dim shuffle).

Determinism: init picks the k vectors with the smallest
``md5(vec_id)`` — a seedless, engine-reproducible pseudo-random sample —
and every argmin tie breaks on centroid id, so repeated runs (and both
engines) produce identical assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_l2(a, b):
    """Squared L2 distance between two equal-length double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_fit_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations; returns ``(assignments,
    centroids)`` — ``(id, cell, dist)`` per vector and ``(cell,
    centroid)`` per cluster.

    Both returned relations come back persisted and materialized (the
    Lloyd lineage is expensive to replay); every internal cache —
    the vector table and each superseded iteration's centroids — is
    released before returning. Callers keeping a session alive should
    ``unpersist()`` the returned frames once consumed.
    """
    # persist: every iteration references the vector relation twice
    # (assignment scan + update join) — the standard iterative-ML cache
    # (at cluster scale this is the persisted feature table).
    vecs = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).persist()

    # deterministic init: k corpus vectors with the smallest md5(id).
    centroids = (
        vecs.withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("__h")).alias("cell"),
            F.col("__v").alias("centroid"),
        )
        .persist()
    )

    for _ in range(iters):
        prev_centroids = centroids
        assigned = _assign(vecs, centroids)
        # update: element-wise mean per cell via posexplode — N×dim rows,
        # two aggregates, no collect. persist each iteration's (tiny,
        # k×dim) centroid table: it is referenced by the next assignment
        # AND by every downstream consumer of the returned frames —
        # without the boundary each reference re-executes the whole
        # nested Lloyd lineage.
        centroids = (
            assigned.join(vecs, "__id")
            .select("cell", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("centroid")
            )
            .persist()
        )
        # the new table supersedes the old one everywhere downstream;
        # materialize it (tiny — k×dim) and release the old cache so a
        # long-lived session doesn't accumulate one relation per
        # iteration per call
        centroids.count()
        prev_centroids.unpersist()

    # materialize the final assignment (far smaller than the vectors:
    # one (id, cell, dist) row each), then release the internal vector
    # cache — nothing downstream re-reads it through this lineage. The
    # two RETURNED relations stay persisted; callers owning a long
    # session unpersist them when done (quantized_ivf_topk does).
    assigned = _assign(vecs, centroids).select(
        F.col("__id").alias(id_col), "cell", F.col("__dist").alias("dist")
    ).persist()
    assigned.count()
    vecs.unpersist()
    return assigned, centroids


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast k centroids over one scan;
    argmin as min(struct(dist, cell)) with the cell id as tiebreak."""
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "__id",
        F.struct(
            _sq_l2(F.col("__v"), F.col("centroid")).alias("d"),
            F.col("cell").alias("c"),
        ).alias("__dc"),
    )
    best = scored.groupBy("__id").agg(F.min("__dc").alias("__best"))
    return best.select(
        "__id",
        F.col("__best.c").alias("cell"),
        F.col("__best.d").alias("__dist"),
    )
