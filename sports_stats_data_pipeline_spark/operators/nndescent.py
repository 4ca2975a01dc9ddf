"""Graph ANN: distributed k-NN-graph construction (NN-Descent) and
beam graph search — the HNSW-class leg of the similarity family.

IVF (operators/quantize.py) and the three LSH families cover
bucketed candidate generation, but the production question at high
dimension is RECALL: graph indexes (HNSW, NSG, DiskANN) dominate the
recall/latency frontier, and their base structure is a k-NN GRAPH. The
canonical offline builder is NN-Descent (Dong, Moses & Li, WWW 2011):
start from an arbitrary neighbor guess and iterate "a neighbor of my
neighbor is probably my neighbor" — each round joins the current graph
with itself, scores the new candidate pairs, and keeps the k best per
node. Empirically converges in a handful of rounds at ~90%+ recall
with O(n·k²) work per round — no pairwise scan anywhere.

Spark shape (all built-ins, deterministic):

- **init**: neighbors are the ±⌈k/2⌉ ids adjacent in (RP-bucket,
  md5(id)) order — an LSH-warmed deterministic seeding: 8 corpus
  vectors (md5-minimal ids, the kmeans-init convention) act as random
  hyperplanes, so adjacency in the sort order is biased toward true
  cosine neighbors (measured ~2x the recall of a pure md5 shuffle on
  UNIFORM vectors; on clustered data the init starts near-converged).
  One broadcast cross join against 8 plane rows + one window + one
  explode — no O(n²) seeding.
- **round**: undirected edge view → neighbor-of-neighbor expansion
  (self-join on the shared endpoint) → ``distinct`` → score new pairs
  (two joins against the vector table, cosine) → union with current
  edges → top-k per node (sim desc, id asc — total order, so the
  result is independent of partitioning and join order).
- **lineage**: each round ends in an eager checkpoint whose blocks are
  REALLY released next round (operators/iterutil — unpersist is a
  no-op on localCheckpoint state); the FINAL graph carries its own
  release handle — call :func:`release_knn_graph` once it is
  consumed (written/collected/superseded). Two live graphs in one
  app never interfere.

Scale: a round shuffles O(n·k²) candidate rows (k=20 → 400 rows per
node — independent of dimension; the vectors travel only through the
two scoring joins, hash-partitioned on id). The classic incremental
"new"-flag refinement is available as ``incremental=True``: expansion
only pairs paths where at least one hop is an edge ADDED by the
previous round. This is EXACT, not approximate — a both-old 2-hop
path was already expanded in the round both its edges appeared, and
per-src top-k lists only improve monotonically (each round merges the
current list with new candidates under max), so a pair that lost once
can never re-enter — the result is bit-identical to the full
expansion (pinned in tests) while cutting candidate volume toward
zero as the graph converges. Reverse-neighbor sampling (ρ<1) remains
deliberately omitted — it changes results, and the exact cut already
removes the converged bulk.

Search (:func:`graph_search`) is HNSW's layer-0 routine batched over a
QUERY RELATION: every query walks the graph simultaneously, one
DataFrame round per hop — frontier ⋈ edges → score → keep the beam —
so a million queries are one job of ``rounds`` joins, not a million
sequential walks. Entry point: the md5-minimal node (deterministic;
HNSW's fixed entry-point analog).

Determinism contract: md5 init, total-order ranking, integer ids —
two builds over the same data are bit-identical (pinned in
tests/test_nndescent.py), which makes the index diffable and the
build replayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine
from .iterutil import eager_checkpoint

__all__ = [
    "knn_graph_nndescent",
    "graph_search",
    "build_knn_graph_index",
    "graph_search_indexed",
    "release_knn_graph",
    "knn_graph_cte_parts",
    "graph_search_cte_parts",
]


def _vectors(
    emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    )


def _topk(edges: DataFrame, k: int) -> DataFrame:
    """k best neighbors per src under the TOTAL order (sim desc, dst
    asc) — partitioning-independent by construction."""
    w = Window.partitionBy("src").orderBy(
        F.col("sim").desc(), F.col("dst")
    )
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "sim", "rank")
    )


def _score(cand: DataFrame, vecs: DataFrame) -> DataFrame:
    """(src, dst) -> + cosine sim via two id-joins (vectors move only
    here, hash-partitioned on their id)."""
    return (
        cand.join(
            vecs.select(
                F.col("__id").alias("src"), F.col("__v").alias("__sv")
            ),
            "src",
        )
        .join(
            vecs.select(
                F.col("__id").alias("dst"), F.col("__v").alias("__dv")
            ),
            "dst",
        )
        .select(
            "src", "dst", cosine(F.col("__sv"), F.col("__dv")).alias("sim")
        )
    )


def _undirected(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )


def release_knn_graph(graph: DataFrame) -> None:
    """Release a built graph's checkpoint blocks. The returned graph of
    :func:`knn_graph_nndescent` is an eager localCheckpoint, and
    ``DataFrame.unpersist()`` is a silent no-op on checkpoint state
    (the operators/iterutil finding) — so the build attaches its real
    release handle and this function invokes it. Call it once the
    graph is consumed (written, collected, or superseded); afterwards
    the frame is UNREADABLE (checkpoint lineage is not recomputable).
    No hidden global state: two live graphs in one app never interfere
    — each carries its own handle.

    The handle rides a dynamic attribute, and DataFrame TRANSFORMATIONS
    return NEW objects — ``graph.select(...)`` / ``.filter(...)`` /
    ``.alias(...)`` do not carry it. Passing such a derived frame here
    would leak the checkpoint blocks with no signal, so it raises
    instead: release the ORIGINAL frame ``knn_graph_nndescent``
    returned (derived frames stay readable until then)."""
    free = getattr(graph, "_graft_release", None)
    if free is None:
        raise ValueError(
            "not a releasable graph: pass the exact DataFrame object "
            "knn_graph_nndescent returned (derived frames — select/"
            "filter/alias — do not carry the release handle; releasing "
            "them here would silently leak the checkpoint blocks)"
        )
    free()


def knn_graph_nndescent(
    emb: DataFrame,
    k: int = 10,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    incremental: bool = False,
) -> DataFrame:
    """Approximate k-NN graph ``(src, dst, sim, rank)`` by NN-Descent
    (module docstring). ``rank`` is 1-based by similarity per src.
    ``incremental=True`` applies the exact "new"-flag candidate cut
    (module docstring) — bit-identical output, 5-10x fewer scored
    pairs once the graph starts converging."""
    if k < 1 or rounds < 0:
        raise ValueError("need k >= 1, rounds >= 0")
    # the vector table is read by every round's two scoring joins plus
    # the init — persist it once (recomputable lineage, so plain
    # persist, not checkpoint; released before returning)
    vecs = _vectors(emb, id_col, vec_col).persist()
    n_vectors = vecs.count()

    # LSH-warmed deterministic init (module docstring): bucket by the
    # sign pattern against 8 corpus-sampled hyperplanes, then take the
    # ±⌈k/2⌉ ids adjacent in (bucket, md5) order — same-bucket ids are
    # cosine-biased neighbors (wraparound ignored; ends just start
    # with fewer guesses).
    from ..functions.vectors import dot

    half = (k + 1) // 2
    hashed = vecs.withColumn(
        "__h", F.md5(F.col("__id").cast("string"))
    )
    planes = (
        hashed.orderBy("__h")
        .limit(8)
        .select(
            F.row_number().over(Window.orderBy("__h")).alias("__pid"),
            F.col("__v").alias("__plane"),
        )
    )
    buckets = (
        hashed.crossJoin(F.broadcast(planes))
        .select(
            "__id",
            "__h",
            F.when(
                dot(F.col("__v"), F.col("__plane")) > 0,
                F.expr("shiftleft(1L, __pid)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("__bit"),
        )
        .groupBy("__id", "__h")
        .agg(F.sum("__bit").alias("__bucket"))
    )
    # row_number PARTITIONED by bucket (≤256 RP buckets): adjacency is
    # within-bucket only — an unpartitioned Window would funnel the
    # whole corpus through one task, the exact single-task bottleneck
    # this module exists to avoid. Boundary ids just start with fewer
    # guesses; the descent rounds fill in.
    pos = buckets.select(
        "__id",
        "__bucket",
        F.row_number()
        .over(Window.partitionBy("__bucket").orderBy("__h"))
        .alias("__p"),
    )
    offsets = F.array(
        *[F.lit(o) for o in range(-half, half + 1) if o != 0]
    )
    init_cand = (
        pos.select(
            "__id",
            "__bucket",
            F.explode(offsets).alias("__o"),
            "__p",
        )
        .select(
            F.col("__id").alias("src"),
            "__bucket",
            (F.col("__p") + F.col("__o")).alias("__q"),
        )
        .join(
            pos.select(
                F.col("__id").alias("dst"),
                "__bucket",
                F.col("__p").alias("__q"),
            ),
            ["__bucket", "__q"],
        )
        .select("src", "dst")
    )
    edges = _topk(_score(init_cand, vecs), k)
    edges, free = eager_checkpoint(edges)

    # exploration-permutation bucket count: expected ~32 ids per bucket
    # keeps the per-bucket row_number partitions tiny at any n
    expl_buckets = max(1, n_vectors // 32)

    def _non(ab: DataFrame, bc: DataFrame) -> DataFrame:
        """2-hop expansion: pairs (ab.src, bc.dst) sharing ab.dst ==
        bc.src — the neighbor-of-neighbor join on undirected views."""
        return (
            ab.join(
                bc.select(
                    F.col("src").alias("dst"), F.col("dst").alias("nn")
                ),
                "dst",
            )
            .select(F.col("src"), F.col("nn").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )

    # incremental bookkeeping: the undirected PAIRS added by the latest
    # round (everything after init). Tracked at the undirected level —
    # a directed edge whose reverse already existed adds no 2-hop path
    # the previous round didn't expand. Checkpointed per round so the
    # superseded frame's blocks can be freed.
    if incremental and rounds > 0:
        new_und, free_nu = eager_checkpoint(_undirected(edges).distinct())

    for rnd in range(rounds):
        und = _undirected(edges)
        if incremental:
            # exact cut (module docstring): only paths with >= 1 new hop
            cand = _non(new_und, und).unionByName(_non(und, new_und))
        else:
            cand = _non(und, und)
        # exploration candidates: ±2 adjacency inside per-round random
        # buckets (md5-derived bucket over ~n/32 buckets, then a
        # PARTITIONED row_number). Pure neighbor-of-neighbor descent has
        # local minima — a node whose whole list landed in the wrong
        # cluster can never see out of it (its 2-hop neighborhood IS
        # that cluster); a trickle of fresh random pairs per round is
        # the classic NN-Descent escape hatch, deterministic here, and
        # the bucketed shape keeps every window partition ~32 rows at
        # any corpus size (a global-order row_number would serialize the
        # corpus through one task per round). Bucket and in-bucket order
        # both derive from the per-round md5 __rh (not xxhash64, which
        # no other engine reproduces) so the whole build has a bit-exact
        # DuckDB twin — :func:`knn_graph_cte_parts` — via the
        # functions.text.shingle_hash32 hex→int convention.
        rpos = vecs.select(
            "__id",
            F.md5(
                F.concat(F.col("__id").cast("string"), F.lit(f"#r{rnd}"))
            ).alias("__rh"),
        ).select(
            "__id",
            F.pmod(
                F.conv(F.substring("__rh", 1, 8), 16, 10).cast("long"),
                F.lit(expl_buckets),
            ).alias("__b"),
            "__rh",
        ).select(
            "__id",
            "__b",
            F.row_number()
            .over(Window.partitionBy("__b").orderBy("__rh"))
            .alias("__p"),
        )
        expl = (
            rpos.select(
                "__id",
                "__b",
                F.explode(
                    F.array(F.lit(-2), F.lit(-1), F.lit(1), F.lit(2))
                ).alias("__o"),
                "__p",
            )
            .select(
                F.col("__id").alias("src"),
                "__b",
                (F.col("__p") + F.col("__o")).alias("__q"),
            )
            .join(
                rpos.select(
                    F.col("__id").alias("dst"),
                    "__b",
                    F.col("__p").alias("__q"),
                ),
                ["__b", "__q"],
            )
            .select("src", "dst")
        )
        merged = edges.select("src", "dst", "sim").unionByName(
            _score(cand.unionByName(expl).distinct(), vecs)
        )
        # a (src, dst) pair can appear in both branches — drop the
        # duplicate before ranking or it occupies two top-k slots
        best = _topk(
            merged.groupBy("src", "dst").agg(F.max("sim").alias("sim")),
            k,
        )
        new_edges, new_free = eager_checkpoint(best)
        if incremental and rnd < rounds - 1:
            # next round's new pairs: und(new) \ und(old) — computed
            # BEFORE the old frames' blocks are freed
            nu, nu_free = eager_checkpoint(
                _undirected(new_edges)
                .distinct()
                .join(_undirected(edges), ["src", "dst"], "left_anti")
            )
            free_nu()
            new_und, free_nu = nu, nu_free
        free()
        edges, free = new_edges, new_free
    if incremental and rounds > 0:
        free_nu()
    vecs.unpersist()
    edges._graft_release = free  # see release_knn_graph
    return edges


def graph_search(
    graph: DataFrame,
    emb: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    beam: int = 16,
    hops: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched greedy beam search over a k-NN graph: for every query id
    in ``query_ids`` (a one-column relation of ``id_col`` values that
    exist in ``emb``), walk ``hops`` expansion rounds from the
    deterministic entry point and return ``(query_id, neighbor_id,
    rank, score_r4)`` — the HNSW layer-0 routine as set-at-a-time
    joins, one round per hop for the WHOLE query batch.

    The query's own node is excluded from results (self-match carries
    no information), matching the other ANN operators' contract."""
    vecs = _vectors(emb, id_col, vec_col)
    queries = (
        query_ids.select(F.col(id_col).alias("query_id"))
        .join(vecs.select(F.col("__id").alias("query_id"), "__v"), "query_id")
        .select("query_id", F.col("__v").alias("__qv"))
    )
    entry = (
        vecs.select("__id", F.md5(F.col("__id").cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(1)
        .select(F.col("__id").alias("cand"))
    )
    frontier = queries.crossJoin(F.broadcast(entry)).select(
        "query_id", "cand"
    )
    und = _undirected(graph.select("src", "dst"))

    def score(fr: DataFrame) -> DataFrame:
        return (
            fr.join(
                vecs.select(F.col("__id").alias("cand"), "__v"), "cand"
            )
            .join(queries, "query_id")
            .select(
                "query_id",
                "cand",
                cosine(F.col("__qv"), F.col("__v")).alias("sim"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cand")
    )
    best = score(frontier)
    for _ in range(hops):
        expanded = (
            best.select("query_id", F.col("cand").alias("src"))
            .join(und, "src")
            .select("query_id", F.col("dst").alias("cand"))
            .distinct()
        )
        scored = score(expanded)
        best = (
            best.unionByName(scored)
            .groupBy("query_id", "cand")
            .agg(F.max("sim").alias("sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= beam)
            .select("query_id", "cand", "sim")
        )
    return (
        best.filter(F.col("query_id") != F.col("cand"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("cand").alias("neighbor_id"),
            "rank",
            F.round("sim", 4).alias("score_r4"),
        )
    )


def build_knn_graph_index(
    emb: DataFrame,
    path: str,
    k: int = 10,
    rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the graph index at ``path`` — the persisted form of
    the build:

    - ``graph/``   — ``(src, dst, sim, rank)``, hash-partitioned and
      sorted by ``src`` so a query batch's frontier join prunes row
      groups on the src min/max stats;
    - ``vectors/`` — ``(id_col, v array<double>)``, the scoring side.

    Build once (the expensive NN-Descent rounds), then every query
    batch is :func:`graph_search_indexed` — joins against the stored
    relations, zero descent work at query time. Refresh cadence:
    appends degrade graph recall gradually; rebuild on the
    drift signal (operators/drift over the degree histogram is the
    natural monitor). Builds with ``incremental=True`` — bit-identical
    output (pinned), and the offline index build is exactly where the
    converged-rounds candidate cut pays."""
    graph = knn_graph_nndescent(
        emb,
        k=k,
        rounds=rounds,
        id_col=id_col,
        vec_col=vec_col,
        incremental=True,
    )
    (
        graph.repartition("src")
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .parquet(f"{path}/graph")
    )
    _vectors(emb, id_col, vec_col).select(
        F.col("__id").alias(id_col), F.col("__v").alias("v")
    ).write.mode("overwrite").parquet(f"{path}/vectors")
    release_knn_graph(graph)  # persisted — the checkpoint is done


def graph_search_indexed(
    spark,
    path: str,
    query_filter,
    k: int = 5,
    beam: int = 16,
    hops: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`graph_search` served from a :func:`build_knn_graph_index`
    layout — identical output contract, no descent at query time.
    ``query_filter`` is a Column predicate over the vectors relation
    ``(id_col, v)``, typically an id predicate."""
    graph = spark.read.parquet(f"{path}/graph")
    stored = spark.read.parquet(f"{path}/vectors")
    # apply the filter on the documented (id_col, v) relation BEFORE
    # any rename, so predicates over `v` resolve
    queries = stored.filter(query_filter).select(id_col)
    vectors = stored.select(F.col(id_col), F.col("v").alias("embedding"))
    return graph_search(
        graph,
        vectors,
        queries,
        k=k,
        beam=beam,
        hops=hops,
        id_col=id_col,
        vec_col="embedding",
    )


# --------------------------------------------------------------------------
# DuckDB twins — the pagerank_fixedpoint_cte_parts precedent: the build
# and the search are deterministic relational programs (md5 ordering,
# total-order ranking, left-to-right float folds), so each Spark step
# unrolls to one plain CTE and the whole chain is a value oracle for the
# driver's correctness gate. Iterated/reused relations are MATERIALIZED
# (DuckDB inlines CTEs per reference — the doc-clusters 402s lesson).
# --------------------------------------------------------------------------


def _sql_score(cand_rel: str, vec_rel: str) -> str:
    """SQL twin of :func:`_score` — (src, dst) + cosine via two id
    joins; ``list_cosine_similarity`` matches functions.vectors.cosine
    (same left fold, norms multiplied after their roots)."""
    return (
        f"SELECT c.src, c.dst, "
        f"list_cosine_similarity(sv.v, dv.v) AS sim "
        f"FROM {cand_rel} c "
        f"JOIN {vec_rel} sv ON sv.id = c.src "
        f"JOIN {vec_rel} dv ON dv.id = c.dst"
    )


def _sql_topk(rel: str, k: int) -> str:
    """SQL twin of :func:`_topk` — the TOTAL order (sim DESC, dst)."""
    return (
        f"SELECT src, dst, sim, CAST(rank AS INTEGER) AS rank FROM ("
        f"SELECT src, dst, sim, ROW_NUMBER() OVER ("
        f"PARTITION BY src ORDER BY sim DESC, dst) AS rank FROM {rel}"
        f") WHERE rank <= {k}"
    )


def knn_graph_cte_parts(
    corpus_cte: str, k: int = 10, rounds: int = 3, prefix: str = "g"
) -> tuple[list[str], str]:
    """Composable DuckDB twin of :func:`knn_graph_nndescent`.

    ``corpus_cte`` must yield ``(id, v DOUBLE[])``. Returns the CTE
    definitions (each named with ``prefix`` to avoid collisions when
    spliced into a larger WITH chain) and the name of the final
    relation, which yields ``(src, dst, sim, rank INTEGER)`` — the
    exact rows the Spark build produces. Hex→int follows the
    functions.text.shingle_hash32 convention (``('0x' || substr(md5,
    1,8))::BIGINT`` == ``conv(substring(md5,1,8),16,10)``)."""
    if k < 1 or rounds < 0:
        raise ValueError("need k >= 1, rounds >= 0")
    p = prefix
    half = (k + 1) // 2
    init_offs = [o for o in range(-half, half + 1) if o != 0]
    parts = [
        f"{p}vec AS MATERIALIZED ({corpus_cte})",
        f"""{p}hsh AS (
          SELECT id, v, md5(CAST(id AS VARCHAR)) AS h FROM {p}vec
        )""",
        # 8 md5-minimal corpus vectors act as random hyperplanes
        f"""{p}pl AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h) AS pid, v AS plane
          FROM (SELECT h, v FROM {p}hsh ORDER BY h LIMIT 8)
        )""",
        # sign pattern against the planes -> RP bucket (shiftleft twin)
        f"""{p}bk AS (
          SELECT g.id, g.h,
                 SUM(CASE WHEN list_dot_product(g.v, p.plane) > 0
                          THEN 1::BIGINT << p.pid ELSE 0::BIGINT END)
                   AS bucket
          FROM {p}hsh g CROSS JOIN {p}pl p
          GROUP BY g.id, g.h
        )""",
        f"""{p}pos AS MATERIALIZED (
          SELECT id, bucket,
                 ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS p
          FROM {p}bk
        )""",
        f"{p}io AS (SELECT UNNEST([{', '.join(map(str, init_offs))}]) AS o)",
        f"""{p}ic AS (
          SELECT a.id AS src, b.id AS dst
          FROM {p}pos a CROSS JOIN {p}io o
          JOIN {p}pos b ON b.bucket = a.bucket AND b.p = a.p + o.o
        )""",
        f"{p}is AS ({_sql_score(p + 'ic', p + 'vec')})",
        f"{p}e0 AS MATERIALIZED ({_sql_topk(p + 'is', k)})",
        f"{p}nb AS (SELECT GREATEST(1, COUNT(*) // 32) AS b FROM {p}vec)",
        f"{p}xo AS (SELECT UNNEST([-2, -1, 1, 2]) AS o)",
    ]
    for r in range(rounds):
        parts.append(
            f"""{p}u{r} AS MATERIALIZED (
              SELECT src, dst FROM {p}e{r}
              UNION ALL SELECT dst AS src, src AS dst FROM {p}e{r}
            )"""
        )
        # neighbor-of-neighbor expansion on the shared endpoint
        parts.append(
            f"""{p}c{r} AS (
              SELECT ab.src AS src, bc.dst AS dst
              FROM {p}u{r} ab JOIN {p}u{r} bc ON bc.src = ab.dst
              WHERE ab.src <> bc.dst
            )"""
        )
        # per-round exploration permutation: md5-derived bucket + rank
        parts.append(
            f"""{p}rp{r} AS MATERIALIZED (
              SELECT id, b,
                     ROW_NUMBER() OVER (PARTITION BY b ORDER BY rh) AS p
              FROM (
                SELECT id, rh,
                       ('0x' || substr(rh, 1, 8))::BIGINT
                         % (SELECT b FROM {p}nb) AS b
                FROM (SELECT id,
                             md5(CAST(id AS VARCHAR) || '#r{r}') AS rh
                      FROM {p}vec))
            )"""
        )
        parts.append(
            f"""{p}x{r} AS (
              SELECT a.id AS src, b2.id AS dst
              FROM {p}rp{r} a CROSS JOIN {p}xo o
              JOIN {p}rp{r} b2 ON b2.b = a.b AND b2.p = a.p + o.o
            )"""
        )
        parts.append(
            f"""{p}n{r} AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM {p}c{r}
                UNION ALL SELECT src, dst FROM {p}x{r})
            )"""
        )
        parts.append(
            f"{p}s{r} AS ({_sql_score(f'{p}n{r}', p + 'vec')})"
        )
        parts.append(
            f"""{p}m{r} AS (
              SELECT src, dst, MAX(sim) AS sim FROM (
                SELECT src, dst, sim FROM {p}e{r}
                UNION ALL SELECT src, dst, sim FROM {p}s{r})
              GROUP BY src, dst
            )"""
        )
        parts.append(
            f"{p}e{r + 1} AS MATERIALIZED ({_sql_topk(f'{p}m{r}', k)})"
        )
    return parts, f"{p}e{rounds}"


def graph_search_cte_parts(
    graph_rel: str,
    vec_rel: str,
    queries_cte: str,
    k: int = 5,
    beam: int = 16,
    hops: int = 4,
    prefix: str = "q",
) -> tuple[list[str], str]:
    """Composable DuckDB twin of :func:`graph_search`. ``graph_rel`` /
    ``vec_rel`` name existing relations — typically the outputs of
    :func:`knn_graph_cte_parts` — with shapes ``(src, dst, ...)`` and
    ``(id, v DOUBLE[])``; ``queries_cte`` must yield one column ``qid``.
    The final relation yields ``(query_id, neighbor_id, rank INTEGER,
    score_r4)``."""
    p = prefix
    parts = [
        f"{p}qs AS ({queries_cte})",
        f"""{p}qv AS MATERIALIZED (
          SELECT q.qid AS query_id, v.v AS qv
          FROM {p}qs q JOIN {vec_rel} v ON v.id = q.qid
        )""",
        # deterministic entry point: the md5-minimal node
        f"""{p}en AS (
          SELECT id AS cand FROM {vec_rel}
          ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 1
        )""",
        f"""{p}su AS MATERIALIZED (
          SELECT src, dst FROM {graph_rel}
          UNION ALL SELECT dst AS src, src AS dst FROM {graph_rel}
        )""",
        f"""{p}b0 AS MATERIALIZED (
          SELECT qv.query_id, e.cand,
                 list_cosine_similarity(qv.qv, v.v) AS sim
          FROM {p}qv qv CROSS JOIN {p}en e
          JOIN {vec_rel} v ON v.id = e.cand
        )""",
    ]
    for h in range(hops):
        parts.append(
            f"""{p}x{h} AS (
              SELECT DISTINCT b.query_id, u.dst AS cand
              FROM {p}b{h} b JOIN {p}su u ON u.src = b.cand
            )"""
        )
        parts.append(
            f"""{p}s{h} AS (
              SELECT x.query_id, x.cand,
                     list_cosine_similarity(q.qv, v.v) AS sim
              FROM {p}x{h} x
              JOIN {vec_rel} v ON v.id = x.cand
              JOIN {p}qv q ON q.query_id = x.query_id
            )"""
        )
        parts.append(
            f"""{p}b{h + 1} AS MATERIALIZED (
              SELECT query_id, cand, sim FROM (
                SELECT query_id, cand, sim, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, cand) AS rank
                FROM (SELECT query_id, cand, MAX(sim) AS sim FROM (
                        SELECT query_id, cand, sim FROM {p}b{h}
                        UNION ALL
                        SELECT query_id, cand, sim FROM {p}s{h})
                      GROUP BY query_id, cand))
              WHERE rank <= {beam}
            )"""
        )
    parts.append(
        f"""{p}out AS (
          SELECT query_id, cand AS neighbor_id,
                 CAST(rank AS INTEGER) AS rank,
                 ROUND(sim, 4) AS score_r4
          FROM (
            SELECT query_id, cand, sim, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY sim DESC, cand) AS rank
            FROM {p}b{hops} WHERE query_id <> cand)
          WHERE rank <= {k}
        )"""
    )
    return parts, f"{p}out"
