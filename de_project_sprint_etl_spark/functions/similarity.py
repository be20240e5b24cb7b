"""Embedding similarity search: brute-force cosine top-k and an
LSH-bucketed approximate variant.

Scale design:

- **Brute force** is the baseline and the *correct* shape for batch ANN
  on Spark when the query set is small: broadcast the Q query vectors,
  one narrow pass over the N×d corpus computing Q dots per row (JVM
  ``aggregate``/``zip_with`` expressions — no Python), then a per-query
  top-k window. Linear in N, no shuffle of the corpus, embarrassingly
  parallel. At 100 TB the corpus pass is the scan; the only shuffle is
  the tiny (N_candidates × Q) top-k.
- **LSH (random hyperplanes)**: deterministic seeded hyperplanes are
  compiled into the plan as literals; a signature is the sign pattern
  of the dots. Candidates = same bucket (optionally multiple tables).
  Turns the corpus pass into a bucket-equi-join — sublinear reads when
  the corpus is bucket-partitioned on disk.

Cosine math is done in double precision after casting the float
embeddings, left-fold summation — bit-compatible with the DuckDB oracle
(verified), rounded to 6 decimals for rank stability anyway.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dvec(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed per side. In a pair loop (join of N
    rows × Q rows) this does 1 array fold per pair instead of 3 — the
    norms are computed N + Q times, not N×Q. Bit-identical to
    :func:`cosine`: each norm is the same fold in the same order, just
    evaluated in the side's projection instead of per pair."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbours per query vector.

    ``queries`` must be small (it is broadcast); self-matches excluded.
    Output: ``query_id, neighbor_id, cos_sim, rank``.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", l2norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("cv")
    ).withColumn("cn", l2norm(F.col("cv")))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched ``mapInPandas`` kernel:
    each partition's embeddings become one numpy matrix, similarities to
    the (driver-collected, closure-broadcast) query matrix are one BLAS
    GEMM, and only each partition's per-query top-k survive — a
    map-side combine, so the final shuffle carries at most
    ``k × Q × n_partitions`` rows regardless of corpus size.

    Same answers as :func:`brute_force_topk` (the expression form);
    prefer this variant when the vector width makes per-element
    Catalyst folds the bottleneck — GEMM throughput vs expression
    interpretation is the trade, and the Arrow batch transfer is the
    price of admission. Exposed for exactly that measurement; the
    pair-generation contract (self-matches excluded, ties broken by
    neighbor id) is identical.

    Output: ``query_id, neighbor_id, cos_sim, rank``.
    """
    import pandas as pd

    # The query set IS the broadcast — it must fit on the driver. The
    # limit(n+1) keeps the guard itself OOM-safe: we never pull more
    # than max_queries+1 rows no matter how large `queries` is.
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"brute_force_topk_pandas collects the query set to the driver "
            f"(it is the broadcast side); got more than max_queries="
            f"{max_queries} rows. Use lsh_topk/ivf_topk for large query "
            f"sets, or raise max_queries deliberately."
        )
    q_rows = sorted(q_rows, key=lambda r: r[0])
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.sqrt((qm * qm).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cn = np.sqrt((cm * cm).sum(axis=1))
            sims = (cm @ qm.T) / np.outer(cn, qn)
            # round HALF-AWAY-FROM-ZERO to match Spark F.round / DuckDB
            # ROUND exactly (np.round is half-to-even, which would
            # diverge from the expression twin on an exact-half value)
            sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6, sims)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = ids != qid  # exclude self-match
                cand_ids, cand_sims = ids[mask], col[mask]
                # partial top-k: (-sim, id) ascending = sim desc, id asc
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic unit hyperplanes (seeded, rounded so the literals
    embedded in Spark plans and oracle SQL are identical text)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return [[round(float(v), 6) for v in row] for row in planes]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign bits of the dots against each hyperplane.

    The planes ship as ONE nested-array literal (a single Catalyst
    ``Literal`` node) folded with ``zip_with``/``aggregate`` — the
    naive per-plane ``F.array(*[F.lit(v) ...])`` form builds an
    expression tree of #planes × dim nodes, and with multiple tables
    on both join sides the *driver* burned seconds per run just
    analyzing/optimizing the tree (measured ~3 s of the old
    ``ann_lsh_topk`` wall). Arithmetic is unchanged bit-for-bit: same
    left-fold dot per plane, same ``>= 0`` test, same power-of-two
    weights, same summation order — the DuckDB oracle mirror is
    untouched."""
    bits = F.zip_with(
        _cached_lit(tuple(tuple(p) for p in planes)),
        _cached_lit(tuple(2**i for i in range(len(planes)))),
        lambda p, w: F.when(dot(vec, p) >= 0, w).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, b: a + b).cast("long")


# Building a literal from a Python list costs one py4j round trip PER
# ELEMENT (PySpark expands list literals element-wise), so a 24-plane x
# 64-dim table is ~1.5k JVM calls — ~2 s of driver time per query build
# when done on both join sides. Column objects are immutable unresolved
# expressions, so the literal is built once per distinct constant and
# reused across queries/sessions in the JVM.
@functools.lru_cache(maxsize=None)
def _cached_lit(key: tuple) -> Column:
    return F.lit([list(v) if isinstance(v, tuple) else v for v in key])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-sign bucket,
    ranked by exact cosine within the bucket.

    Output: ``query_id, neighbor_id, cos_sim, rank`` (≤ k rows per
    query; fewer when the bucket is small — the recall/cost knob is
    ``len(planes)``).
    """
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _dvec(vec_col).alias("cv"),
        )
        .withColumn("bucket", lsh_signature(F.col("cv"), planes))
        .withColumn("cn", l2norm(F.col("cv")))
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv"))
        .withColumn("bucket", lsh_signature(F.col("qv"), planes))
        .withColumn("qn", l2norm(F.col("qv")))
    )
    joined = c.join(F.broadcast(q), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_topk_tables(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH top-k: the standard recall fix for single-table
    hyperplane LSH (a near neighbour that disagrees on one of the 8 sign
    bits is lost forever with one table; with L independent tables it is
    found unless it disagrees in ALL of them).

    One explode per side attaches all L ``(table, bucket)`` signatures
    (the same one-explode-instead-of-L-joins shape as the MinHash
    banding in functions/dedup.py); candidates equi-join on
    ``(table, bucket)`` against the broadcast query side, similarities
    are computed in the join projection, and the pair-level
    ``dropDuplicates`` shuffles only ``(query_id, neighbor_id, cos_sim)``
    — never the vectors.

    Output: ``query_id, neighbor_id, cos_sim, rank`` (≤ k per query).
    """

    def with_sigs(df: DataFrame, idc: str, vecc: str, normc: str) -> DataFrame:
        sigs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    lsh_signature(F.col(vecc), planes).alias("bucket"),
                )
                for t, planes in enumerate(tables)
            ]
        )
        return df.withColumn(normc, l2norm(F.col(vecc))).select(
            idc, vecc, normc, F.explode(sigs).alias("tb")
        ).select(idc, vecc, normc, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))

    c = with_sigs(
        corpus.select(F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("cv")),
        "neighbor_id",
        "cv",
        "cn",
    )
    q = with_sigs(
        queries.select(F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")),
        "query_id",
        "qv",
        "qn",
    )
    sim = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _ranked_cells(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """THE single definition of IVF cell assignment order: every vector
    in ``vecs`` (``id``, ``v``) scored against the broadcast centroid
    set (``cent_id``, ``cv``) by rounded cosine, ranked per id with the
    (cos_c DESC, cent_id DESC) tiebreak. ``ivf_cells`` and
    ``ivf_cell_ranks`` are both thin filters over this frame, so their
    agreement — which the nprobe recall curve's correctness argument
    rests on — is structural, not by parallel maintenance.

    Output: ``id, v, cent_id, __rn``."""
    from pyspark.sql import Window

    scored = (
        vecs.withColumn("__vn", l2norm(F.col("v")))
        .crossJoin(F.broadcast(centroids.withColumn("__cn", l2norm(F.col("cv")))))
        .select(
            "id",
            "v",
            "cent_id",
            F.round(
                cosine_prenormed(
                    F.col("v"), F.col("cv"), F.col("__vn"), F.col("__cn")
                ),
                6,
            ).alias("cos_c"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cos_c").desc(), F.col("cent_id").desc()
    )
    return scored.withColumn("__rn", F.row_number().over(w))


def ivf_cells(
    vecs: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector in ``vecs`` (``id``, ``v``) to its ``nprobe``
    nearest centroids (``cent_id``, ``cv``) by cosine.

    The centroid set is broadcast; assignment is one narrow pass over
    the corpus computing ``n_list`` dots per row, then a per-id window
    for the argmax (ties broken toward the greatest ``cent_id``,
    mirrored by the oracle). At real scale the corpus-side assignment
    (``nprobe=1``) is an *index build*: materialize once, write
    ``partitionBy("cell")``, and probes become partition-pruned reads —
    the window here never sees more than ``n_list`` rows per id.

    Output: ``id, v, cell``.
    """
    return (
        _ranked_cells(vecs, centroids)
        .filter(F.col("__rn") <= nprobe)
        .select("id", "v", F.col("cent_id").alias("cell"))
    )


def ivf_cell_ranks(
    vecs: DataFrame, centroids: DataFrame, max_rank: int
) -> DataFrame:
    """Like :func:`ivf_cells` but KEEPS the probe order: each vector's
    ``max_rank`` nearest cells with their rank (1 = probed first). Both
    are filters over :func:`_ranked_cells`, so the scoring/tiebreak
    agreement the nprobe recall curve depends on is structural.
    Output: ``id, cell, proberank``."""
    ranked = _ranked_cells(vecs, centroids)
    return (
        ranked.withColumn("proberank", F.col("__rn").cast("long"))
        .filter(F.col("proberank") <= max_rank)
        .select("id", F.col("cent_id").alias("cell"), "proberank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors live in
    exactly one centroid cell; each query probes its ``nprobe`` nearest
    cells and ranks candidates by exact cosine.

    Centroids here are caller-chosen seed vectors (deterministic, which
    keeps the op oracle-checkable); a production index would k-means
    them offline (e.g. MLlib KMeans) — the query plan is identical
    either way. A corpus vector sits in one cell, so a (query, neighbor)
    pair can match through at most one probed cell — no dedup needed.

    Output: ``query_id, neighbor_id, cos_sim, rank``.
    """
    from pyspark.sql import Window

    cent = centroids.select(
        F.col(id_col).alias("cent_id"), _dvec(vec_col).alias("cv")
    )
    c = ivf_cells(
        corpus.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v")),
        cent,
        nprobe=1,
    ).select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell")
    q = ivf_cells(
        queries.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v")),
        cent,
        nprobe=nprobe,
    ).select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell")
    sim = (
        c.withColumn("cn", l2norm(F.col("cv")))
        .join(F.broadcast(q.withColumn("qn", l2norm(F.col("qv")))), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted file: one assignment pass over the
    corpus (broadcast centroids, nprobe=1), written
    ``partitionBy("cell")`` — the index build half of IVF. Probes then
    read ONLY the probed cells' directories (see
    :func:`ivf_topk_indexed`), which is what makes IVF sublinear at
    100 TB: the per-query scan cost is |probed cells| / n_list of the
    corpus, enforced by partition pruning at the file-listing level."""
    cent = centroids.select(
        F.col(id_col).alias("cent_id"), _dvec(vec_col).alias("cv")
    )
    assigned = ivf_cells(
        corpus.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v")),
        cent,
        nprobe=1,
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a materialized index (:func:`build_ivf_index`).

    Query planning = assign each query its ``nprobe`` cells, collect the
    (tiny — ≤ nprobe × |queries|) probe-cell set to the driver, and scan
    the index with an ``isin`` literal filter so Catalyst prunes every
    unprobed partition at file-listing time (``PartitionFilters`` in the
    scan, pinned in tests/test_plans.py). Identical results to
    :func:`ivf_topk` on the same centroids.
    """
    from pyspark.sql import Window

    cent = centroids.select(
        F.col(id_col).alias("cent_id"), _dvec(vec_col).alias("cv")
    )
    q = ivf_cells(
        queries.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v")),
        cent,
        nprobe=nprobe,
    ).select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell")
    probe_cells = [r.cell for r in q.select("cell").distinct().collect()]
    c = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(probe_cells))
        .select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell")
    )
    sim = (
        c.withColumn("cn", l2norm(F.col("cv")))
        .join(F.broadcast(q.withColumn("qn", l2norm(F.col("qv")))), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    planes: list[list[float]],
    min_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: pairs in the
    same hyperplane bucket with cosine ≥ ``min_cos`` (id_a < id_b).

    Output: ``id_a, id_b, cos_sim``.
    """
    c = (
        corpus.select(F.col(id_col).alias("id"), _dvec(vec_col).alias("v"))
        .withColumn("bucket", lsh_signature(F.col("v"), planes))
        .withColumn("n", l2norm(F.col("v")))
    )
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(
            cosine_prenormed(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")),
            6,
        ).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= min_cos)
