"""Similarity search over embedding columns (array<float>).

Extensions beyond the reference surface for training-data pipelines:

- cosine_topk         — exact brute-force top-k neighbors (query matrix in
                        closure; per-partition numpy matmul + partial top-k)
- lsh_ann_topk        — random-hyperplane LSH bucketing, search within bucket
                        (the 100 TB path: candidate set shrinks ~2^bits-fold)
- ivf_topk            — inverted-file coarse quantizer, probe n_probe cells
- cosine_neardup_pairs — exact near-duplicate pairs (the oracle baseline)

All vector math is Arrow-batched numpy (matmul / einsum per batch) — NOT
per-element ``zip_with``/``aggregate`` higher-order lambdas, which fall out
of whole-stage codegen and are interpreted per element (measured ~8x slower;
see operators/dedup.py's explode-vs-HOF note). The kernels here move whole
Arrow batches into numpy once and do one BLAS matmul per batch.

Scale posture of each entry point is documented on the function.
"""

from __future__ import annotations

import math

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from gordo_spark.functions.rounding import qround


def _as_double(col) -> Column:
    return col.cast("array<double>")


def cosine_pairs() -> "pandas_udf":
    """Arrow-batched pairwise cosine: two array<double> columns in, one
    double out.  One ``einsum`` per batch — vectorized across the batch,
    inside the executor, no per-element interpretation."""

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            out = num / den
        return pd.Series(out)

    return _cos


def cosine(a, b) -> Column:
    """Pairwise cosine of two vector columns (Arrow-batched numpy)."""
    return cosine_pairs()(_as_double(a), _as_double(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` is expected small (collected to a q x d matrix and shipped in
    the task closure — the same boundary as a broadcast); ``vectors`` can be
    the full 100 TB corpus.  Each Arrow batch of the corpus does ONE numpy
    matmul against the query matrix (b x d @ d x q), then emits only its
    per-batch top-k rows per query — so the shuffle into the final global
    top-k carries at most ``batches * k * q`` rows, never ``N * q``.
    Self-matches are excluded.  Mirrors the reference's model-server scoring
    boundary (small request side vs large corpus side).
    """
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    src = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    schema = "query_id long, neighbor_id long, cosine_sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["nv"].to_numpy())
            num = V @ Q.T  # b x q — one BLAS call per batch
            den = np.sqrt(np.einsum("ij,ij->i", V, V))[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = num / den
            frames = []
            for j in range(len(qids)):
                col = sims[:, j]
                mask = ids != qids[j]
                cid, csim = ids[mask], col[mask]
                if len(cid) == 0:
                    continue
                # partial top-k under the SAME total order as the final
                # window (sim desc, neighbor_id asc) => global top-k exact
                order = np.lexsort((cid, -csim))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": cid[order],
                            "cosine_sim": csim[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = src.mapInPandas(score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hyperplanes(dim: int, bits: int = 8, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (portable LCG, no numpy RNG
    state dependence) for sign-LSH."""
    state = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine >= threshold (exact).

    This exact form is the oracle/correctness path. At 100 TB scale the
    all-pairs product is replaced by the sign-LSH candidate join
    (``lsh_ann_topk``'s bucketing) followed by this same exact cosine
    verify on the candidate set only — identical output for any pair the
    bucketing recalls; the exact verify makes precision 1.0.
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _first_centroids(vectors: DataFrame, n_cells: int, id_col: str, vec_col: str):
    """Deterministic coarse quantizer: first ``n_cells`` corpus vectors by
    id (engine-portable; a trained k-means drops in by replacing these
    rows). Returns (cell ids, centroid matrix, norms)."""
    crows = vectors.orderBy(id_col).limit(n_cells).select(id_col, vec_col).collect()
    cells = np.asarray([r[0] for r in crows], dtype=np.int64)
    C = np.stack([np.asarray(r[1], dtype=np.float64) for r in crows])
    return cells, C, np.sqrt(np.einsum("ij,ij->i", C, C))


def _assign_cells(src: DataFrame, cells: np.ndarray, C: np.ndarray, cnorm: np.ndarray) -> DataFrame:
    """One numpy matmul + argmax per Arrow batch: (neighbor_id, nv, cell)."""
    a_schema = "neighbor_id long, nv array<double>, cell long"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["nv"].to_numpy())
            num = V @ C.T
            den = np.sqrt(np.einsum("ij,ij->i", V, V))[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = num / den
            best = np.argmax(sims, axis=1)
            out = pdf[["neighbor_id", "nv"]].copy()
            out["cell"] = cells[best]
            yield out

    return src.mapInPandas(assign, schema=a_schema)


def ivf_write(
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> None:
    """Materialize the IVF index: corpus written PARTITIONED BY cell (so a
    probe is a partition-pruned scan of n_probe/n_cells of the data — the
    100 TB read path ``ivf_topk``'s docstring promises), centroids stored
    alongside for the probe side.

    ``centroids`` (e.g. ``kmeans_fit``'s k x d matrix) replaces the
    deterministic first-k quantizer when given; cells are then 0..k-1.
    Layout: ``<path>/index/cell=<c>/...`` + ``<path>/centroids/``.
    """
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        cells = np.arange(len(C), dtype=np.int64)
        cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))
        cent_df = vectors.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in C[i]]) for i in range(len(C))],
            schema="cell long, cv array<double>",
        )
    else:
        cells, C, cnorm = _first_centroids(vectors, n_cells, id_col, vec_col)
        cent_df = vectors.orderBy(id_col).limit(n_cells).select(
            F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("cv")
        )
    src = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    (
        _assign_cells(src, cells, C, cnorm)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a materialized IVF index: each query's ``n_probe`` nearest
    cells are computed driver-side from the stored centroids (tiny), and
    the index scan carries ``cell IN (<probed cells>)`` — a PARTITION
    FILTER, so only the probed cell directories are ever read. Results are
    identical to ``ivf_topk`` with the same quantizer."""
    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cells = np.asarray([r["cell"] for r in crows], dtype=np.int64)
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in crows])
    cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (Q @ C.T) / (qnorm[:, None] * cnorm[None, :])
    # per query: n_probe best cells, ties toward the lowest cell id (cells
    # are sorted ascending and lexsort is stable)
    probe_rows = []
    for j in range(len(qids)):
        order = np.lexsort((cells, -sims[j]))[:n_probe]
        for c in cells[order]:
            probe_rows.append((int(qids[j]), [float(x) for x in Q[j]], int(c)))
    probes = spark.createDataFrame(
        probe_rows, schema="query_id long, qv array<double>, cell long"
    )
    probed_cells = sorted({r[2] for r in probe_rows})

    idx = spark.read.parquet(f"{path}/index").filter(
        F.col("cell").isin(probed_cells)  # partition-pruned scan
    )
    scored = (
        idx.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cosine_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic distributed Lloyd's k-means over an embedding column —
    the trained coarse quantizer for ``ivf_topk``/``ivf_write``.

    Init = first ``k`` vectors by id (no RNG; same quantizer on any engine
    and any partitioning). Each iteration:

    - assignment: one numpy matmul + argmin per Arrow batch against the
      closure-shipped (k x d) centroid matrix (euclidean; no shuffle of
      the corpus),
    - update: per-cluster mean via posexplode(vector) -> groupBy(cluster,
      dim) avg — codegen + map-side partial agg, the explode+groupBy shape
      measured faster than HOF array folds (dedup.py note),
    - the k x d result is collected driver-side (bounded: k*d doubles —
      the same fit-time scalar boundary as scaler stats in ml/).

    Early-stops when assignments stop changing (a count per iteration).
    Returns the k x d centroid matrix, rows ordered by cluster id.
    """
    src = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    crows = src.orderBy("_id").limit(k).collect()
    C = np.stack([np.asarray(r["nv"], dtype=np.float64) for r in crows])

    def assign_df(Cm: np.ndarray) -> DataFrame:
        Csq = np.einsum("ij,ij->i", Cm, Cm)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["nv"].to_numpy())
                # ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2; ||v||^2 constant per row
                d2 = Csq[None, :] - 2.0 * (V @ Cm.T)
                out = pdf[["_id", "nv"]].copy()
                out["cluster"] = np.argmin(d2, axis=1).astype(np.int64)
                yield out

        return src.mapInPandas(assign, schema="_id long, nv array<double>, cluster long")

    prev_changed = None
    # each iteration's convergence check re-assigns under the NEW
    # centroids; that assignment IS the next iteration's input, so it is
    # checkpointed and carried forward instead of being recomputed (r11
    # optimization: halves the assignment passes; the sequence of
    # centroid updates and change counts is unchanged)
    assigned = assign_df(C).localCheckpoint()
    for _ in range(max_iter):
        means = (
            assigned.select("cluster", F.posexplode("nv").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        newC = C.copy()  # empty clusters keep their old centroid
        per_cluster: dict[int, list] = {}
        for r in means:
            per_cluster.setdefault(r["cluster"], []).append((r["dim"], r["m"]))
        for c, dims in per_cluster.items():
            for d, m in dims:
                newC[c, d] = m
        # converged when re-assigning under the new centroids moves nothing
        next_assigned = assign_df(newC).localCheckpoint()
        changed = next_assigned.join(
            assigned.select("_id", F.col("cluster").alias("_old")), "_id"
        ).filter(F.col("cluster") != F.col("_old")).count()
        C = newC
        assigned = next_assigned
        if changed == 0 or changed == prev_changed:
            break
        prev_changed = changed
    return C


def kmeans_fit_exact(
    vectors: DataFrame,
    k: int = 6,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ENGINE-EXACT fixed-iteration Lloyd's k-means, emitting the trained
    centroid table ``(cell, dim, centroid)`` — the oracle-checkable twin
    of :func:`kmeans_fit` (same algorithm: first-k-by-id init, euclidean
    argmin assignment with lowest-cell tie-break, per-(cell,dim) mean
    update, empty cells keep their centroid), with every
    order-sensitive float reduction replaced by the house exact forms:

    - distances are LEFT FOLDS over the dims (``F.aggregate`` /
      ``list_reduce`` run the identical IEEE add sequence, so both
      engines compute the bit-same d2 — no BLAS reduction-order
      dependence, no quantization needed),
    - centroid updates are exact scaled-integer means (qfloor ->
      decimal sum -> one quantized division, the mean_exact
      discipline), so every trained centroid lives on the 1e-6 grid
      and is bit-identical on any engine or partitioning,
    - iteration count is FIXED (no data-dependent early stop), the
      pagerank/hits convention that keeps the plan CTE-unrollable.

    Scale shape per iteration: assignment is one narrow codegen'd
    projection (k fold expressions against broadcast-literal
    centroids — no shuffle of the corpus), the update is one
    partial-aggregated shuffle on the bounded (cell, dim) key space,
    and k*d quantized doubles come back to the driver (the same
    fit-time scalar boundary as kmeans_fit). ``kmeans_fit`` (numpy
    matmul per batch) stays the throughput path for ANN cell
    assignment; this variant is the reproducible-quantizer path and
    the correctness gate for both.
    """
    from gordo_spark.functions.rounding import qfloor

    src = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("e")
    )
    rows = src.orderBy("_id").limit(k).collect()
    C = [[float(x) for x in r["e"]] for r in rows]
    n_dim = len(C[0])

    for _ in range(int(iters)):
        d2s = [
            F.aggregate(
                F.zip_with(
                    F.col("e"),
                    F.array(*[F.lit(c) for c in C[j]]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"_d{j}")
            for j in range(k)
        ]
        scored = src.select("e", *d2s)
        # argmin with lowest-cell tie-break: lexicographic sort of
        # (d2, cell) structs, take the head — total order, no RNG
        assigned = scored.select(
            "e",
            F.element_at(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(
                                F.col(f"_d{j}").alias("d"),
                                F.lit(j).alias("c"),
                            )
                            for j in range(k)
                        ]
                    )
                ),
                1,
            )["c"].alias("cell"),
        )
        means = (
            assigned.select("cell", F.posexplode("e").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                (
                    qfloor(
                        F.sum(qfloor(F.col("x"), 6).cast("decimal(38,0)"))
                        .cast("double")
                        / F.count(F.lit(1))
                    )
                    / F.lit(1e6)
                ).alias("m")
            )
            .collect()
        )
        newC = [list(row) for row in C]  # empty cells keep old centroid
        for r in means:
            newC[int(r["cell"])][int(r["dim"])] = float(r["m"])
        C = newC

    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(c, d, C[c][d]) for c in range(k) for d in range(n_dim)],
        "cell int, dim int, centroid double",
    ).orderBy("cell", "dim")


def kmeans_inertia(
    vectors: DataFrame,
    C: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to the nearest centroid (model quality;
    one pass, numpy per batch, a single scalar to the driver)."""
    src = vectors.select(_as_double(F.col(vec_col)).alias("nv"))
    Csq = np.einsum("ij,ij->i", C, C)

    @pandas_udf("double")
    def _d2(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="float64")
        V = np.stack(v.to_numpy())
        Vsq = np.einsum("ij,ij->i", V, V)
        d2 = Vsq[:, None] - 2.0 * (V @ C.T) + Csq[None, :]
        return pd.Series(np.min(d2, axis=1))

    return src.select(F.sum(_d2(F.col("nv"))).alias("s")).collect()[0]["s"]


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Deterministic engine-portable variant: the coarse quantizer's centroids
    are the first ``n_cells`` corpus vectors by id (no RNG, so the DuckDB
    oracle reproduces it exactly). Every corpus vector is assigned to its
    nearest centroid by cosine; each query probes its ``n_probe`` nearest
    cells and ranks only vectors in those cells.

    Scale posture: the centroid matrix is tiny and ships in the task closure
    (assignment is ONE numpy matmul + argmax per Arrow batch — no crossJoin,
    no window); the corpus never shuffles for assignment — at 100 TB the
    corpus would be *written* partitioned by ``cell`` so a probe is a
    partition-pruned scan of n_probe/n_cells of the data.  A trained k-means
    quantizer drops in by replacing the centroid rows; the plan shape is
    unchanged.
    """
    cells, C, cnorm = _first_centroids(vectors, n_cells, id_col, vec_col)
    src = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    # ties broken toward the lowest cell id: centroids are ordered by id,
    # and argmax returns the first maximal index
    assigned = _assign_cells(src, cells, C, cnorm)

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cents = F.broadcast(
        vectors.orderBy(id_col).limit(n_cells).select(
            F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("cv")
        )
    )
    return _ivf_search(assigned, q, cents, k, n_probe)


def _ivf_search(
    assigned: DataFrame, q: DataFrame, cents: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """Shared IVF probe+rank tail: each query probes its ``n_probe``
    nearest cells (broadcast centroid frame, ties toward the lowest cell
    id), ranks only vectors assigned to those cells."""
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cell"))
    probes = (
        q.crossJoin(cents)
        .withColumn("_csim", cosine(F.col("qv"), F.col("cv")))
        .withColumn("_r", F.row_number().over(w_probe))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cosine_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk_trained(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search with a *trained* coarse quantizer (``kmeans_fit``'s
    k x d matrix): cells are 0..k-1, assignment is the same one-matmul-
    per-Arrow-batch map, and the probe/rank tail is identical to
    ``ivf_topk`` — only the quantizer quality changes, not the plan."""
    C = np.asarray(centroids, dtype=np.float64)
    cells = np.arange(len(C), dtype=np.int64)
    cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))
    src = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    assigned = _assign_cells(src, cells, C, cnorm)
    cents = F.broadcast(
        vectors.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in C[i]]) for i in range(len(C))],
            schema="cell long, cv array<double>",
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    return _ivf_search(assigned, q, cents, k, n_probe)


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH — each of ``tables``
    independent hash tables buckets by ``bits`` hyperplane signs; candidates
    are the union of same-bucket matches across tables (classic recall
    amplification: miss prob (1-p^bits)^tables). At scale, write the corpus
    bucketed/partitioned by (table, bucket) so probes are partition-pruned
    scans; candidate set shrinks ~2^bits-fold per table.

    All ``tables`` bucket ids for a row come from ONE matmul against the
    stacked (tables*bits x d) plane matrix per Arrow batch."""
    dim = len(vectors.select(vec_col).first()[0])
    all_planes = [hyperplanes(dim, bits, seed=7 + 1000 * t) for t in range(tables)]
    # stack every table's planes into one matrix: one matmul buckets a row
    # into all tables at once
    P = np.asarray([row for planes in all_planes for row in planes]).T  # d x (t*b)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        V = np.stack(v.to_numpy())
        signs = (V @ P) > 0  # b x (tables*bits)
        bkts = signs.reshape(len(V), tables, bits) @ weights  # b x tables
        return pd.Series(list(bkts))

    def bucketed(df, idname, vecname):
        return (
            df.withColumn("_bkts", _buckets(F.col(vecname)))
            .select(idname, vecname, F.posexplode("_bkts").alias("tbl", "bkt"))
        )

    v = bucketed(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
        ),
        "neighbor_id",
        "nv",
    )
    q = bucketed(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        ),
        "query_id",
        "qv",
    )
    scored = (
        v.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cosine_sim"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector in long form (label, pos, mean) — the
    classification-dataset health primitive (class prototypes for drift
    checks, nearest-centroid baselines, cohesion below).

    posexplode -> groupBy(label, pos) avg is pure JVM column algebra with
    map-side partial aggregation: at 100 TB each partition pre-reduces to
    |labels| x dim cells before the one exchange. No Python, no UDF.
    """
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
        )
        .groupBy("label", "pos")
        .agg(qround(F.avg("val"), 6).alias("mean"))
    )


def label_cohesion(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label intra-class cohesion: mean cosine similarity of each
    vector to its label centroid (low cohesion = mislabeled or
    heterogeneous class). The centroid table is |labels| x dim — computed
    once, broadcast back; the cosine kernel is the Arrow-batched numpy
    path shared with the ANN operators.

    The centroid is NOT rounded here (rounding is presentation, the
    cohesion math uses full precision); only the final per-label mean is.
    """
    cents = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            "label", F.transform("_pm", lambda s: s["m"]).alias("centroid")
        )
    )
    joined = df.select(
        F.col(label_col).alias("label"), _as_double(F.col(vec_col)).alias("v")
    ).join(F.broadcast(cents), "label")
    sim = cosine(F.col("v"), F.col("centroid"))
    return (
        joined.select("label", sim.alias("_cos"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            qround(F.avg("_cos"), 6).alias("mean_cosine"),
        )
    )


def embedding_norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Flag vectors whose L2 norm is a z-score outlier within their label
    — the cheap detector for embedding-pipeline bugs (zeroed rows,
    double-normalized batches, wrong-scale mixes land far from their
    class's norm distribution).

    Norms via posexplode + groupBy(id) sum-of-squares (JVM, map-side
    combined — deliberately not a per-element HOF lambda); label
    mean/std is a |labels|-row aggregate broadcast back. z uses the
    sample std (stddev_samp), matching SQL STDDEV, and is rounded to 3dp:
    mean/std summation order differs across engines by last-ulp amounts,
    and at 6dp a few of thousands of z values straddle a rounding
    boundary (observed 7/2000); 3dp leaves a 1000x margin.
    """
    sq = (
        df.select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
        )
        .groupBy(id_col, "label")
        .agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("norm"))
    )
    stats = sq.groupBy("label").agg(
        F.avg("norm").alias("_mu"), F.stddev_samp("norm").alias("_sd")
    )
    z = (F.col("norm") - F.col("_mu")) / F.col("_sd")
    return (
        sq.join(F.broadcast(stats), "label")
        .select(
            F.col(id_col),
            "label",
            qround("norm", 6).alias("norm"),
            qround(z, 3).alias("z"),
            (F.abs(z) > z_threshold).alias("is_outlier"),
        )
    )


def semdedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings with a coarse quantizer and removing, WITHIN
    each cluster, every vector whose cosine similarity to an earlier-id
    vector in the same cluster reaches ``threshold``. Clustering makes
    the quadratic check local: the cross-cluster pair space — the
    overwhelming majority at corpus scale — is never materialized
    (the paper prunes 50% of LAION with k=50,000 clusters this way).

    Keep rule: ascending-id scan; a vector is a duplicate iff ANY
    earlier same-cluster vector is >= ``threshold`` similar (no
    chaining through already-removed vectors — the rule is a pure
    pairwise EXISTS, deterministic and engine-portable; the DuckDB
    oracle states it as one self-join).

    Scale shape: assignment is the IVF map (one matmul + argmax per
    Arrow batch, centroid matrix in the task closure); the per-cluster
    check is one applyInPandas with an m x m similarity matmul, bounded
    by the cluster size the quantizer's k controls — choose
    k ~ N/20_000 so cells stay O(10^4) rows. Returns every input id
    with (cell, keep); survivors = keep, prune list = NOT keep.
    """
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        cells = np.arange(len(C), dtype=np.int64)
        cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))
    else:
        cells, C, cnorm = _first_centroids(vectors, n_cells, id_col, vec_col)
    src = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    assigned = _assign_cells(src, cells, C, cnorm)
    t = float(threshold)

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id")
        V = np.stack(pdf["nv"].to_numpy())
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        with np.errstate(divide="ignore", invalid="ignore"):
            N = V / norms[:, None]
        N = np.nan_to_num(N)
        S = N @ N.T
        # max similarity to any STRICTLY EARLIER row (lower triangle)
        earlier = np.where(np.tri(len(V), k=-1, dtype=bool), S, -np.inf).max(
            axis=1, initial=-np.inf
        )
        return pd.DataFrame(
            {
                id_col: pdf["neighbor_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "keep": earlier < t,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cell, schema=f"{id_col} long, cell long, keep boolean"
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """ANN quality harness: per-query recall@k of an approximate top-k
    result against the exact top-k — the metric that tunes n_probe /
    bands / cells before committing an index layout (recall-QPS
    tradeoff, Johnson et al. 2017). One equi-join on (query, neighbor)
    plus a per-query count; both inputs are top-k lists, so everything
    here is eval-sized (k x |queries|), never corpus-sized. Queries
    whose approximate list missed entirely still appear with recall 0
    (left join from the exact side's query set). The denominator is the
    query's ACTUAL truth-list size, min(k, |truth|) — dividing by a
    fixed k would cap recall below 1.0 whenever the corpus has fewer
    than k eligible neighbors and misreport a perfect result."""
    a = approx.select(query_col, neighbor_col)
    e = exact.select(query_col, neighbor_col)
    hits = (
        a.join(e, [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("_n_truth"))
    return base.join(hits, query_col, "left").select(
        query_col,
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        qround(
            F.coalesce("n_hit", F.lit(0))
            / F.least(F.lit(float(k)), F.col("_n_truth")),
            6,
        ).alias("recall"),
    )


def pca_fit_exact(
    vectors: DataFrame,
    k: int = 4,
    iters: int = 24,
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]]]:
    """ENGINE-EXACT top-k PCA: exact scaled-integer mean/covariance
    sufficient statistics, then FIXED-ITERATION power iteration with
    deflation run in plain scalar arithmetic — every intermediate on the
    1e-9 grid, every reduction a left fold, so mean, covariance,
    components, and projections are bit-identical on any engine,
    partitioning, or retry order, and the whole fit unrolls into a SQL
    oracle (the kmeans_fit_exact discipline). ``pca_fit`` (driver
    ``eigh`` over float sufficient stats) stays the statistical path —
    a dense eigensolver is not portable arithmetic; fixed power steps
    are ALSO the method that survives d where eigh does not (this is
    what randomized/iterative solvers do at scale).

    Statistics passes (exactly TWO scans, both Arrow-batched numpy
    int64 partials — centered covariance needs the mean first, so two
    is the floor): pass 1 fuses row count + per-dim 1e-9-quantized
    value sums into one mapInPandas job; pass 2 sums the per-row
    CENTERED pair products quantized to 1e-9 integers — ONE d x d grid
    per partition, reduced in exact arbitrary-precision driver
    arithmetic (integer sums are order-free, so each statistic is
    partitioning-independent and equal to the oracle's
    explode+HUGEINT-groupBy form value-for-value). The d x d quantized
    covariance (sample, /(n-1)) stays driver-side (bounded,
    model-sized), where each component runs ``iters`` power steps
    (matvec = left fold per row; normalize by a correctly-rounded sqrt;
    re-quantize to 1e-9), gets its sign pinned (first nonzero component
    positive — the VERDICT convention), and is deflated out
    (C -= lambda v v^T, re-quantized).

    Returns (mean, components) as plain Python lists of grid doubles.
    """
    import math

    def q9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    src = vectors.select(_as_double(F.col(vec_col)).alias("e")).persist()

    # first statistics pass FUSED: count + per-dim 1e9-quantized integer
    # sums in ONE mapInPandas job (one d-length int64 grid per
    # partition; chunk sums reduce into Python-int accumulators, so the
    # partial can never wrap) — replaces the former count() + first() +
    # posexplode/groupBy jobs with a single scan, value-identical to
    # the explode+HUGEINT-groupBy oracle form (per-value quantization
    # then exact order-free integer addition)
    def stat_partial(batches):
        cnt = 0
        sums: list[int] | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["e"].to_numpy())
            chunk = np.floor(V * 1e9 + 0.5).astype(np.int64).sum(
                0, dtype=np.int64
            )
            if sums is None:
                sums = [0] * V.shape[1]
            for j, v in enumerate(chunk):
                sums[j] += int(v)
            cnt += len(V)
        if cnt:
            yield pd.DataFrame({"n": [cnt], "s": [sums]})

    stats = src.mapInPandas(
        stat_partial, schema="n long, s array<long>"
    ).collect()
    n = sum(r["n"] for r in stats)
    if n < 2:
        src.unpersist()
        raise ValueError("pca_fit_exact needs at least 2 vectors")
    n_dim = len(stats[0]["s"])
    tot_s = [0] * n_dim
    for r in stats:
        for j, v in enumerate(r["s"]):
            tot_s[j] += int(v)
    mean = [q9((float(t) / 1e9) / n) for t in tot_s]

    # centered-pair integer sums via Arrow-batched numpy partials: each
    # partition emits ONE d*d int64 grid (integer addition is exact and
    # order-free, so this is partitioning-independent — same values as
    # an explode(i<=j)+groupBy, which at d=64 costs a 4M-row/2080-key
    # shuffle and measured 12x the wall of this shape). Per-partition
    # magnitude bound: |ce_i*ce_j|*1e9 <= ~1e11 per row, so int64 holds
    # ~9e7 rows per partition — two orders past a 128 MB split; the
    # driver reduces partials in arbitrary-precision Python ints.
    mean_np = np.asarray(mean, dtype=np.float64)

    # the scaled product grid is exactly symmetric (IEEE multiplication
    # is commutative, so floor(ce_i*ce_j*1e9+0.5) == its transpose
    # element bit-for-bit): compute only the d*(d+1)/2 upper-triangle
    # pairs and mirror — half the multiply/floor/cast work per row with
    # identical int64 sums (r11, guide §1.2 step 2 / VERDICT task 3)
    iu_r, iu_c = np.triu_indices(n_dim)

    def cov_partial(batches):
        acc_u = np.zeros(len(iu_r), dtype=np.int64)
        # enforce the documented int64 bound instead of letting numpy
        # wrap silently: max |scaled chunk sum| grows by at most
        # max|scaled product| * chunk_rows per chunk, so a running
        # headroom check catches any partition past the ~9e7-row /
        # |ce_i*ce_j|<=~1e2 envelope before the accumulate
        headroom = 2**62
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            V = np.stack(pdf["e"].to_numpy()) - mean_np
            for lo in range(0, len(V), 256):
                ch = V[lo : lo + 256]
                prods = ch[:, iu_r] * ch[:, iu_c]
                prods *= 1e9
                prods += 0.5
                grid = np.floor(prods, out=prods).astype(np.int64)
                chunk = grid.sum(0, dtype=np.int64)
                # Python-int arithmetic so the check itself cannot wrap
                bound = int(np.abs(grid).max(initial=0)) * len(ch)
                if (
                    bound > headroom
                    or int(np.abs(acc_u).max(initial=0)) > headroom - bound
                ):
                    raise OverflowError(
                        "pca_fit_exact int64 partial would overflow: "
                        "partition exceeds the documented magnitude/row "
                        "bound — repartition smaller or rescale embeddings"
                    )
                acc_u += chunk
        if seen:
            acc = np.zeros((n_dim, n_dim), dtype=np.int64)
            acc[iu_r, iu_c] = acc_u
            acc[iu_c, iu_r] = acc_u  # mirror (diagonal rewrites itself)
            yield pd.DataFrame({"s": [acc.ravel().tolist()]})

    partials = src.mapInPandas(
        cov_partial, schema="s array<long>"
    ).collect()
    src.unpersist()
    tot = [0] * (n_dim * n_dim)
    for r in partials:
        for idx, v in enumerate(r["s"]):
            tot[idx] += int(v)
    C = [
        [
            q9((float(tot[i * n_dim + j]) / 1e9) / (n - 1))
            for j in range(n_dim)
        ]
        for i in range(n_dim)
    ]

    comps: list[list[float]] = []
    v0 = q9(1.0 / math.sqrt(float(n_dim)))
    for _ in range(int(k)):
        v = [v0] * n_dim
        for _ in range(int(iters)):
            u = []
            for i in range(n_dim):
                acc = 0.0
                for j in range(n_dim):
                    acc = acc + C[i][j] * v[j]
                u.append(acc)
            acc = 0.0
            for x in u:
                acc = acc + x * x
            nrm = math.sqrt(acc)
            v = [q9(x / nrm) for x in u]
        fz = next((d for d in range(n_dim) if v[d] != 0.0), 0)
        if v[fz] < 0:
            v = [-1.0 * x for x in v]
        comps.append(v)
        cv = []
        for i in range(n_dim):
            acc = 0.0
            for j in range(n_dim):
                acc = acc + C[i][j] * v[j]
            cv.append(acc)
        acc = 0.0
        for i in range(n_dim):
            acc = acc + v[i] * cv[i]
        lam = q9(acc)
        C = [
            [q9(C[i][j] - lam * v[i] * v[j]) for j in range(n_dim)]
            for i in range(n_dim)
        ]
    return mean, comps


def pca_transform_exact(
    vectors: DataFrame,
    mean: list[float],
    comps: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project onto :func:`pca_fit_exact` components with left-fold dot
    products — the engine-exact projection (row-local, shuffle-free).
    Output: (id, pc1..pck) raw doubles; callers quantize for contracts.
    """
    m_arr = F.array(*[F.lit(x) for x in mean])
    ce = F.zip_with(_as_double(F.col(vec_col)), m_arr, lambda x, y: x - y)
    cols = [F.col(id_col)]
    for c, comp in enumerate(comps):
        v_arr = F.array(*[F.lit(x) for x in comp])
        pc = F.aggregate(
            F.zip_with(ce, v_arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(pc.alias(f"pc{c + 1}"))
    return vectors.select(*cols)


def pca_fit(
    vectors: DataFrame, vec_col: str = "embedding", k: int = 8
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distributed PCA of an embedding column via ONE pass of covariance
    sufficient statistics: each Arrow batch contributes (n, sum v,
    sum v v^T); the driver reduces the per-batch partials (d + d^2
    floats each — model-sized, never data) and eigendecomposes the d x d
    covariance. The embedding-space normalization step ahead of
    ANN / SemDeDup (whitening decorrelates dimensions so cosine
    thresholds mean the same thing in every direction).

    Same driver/executor boundary as ``LinearModel``'s OLS stats
    (ml/models.py:93): the collect is #batches rows of d^2 doubles,
    independent of corpus size. The d^2 term bounds applicability: at
    d=64 a partial is 33 KB, at d=1024 it is 8 MB — fine; at d >= ~4096
    (134 MB per partial) move to a randomized range sketch (one pass of
    Y = A @ Omega with a d x (k+p) test matrix, Halko et al. 2011) —
    the plan shape (per-batch matmul partials, driver-side small
    factorization) is unchanged.

    Sign convention: each component is flipped so its max-|.| entry is
    positive — removes the eigenvector sign ambiguity so results are
    reproducible across runs and libraries.

    Returns (mean d, components k x d — rows are PCs by descending
    variance, explained_variance_ratio k).
    """

    def partial(batches):
        n, s, ss = 0, None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy())
            n += len(V)
            s = V.sum(axis=0) if s is None else s + V.sum(axis=0)
            g = V.T @ V
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    rows = (
        vectors.select(_as_double(F.col(vec_col)).alias("v"))
        .mapInPandas(partial, schema="n long, s array<double>, ss array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("empty vector table")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    d = len(s)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    flip = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]
    ratios = np.maximum(evals[order], 0) / np.maximum(evals, 0).sum()
    return mean, comps, ratios


def pca_transform(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten_scale: np.ndarray | None = None,
) -> DataFrame:
    """Project the embedding column onto fitted components — one matmul
    per Arrow batch, the (k x d) component matrix rides in the task
    closure. ``whiten_scale`` (e.g. 1/sqrt(eigenvalues)) rescales the
    projected axes to unit variance."""
    M = np.asarray(mean, dtype=np.float64)
    C = np.asarray(components, dtype=np.float64)
    W = None if whiten_scale is None else np.asarray(whiten_scale, dtype=np.float64)

    @pandas_udf("array<double>")
    def _proj(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        V = np.stack(v.to_numpy())
        P = (V - M) @ C.T
        if W is not None:
            P = P * W
        return pd.Series(list(P))

    return df.withColumn(out_col, _proj(_as_double(F.col(vec_col))))


def hard_negatives(
    vectors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for metric/contrastive training: each
    query's top-k most-similar vectors with a DIFFERENT label — the
    negatives that actually move an embedding model (easy negatives
    contribute ~zero gradient; cf. in-batch vs mined negatives in DPR,
    Karpukhin et al. 2020).

    Ids must be integral (the kernel carries them as an int64 numpy
    vector — the whole ANN family's convention), and the output uses
    the family-standard (query_id, neighbor_id) column names regardless
    of ``id_col``.

    Same single-pass shape as ``cosine_topk`` — the query matrix AND its
    label vector ship in the task closure, the corpus batch carries its
    label column, and the per-batch partial top-k masks same-label rows
    BEFORE selecting (a label-blind partial top-k would be inexact: a
    batch's best different-label rows could be displaced by same-label
    ones). One matmul per Arrow batch, bounded shuffle, one job — not a
    per-label loop.
    """
    q = queries if queries is not None else vectors
    qrows = q.select(id_col, vec_col, label_col).collect()
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qlab = np.asarray([r[2] for r in qrows])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    src = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_nl"),
        _as_double(F.col(vec_col)).alias("nv"),
    )
    schema = "query_id long, neighbor_id long, cosine_sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            nlab = pdf["_nl"].to_numpy()
            V = np.stack(pdf["nv"].to_numpy())
            num = V @ Q.T
            den = np.sqrt(np.einsum("ij,ij->i", V, V))[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = num / den
            frames = []
            for j in range(len(qids)):
                mask = (ids != qids[j]) & (nlab != qlab[j])
                cid, csim = ids[mask], sims[mask, j]
                if len(cid) == 0:
                    continue
                order = np.lexsort((cid, -csim))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": cid[order],
                            "cosine_sim": csim[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = src.mapInPandas(score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ------------------------------------------------------------------ PQ
def _lloyds_np(X: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Deterministic numpy Lloyd's (init = first k rows): the codebook
    trainer for :func:`pq_train` and the parity oracle in pytest."""
    C = X[:k].copy()
    for _ in range(iters):
        d2 = (
            np.einsum("ij,ij->i", X, X)[:, None]
            - 2.0 * (X @ C.T)
            + np.einsum("ij,ij->i", C, C)[None, :]
        )
        assign = np.argmin(d2, axis=1)
        newC = C.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
        if np.allclose(newC, C):
            break
        C = newC
    return C


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 10,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train product-quantization codebooks (Jegou et al., TPAMI 2011):
    split each d-dim vector into ``m`` subvectors and k-means each
    subspace independently; returns the (m, k, d/m) codebook tensor.

    Codebooks are trained on a BOUNDED DETERMINISTIC SAMPLE (first
    ``sample_n`` ids), driver-side — the faiss practice: codebook
    quality saturates at ~100k training points no matter the corpus
    size, so the fit-time boundary ships sample_n*d doubles once, and
    the corpus-sized work stays in :func:`pq_encode`/:func:`pq_adc_topk`.
    Deterministic end-to-end: sample by id order, init = first k rows.
    """
    rows = (
        vectors.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv"))
        .orderBy("_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.stack([np.asarray(r["nv"], dtype=np.float64) for r in rows])
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    if len(X) < k:
        raise ValueError(
            f"PQ needs >= k training vectors per codebook (got {len(X)} < {k}); "
            "raise sample_n or shrink k"
        )
    dsub = d // m
    return np.stack(
        [_lloyds_np(X[:, s * dsub : (s + 1) * dsub], k, iters) for s in range(m)]
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` codebook indices (the corpus-sized
    pass): one argmin per subspace per Arrow batch — m numpy matmuls per
    batch against the closure-shipped (m, k, d/m) tensor, no shuffle.
    Output is (id, codes array<int>): d doubles compressed to m bytes'
    worth of indices — the representation that keeps a billion-vector
    index in RAM."""
    m, k, dsub = codebooks.shape
    Csq = np.einsum("mkd,mkd->mk", codebooks, codebooks)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["nv"].to_numpy())
            codes = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                sub = V[:, s * dsub : (s + 1) * dsub]
                d2 = Csq[s][None, :] - 2.0 * (sub @ codebooks[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame({"_id": pdf["_id"], "codes": list(codes)})

    return (
        vectors.select(
            F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv")
        )
        .mapInPandas(encode, schema="_id long, codes array<int>")
        .select(F.col("_id").alias(id_col), "codes")
    )


def pq_distortion(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of the PQ code — the index
    quality number that tunes (m, k). One pass, one scalar collected."""
    m, k, dsub = codebooks.shape
    Csq = np.einsum("mkd,mkd->mk", codebooks, codebooks)

    @pandas_udf("double")
    def _err(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="float64")
        V = np.stack(v.to_numpy())
        total = np.zeros(len(V))
        for s in range(m):
            sub = V[:, s * dsub : (s + 1) * dsub]
            d2 = (
                np.einsum("ij,ij->i", sub, sub)[:, None]
                - 2.0 * (sub @ codebooks[s].T)
                + Csq[s][None, :]
            )
            total += np.min(d2, axis=1)
        return pd.Series(total)

    src = vectors.select(_as_double(F.col(vec_col)).alias("nv"))
    row = src.select(
        F.avg(_err(F.col("nv"))).alias("mse")
    ).collect()[0]
    return float(row["mse"])


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k search over PQ codes: per query a
    (m x k) lookup table of exact query-subvector -> centroid distances,
    then each Arrow batch of codes scores itself with m table lookups
    per row (no decompression, no matmul) and emits its partial top-k —
    the same batches*k*q shuffle bound as ``cosine_topk``, over an index
    ~100x smaller than the raw vectors. Ties break on neighbor id
    (stated total order, engine-stable)."""
    m, kk, dsub = codebooks.shape
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    # LUT[q, s, c] = ||Q[q, sub s] - codebooks[s, c]||^2
    lut = np.empty((len(qids), m, kk))
    for s in range(m):
        qs = Q[:, s * dsub : (s + 1) * dsub]
        lut[:, s, :] = (
            np.einsum("ij,ij->i", qs, qs)[:, None]
            - 2.0 * (qs @ codebooks[s].T)
            + np.einsum("kd,kd->k", codebooks[s], codebooks[s])[None, :]
        )

    schema = "query_id long, neighbor_id long, adc_dist double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            Cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # b x m
            frames = []
            for j in range(len(qids)):
                # sum of m LUT lookups per row — pure fancy indexing
                dist = lut[j, np.arange(m)[None, :], Cm].sum(axis=1)
                mask = ids != qids[j]
                cid, cd = ids[mask], dist[mask]
                if len(cid) == 0:
                    continue
                order = np.lexsort((cid, cd))[:k]
                frames.append(
                    pd.DataFrame(
                        {"query_id": qids[j], "neighbor_id": cid[order], "adc_dist": cd[order]}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = codes.select(F.col(id_col).alias("_id"), "codes").mapInPandas(
        score, schema=schema
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", qround("adc_dist", 6).alias("adc_dist"), "rank")
    )


def ivf_pq_write(
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    iters: int = 8,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> None:
    """Materialize an IVF-PQ index (the faiss IVFPQ shape, Jegou et al.
    2011 §IV): coarse-quantize each vector to a cell, PQ-encode its
    RESIDUAL (v - centroid) — residuals are centered, so the same
    codebook budget carries far more precision than raw-vector PQ — and
    write codes PARTITIONED BY cell.

    Read path cost at 100 TB: a probe touches n_probe/n_cells of the
    directories (partition pruning) and reads m small ints per vector
    instead of d doubles — the two multiplicative reductions that make
    billion-vector search interactive. Layout:
    ``<path>/index/cell=<c>/`` (neighbor_id, codes),
    ``<path>/centroids/``, ``<path>/codebooks/``.

    Deterministic end-to-end: the coarse quantizer is LLOYD-REFINED on
    the training sample (faiss IVFPQ trains its quantizer with k-means;
    un-refined first-n seeds on clustered data give badly skewed cells
    and recall collapse at small n_probe), init = first n_cells sample
    rows; codebooks are trained on the sample residuals. Pass
    ``centroids`` to override the quantizer entirely.
    """
    spark = vectors.sparkSession
    # the bounded deterministic sample trains BOTH the coarse quantizer
    # and the residual codebooks
    sample = (
        vectors.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv"))
        .orderBy("_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.stack([np.asarray(r["nv"], dtype=np.float64) for r in sample])
    if len(X) < k:
        raise ValueError(
            f"IVF-PQ needs >= k training vectors per codebook (got {len(X)} < {k}); "
            "raise sample_n or shrink k"
        )
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        if len(X) < n_cells:
            raise ValueError(
                f"IVF-PQ needs >= n_cells training vectors (got {len(X)} < {n_cells})"
            )
        C = _lloyds_np(X, n_cells, iters)
    n_cells = len(C)
    d = C.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    Csq = np.einsum("ij,ij->i", C, C)
    cell_of = np.argmin(
        np.einsum("ij,ij->i", X, X)[:, None] - 2.0 * (X @ C.T) + Csq[None, :], axis=1
    )
    R = X - C[cell_of]
    books = np.stack(
        [_lloyds_np(R[:, s * dsub : (s + 1) * dsub], k, iters) for s in range(m)]
    )
    Bsq = np.einsum("mkd,mkd->mk", books, books)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["nv"].to_numpy())
            cells = np.argmin(
                np.einsum("ij,ij->i", V, V)[:, None] - 2.0 * (V @ C.T) + Csq[None, :],
                axis=1,
            )
            Rv = V - C[cells]
            codes = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                sub = Rv[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = np.argmin(
                    Bsq[s][None, :] - 2.0 * (sub @ books[s].T), axis=1
                )
            yield pd.DataFrame(
                {"neighbor_id": pdf["_id"], "cell": cells, "codes": list(codes)}
            )

    (
        vectors.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv"))
        .mapInPandas(encode, schema="neighbor_id long, cell long, codes array<int>")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )
    spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(n_cells)],
        schema="cell long, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m)
            for c in range(k)
        ],
        schema="sub long, code long, bv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def ivf_pq_probe(
    spark,
    path: str,
    queries: DataFrame,
    kq: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an IVF-PQ index: the query's ``n_probe`` nearest cells (L2
    to the stored centroids, driver-side over the tiny centroid table)
    become a ``cell IN (...)`` PARTITION FILTER; within probed cells,
    asymmetric distance = per-(query, cell) lookup table over the QUERY
    RESIDUAL, summed with m table reads per code row (no decompression).
    The LUT dict is |queries| x n_probe x (m x k) doubles in the task
    closure — bounded by the probe fan-out, never the corpus."""
    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cells = np.asarray([r["cell"] for r in crows], dtype=np.int64)
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in crows])
    brows = spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").collect()
    m = max(r["sub"] for r in brows) + 1
    kk = max(r["code"] for r in brows) + 1
    books = np.zeros((m, kk, C.shape[1] // m))
    for r in brows:
        books[r["sub"], r["code"]] = np.asarray(r["bv"], dtype=np.float64)
    dsub = C.shape[1] // m
    Bsq = np.einsum("mkd,mkd->mk", books, books)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    d2c = (
        np.einsum("ij,ij->i", Q, Q)[:, None]
        - 2.0 * (Q @ C.T)
        + np.einsum("ij,ij->i", C, C)[None, :]
    )
    luts: dict[tuple[int, int], np.ndarray] = {}
    probe_pairs = []
    for j in range(len(qids)):
        order = np.lexsort((cells, d2c[j]))[:n_probe]
        for c in cells[order]:
            qr = Q[j] - C[c]
            lut = np.empty((m, kk))
            for s in range(m):
                qs = qr[s * dsub : (s + 1) * dsub]
                lut[s] = qs @ qs - 2.0 * (books[s] @ qs) + Bsq[s]
            luts[(int(qids[j]), int(c))] = lut
            probe_pairs.append((int(qids[j]), int(c)))
    probed_cells = sorted({c for _, c in probe_pairs})
    probes = spark.createDataFrame(probe_pairs, schema="query_id long, cell long")

    idx = spark.read.parquet(f"{path}/index").filter(
        F.col("cell").isin(probed_cells)  # partition-pruned scan
    )
    joined = idx.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    schema = "query_id long, neighbor_id long, adc_dist double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for (qid, cell), grp in pdf.groupby(["query_id", "cell"]):
                lut = luts[(int(qid), int(cell))]
                Cm = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                dist = lut[rng[None, :], Cm].sum(axis=1)
                # per-batch partial top-k under the final total order
                order = np.lexsort((grp["neighbor_id"].to_numpy(), dist))[:kq]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": int(qid),
                            "neighbor_id": grp["neighbor_id"].to_numpy()[order],
                            "adc_dist": dist[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = joined.select("query_id", "cell", "neighbor_id", "codes").mapInPandas(
        score, schema=schema
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kq)
        .select("query_id", "neighbor_id", qround("adc_dist", 6).alias("adc_dist"), "rank")
    )


def subsequence_topk(
    df: DataFrame,
    query: "list[float]",
    k: int = 10,
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
    min_std: float = 1e-9,
) -> DataFrame:
    """Z-normalized subsequence search over the sensor fleet (the
    UCR-suite semantics): find the ``k`` sliding windows — any tag, any
    offset — most similar to a query pattern, under the z-normalized
    euclidean distance (shift- AND scale-invariant: a ramp matches a
    ramp whether it climbs 0..1 or 100..900).

    Uses the identity ED_znorm^2 = 2w(1 - r) with r the Pearson
    correlation of the window against the (pre-z-normalized) query, so
    the whole search is pure codegen window algebra: rolling mean +
    population std over a ROWS frame, and the query dot product as ``w``
    lag terms with literal weights — no arrays, no UDF, no shuffle
    beyond the per-tag window sort. Incomplete leading windows and
    constant windows (std <= ``min_std``; correlation undefined) are
    excluded. Final top-k is a TakeOrdered on (rounded dist, tag, ts) —
    a stated total order, engine-stable.

    100 TB shape: every window is PARTITIONED BY tag; the only global
    operation is the k-row TakeOrdered. Matrix-Profile-style self-joins
    are deliberately out of scope — this is the query-driven search.
    """
    q = np.asarray(query, dtype=np.float64)
    w = len(q)
    if w < 2:
        raise ValueError("query pattern needs >= 2 points")
    if q.std() == 0:
        raise ValueError("constant query pattern has no z-normalized form")
    qz = (q - q.mean()) / q.std()

    wspec = Window.partitionBy(tag_col).orderBy(ts_col).rowsBetween(-(w - 1), 0)
    ospec = Window.partitionBy(tag_col).orderBy(ts_col)
    x = F.col(value_col).cast("double")
    dot = None
    for j in range(w):
        term = F.lit(float(qz[j])) * F.lag(x, w - 1 - j).over(ospec)
        dot = term if dot is None else dot + term
    feats = df.select(
        F.col(tag_col),
        F.col(ts_col),
        dot.alias("_dot"),
        F.avg(x).over(wspec).alias("_m"),
        F.stddev_pop(x).over(wspec).alias("_s"),
        F.row_number().over(ospec).alias("_rn"),
    ).filter((F.col("_rn") >= w) & (F.col("_s") > min_std))
    dist = qround(
        F.sqrt(
            F.greatest(
                F.lit(2.0 * w) * (F.lit(1.0) - F.col("_dot") / (F.lit(float(w)) * F.col("_s"))),
                F.lit(0.0),
            )
        ),
        6,
    )
    out = feats.select(
        F.col(tag_col),
        F.col(ts_col).alias("window_end"),
        dist.alias("znorm_dist"),
    )
    return out.orderBy("znorm_dist", tag_col, "window_end").limit(int(k))


def pca_np(X: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single-node PCA with EXACTLY :func:`pca_fit`'s conventions
    (moment-form covariance, ascending eigh reordered descending,
    max-|.|-positive sign flip): the shared fit both the sample-trained
    projection operator and its SQL-oracle generator call, so the
    components they embed are bit-identical (the pq_train /
    ``_lloyds_np`` pattern)."""
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    mean = X.sum(axis=0) / n
    cov = X.T @ X / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    flip = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]
    ratios = np.maximum(evals[order], 0) / np.maximum(evals, 0).sum()
    return mean, comps, ratios


def pca_sample_fit(
    vectors: DataFrame,
    k: int = 4,
    sample_n: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """PCA trained on a BOUNDED DETERMINISTIC SAMPLE (first ``sample_n``
    ids, driver-side numpy) — the codebook-training posture of
    :func:`pq_train` applied to the projection basis: component quality
    saturates at a few thousand training points no matter the corpus
    size, so the fit boundary ships ``sample_n * d`` doubles once and
    the corpus-sized work stays in :func:`pca_transform`. The
    full-corpus sufficient-stats fit (:func:`pca_fit`) remains the
    exact-variance path; this is the oracle-checkable apply path
    (iterative fit rows-only, deterministic apply SQL-matched)."""
    rows = (
        vectors.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("nv"))
        .orderBy("_id")
        .limit(int(sample_n))
        .collect()
    )
    X = np.stack([np.asarray(r["nv"], dtype=np.float64) for r in rows])
    return pca_np(X, k)


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Scalar (per-dimension min-max) quantization of an embedding
    column to ``levels+1`` integer codes plus the per-vector
    reconstruction MSE — the 4x-compression baseline every
    vector-store ships alongside PQ (d float32 -> d uint8): code_j =
    floor((x_j - min_j) * levels / span_j + 0.5), reconstruction
    ``min_j + code_j * span_j / levels``.

    Two passes, both corpus-shaped: ONE map-side-combined aggregation
    for the d (min, max) pairs — a fit-time boundary of 2d doubles to
    the driver, like centroids — then one row-local codegen encode with
    the bounds as array literals in the task closure: no join, no
    shuffle, no Python. Zero-span dimensions encode to 0. The encode
    arithmetic is stated in one fixed operation order so the SQL oracle
    reproduces it bit-for-bit.
    """
    L = float(levels)
    e = _as_double(F.col(vec_col))
    ex = vectors.select(F.posexplode(e).alias("j", "x"))
    stats = sorted(
        ex.groupBy("j").agg(F.min("x").alias("mn"), F.max("x").alias("mx")).collect(),
        key=lambda r: r["j"],
    )
    if not stats:
        raise ValueError("empty vector table")
    mn = [float(r["mn"]) for r in stats]
    sp = [float(r["mx"]) - float(r["mn"]) for r in stats]
    d = len(mn)
    MN = F.array(*[F.lit(v) for v in mn])
    SP = F.array(*[F.lit(v) for v in sp])
    centered = F.zip_with(e, MN, lambda x, m: x - m)
    codes = F.zip_with(
        centered,
        SP,
        lambda c, s: F.when(s > 0, F.floor(c * F.lit(L) / s + F.lit(0.5))).otherwise(
            F.lit(0)
        ),
    )
    errs = F.zip_with(
        F.zip_with(codes.cast("array<double>"), SP, lambda q, s: q * s / F.lit(L)),
        centered,
        lambda r, c: r - c,
    )
    mse = (
        F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x * x) / F.lit(float(d))
    )
    return vectors.select(
        F.col(id_col),
        codes.alias("codes"),
        mse.alias("mse"),
    )


def embedding_drift(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space drift per label between two deterministic halves
    of the corpus (md5(id) parity — the sampling module's bucket
    convention): cosine similarity and L2 distance between the halves'
    per-label centroids, plus both halves' vector counts. The
    vector-space member of the drift family — psi_drift / ks_drift
    watch a scalar's distribution, this watches whether a CLASS has
    moved in representation space (an embedding-model upgrade or a
    domain shift shows here first, long before scalar metrics drift).

    Pure JVM column algebra: posexplode -> (label, half, pos) avg with
    map-side partial aggregation (each partition pre-reduces to
    |labels| x 2 x dim cells), a conditional-agg pivot onto (label,
    pos), then one |labels|-row reduction for dot/norms. No Python, no
    UDF, nothing above |labels| x dim ever shuffles. Output:
    ``(label, cosine, l2, n_ref, n_cur)`` — cosine near 1 = stable.
    """
    from gordo_spark.operators.dedup import md5_long

    half = F.pmod(md5_long(F.col(id_col).cast("string")), F.lit(2))
    narrow = df.select(
        F.col(label_col).alias("label"),
        half.alias("_h"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
    )
    cent = narrow.groupBy("label", "_h", "pos").agg(
        F.avg("val").alias("_c"), F.count(F.lit(1)).alias("_n")
    )
    wide = cent.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("_h") == 0, F.col("_c"))).alias("_a"),
        F.sum(F.when(F.col("_h") == 1, F.col("_c"))).alias("_b"),
        F.max(F.when(F.col("_h") == 0, F.col("_n"))).alias("_na"),
        F.max(F.when(F.col("_h") == 1, F.col("_n"))).alias("_nb"),
    )
    agg = wide.groupBy("label").agg(
        F.sum(F.col("_a") * F.col("_b")).alias("_dot"),
        F.sqrt(F.sum(F.col("_a") * F.col("_a"))).alias("_la"),
        F.sqrt(F.sum(F.col("_b") * F.col("_b"))).alias("_lb"),
        F.sqrt(F.sum((F.col("_a") - F.col("_b")) * (F.col("_a") - F.col("_b")))).alias("_l2"),
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
    )
    cos = F.when(
        (F.col("_la") > 0) & (F.col("_lb") > 0),
        F.col("_dot") / (F.col("_la") * F.col("_lb")),
    )
    return agg.select(
        "label",
        qround(cos, 6).alias("cosine"),
        qround("_l2", 6).alias("l2"),
        "n_ref",
        "n_cur",
    )


def truncation_energy(
    df: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation audit: for each candidate prefix
    dimension ``d``, how much of each vector's L2 norm the first ``d``
    components retain (``|v[:d]| / |v|``) — the measurement that
    decides whether an index can store truncated embeddings (MRL,
    Kusupati et al. 2022) or whether this embedding family spreads its
    energy uniformly (random-ish vectors retain ~sqrt(d/D), trained
    MRL vectors front-load).

    Row-local higher-order lambdas (slice + aggregate, cast to double
    first); each row explodes into |dims| (dim, ratio) entries and one
    map-side-combinable aggregation summarizes per dim. Output
    ``(dim, n_vectors, mean_retained, p10_retained)``.
    """

    def sumsq(col):
        return F.aggregate(
            F.transform(col, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )

    full = sumsq(F.col(vec_col))
    entries = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(d)).alias("dim"),
                        F.when(
                            full > 0,
                            F.sqrt(
                                sumsq(F.slice(F.col(vec_col), 1, int(d)))
                                / full
                            ),
                        ).alias("ratio"),
                    )
                    for d in dims
                ]
            )
        ).alias("_e")
    ).select("_e.dim", "_e.ratio")
    return (
        entries.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            qround(F.avg("ratio"), 6).alias("mean_retained"),
            qround(F.expr("percentile(ratio, 0.1)"), 6).alias(
                "p10_retained"
            ),
        )
        .orderBy("dim")
    )


def bitext_margin(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 4,
    min_margin: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based candidate mining between two embedding sets — the
    ratio-margin criterion of Artetxe & Schwenk 2019 (LASER/CCMatrix
    bitext mining), forward variant: a query's best corpus neighbor
    counts only when its cosine stands OUT against the query's own
    top-k neighborhood, ``margin = cos(x, y*) / mean(top-k cos(x, .))``
    — raw cosine thresholds fail because hub vectors are "close" to
    everything (the margin denominates the hubness away).

    Built on :func:`cosine_topk` (exact per-batch partial top-k; the
    query side is the collected small side — at corpus-x-corpus scale
    feed CANDIDATES from the IVF/LSH path here instead, the documented
    faiss-mining practice); the margin readout is one query-keyed
    aggregate over the k rows per query plus a rank-1 join. Output
    ``(query_id, neighbor_id, cosine, margin)`` for margins >=
    ``min_margin``, rounded to 6.
    """
    topk = cosine_topk(vectors, queries, k=int(k), id_col=id_col, vec_col=vec_col)
    denom = topk.groupBy("query_id").agg(
        F.avg("cosine_sim").alias("_avg")
    )
    best = topk.filter(F.col("rank") == 1).select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("_cos")
    )
    return (
        best.join(denom, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            qround("_cos", 6).alias("cosine"),
            qround(F.col("_cos") / F.col("_avg"), 6).alias("margin"),
        )
        .filter(F.col("margin") >= float(min_margin))
        .orderBy("query_id")
    )


def knn_graph_stats(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-health diagnostics from the exact cosine kNN graph:
    per-vector IN-DEGREE (how many vectors count me among their k
    nearest — the HUBNESS signal: high-dimensional or degenerate
    embeddings concentrate in-degree on a few "hub" points, Radovanovic
    et al. 2010) and RECIPROCAL-NEIGHBOR RATE (fraction of my k nearest
    that also have me in theirs — low reciprocity marks asymmetric,
    unstable neighborhoods; the SemDeDup-adjacent quality readout).

    Output per vector: ``(vec_id, in_degree, n_reciprocal,
    reciprocal_rate)`` — vectors nobody points at appear with
    in_degree 0. Neighbor ranking uses the 6dp-ROUNDED cosine with an
    id-ascending tiebreak (the tfidf_topk engine-portability trick).

    Scale posture: this is a bounded-sample DIAGNOSTIC (the
    dedup_embed_cosine / ann_recall convention) — the all-pairs product
    is the point of the exact readout, so the caller passes a sample
    (contract caps by id filter). The join carries NO broadcast hint:
    AQE broadcasts a genuinely small side on its own, and an unhinted
    plan degrades to a shuffle join instead of an executor OOM if a
    caller hands the full corpus to a sample-scoped diagnostic
    (the round-7/8 de-hinting rule; regression-pinned in
    tests/test_plan_rules.py). The corpus-scale estimator is the same
    arithmetic over an LSH/IVF candidate graph (``lsh_ann_topk``);
    hubness is a property you MEASURE on samples, not a per-row
    production transform.
    """
    # The kNN edge set via ONE matmul per Arrow batch against the collected
    # sample matrix (the cosine_topk boundary: this operator is documented
    # as a bounded-sample diagnostic, so the sample fits the task closure
    # like a broadcast). The previous form joined the sample against itself
    # on src != dst — a nested-loop join materializing n^2 pair rows that
    # each carried BOTH d-dim vectors through the Arrow boundary (n=1000,
    # d=64: ~1M rows x 128 doubles = ~1 GB crossing JVM->Python for 8 MB of
    # actual vectors; measured 17.7 s at sf0.1), then a full n^2-row window
    # sort. Here each batch row ranks all n candidates in numpy and emits
    # only its k edges — the pair frame, the boundary traffic, and the
    # window sort all disappear (guide: batch the Python boundary, shuffle
    # decisions not payloads). Ranking stays BIT-IDENTICAL: the 6dp qround
    # (floor(x*1e6+0.5)/1e6, pure IEEE, same in numpy) is applied BEFORE
    # the (cos desc, dst asc) order, exactly like the window it replaces.
    # ONE upstream pass (r11): Arrow toPandas instead of a row-based
    # collect (guide §6 — orders faster for 64-dim vectors), and the
    # collected sample is re-parallelized as the mapInPandas input and
    # the id spine, so the upstream scan+filter is not re-derived by
    # the edge pass (was: collect + checkpoint + ids = three upstream
    # derivations per execution)
    spark = vectors.sparkSession
    sample = vectors.select(
        F.col(id_col).alias("src"), _as_double(F.col(vec_col)).alias("va")
    ).toPandas()
    qids = sample["src"].to_numpy(dtype=np.int64)
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in sample["va"]])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    kk = int(k)
    sample["va"] = [np.asarray(v, dtype=np.float64).tolist() for v in sample["va"]]
    src_local = spark.createDataFrame(
        sample, schema="src long, va array<double>"
    ).repartition(spark.sparkContext.defaultParallelism)

    def knn_edges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["src"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["va"].to_numpy())
            num = V @ Q.T  # b x n — one BLAS call per batch
            den = np.sqrt(np.einsum("ij,ij->i", V, V))[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = num / den
            sims = np.floor(sims * 1e6 + 0.5) / 1e6  # qround(_, 6)
            frames = []
            for i in range(len(ids)):
                mask = qids != ids[i]
                cid, csim = qids[mask], sims[i][mask]
                if len(cid) == 0:
                    continue
                # same total order as the window this replaces:
                # rounded cosine desc, neighbor id asc
                order = np.lexsort((cid, -csim))[:kk]
                frames.append(
                    pd.DataFrame({"src": ids[i], "dst": cid[order]})
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    topk = (
        src_local.mapInPandas(knn_edges, schema="src long, dst long")
        .localCheckpoint()  # two consumers (in-degree + reciprocity join)
    )
    indeg = topk.groupBy(F.col("dst").alias("_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    recip = (
        topk.alias("x")
        .join(
            topk.alias("y"),
            (F.col("x.src") == F.col("y.dst"))
            & (F.col("x.dst") == F.col("y.src")),
        )
        .groupBy(F.col("x.src").alias("_id"))
        .agg(F.count(F.lit(1)).alias("n_reciprocal"))
    )
    ids = src_local.select(F.col("src").alias("_id"))
    return (
        ids.join(indeg, "_id", "left")
        .join(recip, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
            qround(
                F.coalesce("n_reciprocal", F.lit(0)) / F.lit(float(k)), 6
            ).alias("reciprocal_rate"),
        )
    )


def rrf_fusion(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval
    rankings — the standard hybrid-search combiner (BM25 lexical +
    embedding ANN is the RAG-stack pairing): each list contributes
    ``1 / (rrf_k + rank)`` per document; documents missing from a list
    contribute nothing from it. Output ``(id, n_lists, rrf_score,
    fused_rank)`` with the fused ranking ordered by (score desc, id
    asc) — the 6dp-rounded score breaks exact ties by id
    (engine-portable, the tfidf_topk convention).

    Scale shape: rankings are already top-k bounded by their retrievers
    (TakeOrdered outputs), so the union + one hash aggregation is
    |lists| x k rows — no corpus-sized state; the final rank is a
    window over that bounded frame.
    """
    if not rankings:
        raise ValueError("rrf_fusion needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col).alias("_id"),
            (1.0 / (F.lit(int(rrf_k)) + F.col(rank_col).cast("double"))).alias(
                "_c"
            ),
        )
        for r in rankings
    ]
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    agg = un.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_lists"),
        qround(F.sum("_c"), 6).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("_id").asc())
    # single-partition window over a |lists| x k bounded frame — the
    # revenue_pareto K-row exemption, never row-cardinality
    return agg.select(
        F.col("_id").alias(id_col),
        "n_lists",
        "rrf_score",
        F.row_number().over(w).alias("fused_rank"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "relevance",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) of a BOUNDED retriever output: greedily pick the candidate
    maximizing ``lam * relevance - (1 - lam) * max_sim_to_selected`` —
    the diversity pass between retrieval and a context window (ten
    near-identical passages waste nine slots).

    Scale shape: the input is a top-n retriever output (TakeOrdered —
    tens of rows by construction), so the n x n cosine matrix and the
    greedy loop run driver-side numpy on a BOUNDED collect (the
    markov_attribution / codebook precedent — k sequential argmaxes
    over <= n rows as Spark jobs would be pure scheduler overhead).
    Relevance and similarities round to 6dp before the greedy
    comparisons (engine-portable argmax; id-ascending tiebreak).
    Output: ``(id, mmr_rank, relevance, objective)`` — iterative-fit
    contract class (numpy-pinned, rows-only oracle).
    """
    import numpy as np

    rows = (
        candidates.select(
            F.col(id_col).alias("_id"),
            qround(F.col(rel_col).cast("double"), 6).alias("_rel"),
            _as_double(F.col(vec_col)).alias("_v"),
        )
        .orderBy("_id")
        .collect()
    )  # bounded: retriever top-n
    if not rows:
        return candidates.sparkSession.createDataFrame(
            [], f"{id_col} long, mmr_rank int, relevance double, objective double"
        )
    ids = [r["_id"] for r in rows]
    rel = np.array([r["_rel"] for r in rows])
    V = np.stack([np.array(r["_v"], dtype=float) for r in rows])
    norms = np.linalg.norm(V, axis=1)
    S = np.floor((V @ V.T) / np.outer(norms, norms) * 1e6 + 0.5) / 1e6
    n = len(ids)
    lam = float(lam)
    picked: list[int] = []
    objs: list[float] = []
    remaining = set(range(n))
    for _ in range(min(int(k), n)):
        best_i, best_obj = None, None
        for i in sorted(remaining):  # id-order scan = id-asc tiebreak
            penalty = max((S[i, j] for j in picked), default=0.0)
            obj = math.floor((lam * rel[i] - (1.0 - lam) * penalty) * 1e6 + 0.5) / 1e6
            if best_obj is None or obj > best_obj:
                best_i, best_obj = i, obj
        picked.append(best_i)
        objs.append(best_obj)
        remaining.discard(best_i)
    out = [
        (int(ids[i]), r + 1, float(rel[i]), float(objs[r]))
        for r, i in enumerate(picked)
    ]
    return candidates.sparkSession.createDataFrame(
        out, f"{id_col} long, mmr_rank int, relevance double, objective double"
    )


def knn_classify(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification readout over the exact-cosine
    retriever: each query vector takes the modal label of its top-k
    neighbors (ties break to the SMALLEST label, stated), scored
    against its true label — the zero-training classifier baseline
    every embedding-quality investigation starts from (if k-NN can't
    classify, no probe will). Composes :func:`cosine_topk` with one
    (query, label) vote aggregate and one |queries|-row join; no new
    corpus-scale machinery.

    Output per query: ``(query_id, true_label, pred_label, votes,
    correct)``, ordered by query id.
    """
    from pyspark.sql import Window

    ranked = cosine_topk(embeddings, queries, k=k).select(
        "query_id", F.col("neighbor_id").alias("_nb")
    )
    nlab = embeddings.select(
        F.col(id_col).alias("_nb"), F.col(label_col).alias("_nl")
    )
    votes = (
        ranked.join(nlab, "_nb")
        .groupBy("query_id", F.col("_nl").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wpick = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    pred = (
        votes.withColumn("_rk", F.row_number().over(wpick))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


def kcenter_coreset(
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-CENTER coreset selection (Gonzalez 1985; the 2-approx
    farthest-first traversal SemDeDup-style pipelines use to pick a
    maximally-DIVERSE training subset): seed with the lowest id, then
    repeatedly add the point FARTHEST (max cosine distance, 6dp, id-asc
    tiebreak) from its nearest already-picked center. Complements
    mmr_rerank (relevance-diversity tradeoff) with pure coverage — the
    "what k docs span this corpus" primitive for curriculum seeding and
    eval-set construction.

    Bounded-collect contract class (the mmr/markov/codebook precedent):
    the input is a candidate sample (contract caps by id), the greedy
    loop is k sequential argmaxes driver-side over <= n rows — as Spark
    jobs each argmax would be pure scheduler overhead. Corpus-scale
    path: run per-IVF-cell via the trained-kmeans router, then k-center
    over cell representatives. Distances quantize through the engine
    floor-quantizer so any engine replays the identical pick sequence.
    Output: ``(id, pick_rank, dist_to_centers)`` — dist is the
    max-min objective value AT pick time (seed emits NULL).
    """
    import math

    import numpy as np

    rows = (
        vectors.select(
            F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
        )
        .orderBy("_id")
        .collect()
    )  # bounded: candidate sample
    if not rows:
        return vectors.sparkSession.createDataFrame(
            [], f"{id_col} long, pick_rank int, dist_to_centers double"
        )
    ids = [r["_id"] for r in rows]
    V = np.stack([np.array(r["_v"], dtype=float) for r in rows])
    norms = np.linalg.norm(V, axis=1)
    S = np.floor(
        (1.0 - (V @ V.T) / np.outer(norms, norms)) * 1e6 + 0.5
    ) / 1e6  # cosine DISTANCE, engine-quantized
    n = len(ids)
    picked = [0]  # lowest id seeds
    out = [(ids[0], 1, None)]
    mind = S[0].copy()  # min distance to picked set, per point
    for r in range(2, min(int(k), n) + 1):
        best_i, best_d = None, -1.0
        for i in range(n):  # id-order scan = id-asc tiebreak
            if i in picked:
                continue
            if mind[i] > best_d:
                best_i, best_d = i, mind[i]
        picked.append(best_i)
        out.append((ids[best_i], r, float(best_d)))
        mind = np.minimum(mind, S[best_i])
    return vectors.sparkSession.createDataFrame(
        out, f"{id_col} long, pick_rank int, dist_to_centers double"
    )


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC eval-set contamination screen: for every eval item, the
    max cosine similarity over the training corpus and the offending
    train id — the embedding-space companion of the n-gram
    ``decontaminate`` (paraphrased leaks share no 13-gram but sit at
    cosine ~0.97; Lee et al. 2022's dedup lesson applied to eval
    integrity). Verdict ``contaminated = max_cos >= threshold``.

    Scale shape: the EVAL side is the small, fixed side (benchmarks are
    KBs by construction — the decontaminate convention) and broadcasts;
    the train corpus streams through one scan, and the per-eval max is
    a map-side-combinable aggregate keyed on the eval id (|eval| groups,
    bounded). 6dp cosine + id-asc argmax keeps it engine-exact.
    Output: ``(eval_id, max_cos, nearest_train_id, contaminated)``.
    """
    ev = evalset.select(
        F.col(id_col).alias("eval_id"), _as_double(F.col(vec_col)).alias("_ve")
    )
    tr = train.select(
        F.col(id_col).alias("_tid"), _as_double(F.col(vec_col)).alias("_vt")
    )
    pairs = tr.join(F.broadcast(ev), F.lit(True)).select(
        "eval_id",
        "_tid",
        qround(cosine(F.col("_vt"), F.col("_ve")), 6).alias("_cos"),
    )
    best = pairs.groupBy("eval_id").agg(
        F.max("_cos").alias("max_cos"),
        F.min_by(
            "_tid", F.struct((-F.col("_cos")).alias("d"), F.col("_tid"))
        ).alias("nearest_train_id"),
    )
    return best.select(
        "eval_id",
        "max_cos",
        "nearest_train_id",
        (F.col("max_cos") >= F.lit(float(threshold))).alias("contaminated"),
    ).orderBy("eval_id")
