"""Vector similarity search: exact distributed top-k + LSH-bucketed ANN.

Re-expresses the reference's FAISS/DiskANN vector index surface
(``muller/core/vector/vector_index.py:199-279``, metrics l2 / cosine /
inner_product at ``core/vector/utils.py:25-42``) on Spark:

- **exact_knn** — the correctness oracle and the FLAT-index analogue.
  Partial top-k per partition (Arrow-batched numpy inside
  ``mapInPandas``), then a global ``orderBy(dist).limit(k)`` re-rank of
  the P·k candidates — the same partial+final shape as a distributed
  aggregation, so the full N×Q distance matrix never leaves executors.
- **ann_knn** — hyperplane-LSH path: random projections → bucket id,
  candidates = bucket-join matches, exact re-rank within candidates.
  Recall is tunable via ``num_planes``/``num_tables``.
- **ivf_knn** — inverted-file path (FAISS IVFFLAT/IVFPQ analogue): a
  coarse k-means quantizer trained on a bounded sample, queries probe
  their ``nprobe`` nearest cells, a single map-only pass emits
  per-partition partial top-k over probed rows.  ``num_centroids`` /
  ``nprobe`` play exactly the roles of nlist/nprobe.

Query vectors ship via broadcast (they're small); the corpus never
shuffles in the exact path and shuffles once (by bucket) in the ANN path.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from muller_spark.partitioning import ensure_parallelism

METRICS = ("l2", "cosine", "inner_product")


def _as_matrix(query_vectors) -> np.ndarray:
    q = np.asarray(query_vectors, dtype=np.float64)
    if q.ndim == 1:
        q = q[None, :]
    return q


def _distances(mat: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """(n, d) x (m, d) → (n, m) distance (smaller = closer)."""
    if metric == "l2":
        # squared L2 (monotone with L2; FAISS also returns squared)
        n2 = (mat * mat).sum(axis=1)[:, None]
        q2 = (q * q).sum(axis=1)[None, :]
        return n2 + q2 - 2.0 * (mat @ q.T)
    if metric == "inner_product":
        return -(mat @ q.T)
    if metric == "cosine":
        mn = np.linalg.norm(mat, axis=1, keepdims=True)
        qn = np.linalg.norm(q, axis=1, keepdims=True)
        denom = np.clip(mn @ qn.T, 1e-30, None)
        return 1.0 - (mat @ q.T) / denom
    raise ValueError(f"metric must be one of {METRICS}, got {metric!r}")


def fast_matrix(series, dtype=np.float64) -> np.ndarray:
    """pandas list-column → (n, d) ndarray without a per-row Python
    lambda: Arrow already hands each cell over as an ndarray, so a
    plain stack + one vectorized cast beats ``map(asarray)`` by ~3x on
    wide vectors (and skips the cast entirely when dtypes match)."""
    vals = series.to_numpy()
    if len(vals) and isinstance(vals[0], np.ndarray):
        out = np.stack(vals)
    else:
        out = np.stack([np.asarray(v) for v in vals])
    return out.astype(dtype, copy=False)


def _read_residual_flag(spark, path: str) -> bool:
    """True iff the IVFPQ artifact encodes residuals.  The ONLY case
    that legitimately means "raw" is the meta dir not existing
    (pre-residual artifact layout) — a transient read error must
    propagate: silently assuming raw would build wrong ADC LUTs on a
    search, and on append would permanently corrupt the codes table by
    mixing raw-encoded rows into a residual-encoded index."""
    import os as _os

    meta_path = _os.path.join(path, "meta")
    from muller_spark.fs import get_fs

    if not get_fs(meta_path).isdir(meta_path):
        return False  # pre-residual artifact layout
    return bool(spark.read.parquet(meta_path).first()["residual"])


def sample_matrix(
    df: DataFrame, vec_col: str, sample_size: int, seed: int
) -> np.ndarray:
    """Bounded uniform driver-side sample as a float64 matrix.

    Seeded Bernoulli sample (uniform across partitions — ``limit()``
    would take one disk region) sized with 5% headroom, Arrow-converted
    in bulk, then PERMUTED with the seeded RNG before truncating to
    ``sample_size`` — a plain ``[:sample_size]`` runs in partition
    order, so whenever the overshoot materializes it would drop rows
    from the last partitions systematically, biasing k-means/PQ training
    toward early partitions (the failure mode Bernoulli was chosen to
    avoid).  Replaces ``rdd.takeSample``, whose Row-object
    deserialization of wide vectors cost more than the k-means it fed;
    corpora ≤ sample_size short-circuit to a full read.
    """
    total = df.count()
    if total == 0:
        raise ValueError(
            "cannot sample training vectors from an empty DataFrame "
            "(IVF/PQ/k-means training needs at least one row)"
        )
    sel = df.select(vec_col)
    if total > sample_size:
        frac = min(1.0, (sample_size * 1.05) / total)
        sel = sel.sample(False, frac, seed)
    pdf = sel.toPandas()
    mat = fast_matrix(pdf[vec_col], np.float64)
    if len(mat) > sample_size:
        keep = np.random.RandomState(seed).permutation(len(mat))[:sample_size]
        mat = mat[keep]
    return mat


def exact_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vectors,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Exact top-k for each query vector.

    Returns (query_id, id, distance) with k rows per query.
    """
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    q = _as_matrix(query_vectors)
    spark = df.sparkSession
    bq = spark.sparkContext.broadcast(q)
    m = metric
    kk = k

    def partial_topk(iterator):
        import pandas as pd

        qm = bq.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col])
            dists = _distances(mat, qm, m)  # (n, nq)
            n = dists.shape[0]
            take = min(kk, n)
            out_frames = []
            for qi in range(qm.shape[0]):
                idx = np.argpartition(dists[:, qi], take - 1)[:take]
                out_frames.append(pd.DataFrame({
                    "query_id": qi,
                    "id": pdf[id_col].to_numpy()[idx],
                    "distance": dists[idx, qi],
                }))
            yield pd.concat(out_frames)

    partial = ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        partial_topk, "query_id int, id long, distance double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim)


def train_centroids(
    df: DataFrame,
    vec_col: str,
    num_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer training for IVF: Lloyd's k-means on a bounded
    driver-side sample — the same train-on-sample regime as FAISS IVF
    (reference trains on the committed tensor,
    ``core/vector/vector_index.py:199-255``).  The sample is capped at
    ``sample_size`` rows regardless of corpus size; the corpus itself is
    never collected.

    The sample is UNIFORM (seeded Bernoulli over every partition), not
    ``limit()`` — a limit takes whatever partition answers first, so a
    corpus sorted or clustered on disk would train centroids on one
    region of the space and IVF recall would collapse."""
    mat = sample_matrix(df, vec_col, sample_size, seed)
    return _kmeans(mat, num_centroids, iters, seed)


def ivf_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vectors,
    k: int = 10,
    metric: str = "l2",
    num_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) coarse quantizer —
    the FAISS ``IVFPQ``/``IVFFLAT`` analogue (recall tuned by
    ``num_centroids``/``nprobe`` exactly like nlist/nprobe).

    Single map-only pass over the corpus: each Arrow batch assigns its
    vectors to the nearest broadcast centroid, keeps only rows whose
    cell is in a query's probe set, and emits a per-partition partial
    top-k.  No shuffle touches the corpus; the final re-rank sees at
    most P·Q·k candidate rows."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    q = _as_matrix(query_vectors)
    centroids = train_centroids(df, vec_col, num_centroids, sample_size, seed=seed)
    # probe sets: the nprobe nearest centroids per query (same metric space)
    cd = _distances(centroids, q, metric)  # (n_centroids, nq)
    probes = [set(np.argsort(cd[:, qi])[:nprobe].tolist()) for qi in range(q.shape[0])]

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((centroids, q, probes))
    m, kk = metric, k

    def probe_topk(iterator):
        import pandas as pd

        cents, qm, probe_sets = bc.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col])
            # assign in the QUERY metric (not hardcoded l2): probing the
            # metric's nearest centroids while assigning rows by l2
            # would systematically miss the cells where high-similarity
            # vectors live for cosine/inner_product (_distances is
            # uniformly smaller-is-closer, so argmin works for all)
            assign = _distances(mat, cents, m).argmin(axis=1)
            out = []
            for qi, probe in enumerate(probe_sets):
                mask = np.isin(assign, list(probe))
                if not mask.any():
                    continue
                sub = mat[mask]
                dists = _distances(sub, qm[qi][None, :], m)[:, 0]
                take = min(kk, len(sub))
                idx = np.argpartition(dists, take - 1)[:take]
                out.append(pd.DataFrame({
                    "query_id": qi,
                    "id": pdf[id_col].to_numpy()[mask][idx],
                    "distance": dists[idx],
                }))
            if out:
                yield pd.concat(out)

    partial = ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        probe_topk, "query_id int, id long, distance double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def ann_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vectors,
    k: int = 10,
    metric: str = "cosine",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH + exact re-rank.

    Each of ``num_tables`` hash tables assigns every vector a bucket from
    the sign pattern of ``num_planes`` projections; a query probes its
    buckets in every table, candidates = union, exact distance re-rank.
    """
    q = _as_matrix(query_vectors)
    dim = q.shape[1]
    spark = df.sparkSession
    planes = [_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)]
    bp = spark.sparkContext.broadcast(planes)

    def bucketize(iterator):
        import pandas as pd

        ps = bp.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col])
            frames = []
            for t, pl in enumerate(ps):
                bits = (mat @ pl.T) > 0
                bucket = np.zeros(len(mat), dtype=np.int64)
                for b in range(bits.shape[1]):
                    bucket = (bucket << 1) | bits[:, b]
                frames.append(pd.DataFrame({
                    "id": pdf[id_col], "table": t, "bucket": bucket,
                }))
            yield pd.concat(frames)

    corpus_buckets = ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        bucketize, "id long, table int, bucket long"
    )

    # query buckets computed on the driver (queries are tiny)
    q_rows = []
    for qi in range(q.shape[0]):
        for t, pl in enumerate(planes):
            bits = (q[qi] @ pl.T) > 0
            bucket = 0
            for b in bits:
                bucket = (bucket << 1) | int(b)
            q_rows.append((qi, t, bucket))
    q_buckets = spark.createDataFrame(q_rows, "query_id int, table int, bucket long")

    candidates = (
        corpus_buckets.join(F.broadcast(q_buckets), ["table", "bucket"])
        .select("query_id", "id")
        .distinct()
    )
    with_vec = candidates.join(df.select(F.col(id_col).alias("id"), vec_col), "id")

    bq = spark.sparkContext.broadcast(q)
    m = metric

    def rerank(iterator):
        import pandas as pd

        qm = bq.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col])
            dist = np.empty(len(pdf))
            for qi in np.unique(pdf["query_id"].to_numpy()):
                mask = (pdf["query_id"] == qi).to_numpy()
                dist[mask] = _distances(mat[mask], qm[int(qi)][None, :], m)[:, 0]
            yield pd.DataFrame({
                "query_id": pdf["query_id"], "id": pdf["id"], "distance": dist,
            })

    scored = with_vec.mapInPandas(rerank, "query_id int, id long, distance double")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


# ---------------------------------------------------------------------------
# graph ANN (HNSW) — import-gated on hnswlib
# ---------------------------------------------------------------------------

_HNSWLIB = None


def _get_hnswlib():
    global _HNSWLIB
    if _HNSWLIB is None:
        try:
            import hnswlib  # type: ignore

            _HNSWLIB = hnswlib
        except ImportError:
            _HNSWLIB = False
    return _HNSWLIB


def hnsw_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vectors,
    k: int = 10,
    metric: str = "l2",
    m_links: int = 16,
    ef_construction: int = 200,
    ef_search: int = 64,
) -> DataFrame:
    """Approximate top-k via per-partition HNSW graphs + global re-rank —
    the FAISS ``HNSWFLAT`` analogue (reference
    ``core/vector/vector_index.py:199-255``, recall tests at
    ``tests/integration/indexing/test_vector_search_recall.py``).

    Each executor partition builds an hnswlib graph over its rows inside
    ``mapInPandas`` (Arrow-batched; the graph lives only for the task),
    answers all queries locally, and emits its partial top-k; the global
    re-rank sees P·Q·k candidate rows, identical in shape to
    ``exact_knn``.  Sharding a graph index per partition keeps build
    memory bounded at any corpus size — a single global graph cannot be
    built distributively — at the cost of querying P small graphs
    instead of one big one (per-query work still drops from O(N) to
    P·O(log(N/P))).

    **Environment gate**: hnswlib is not installed in this container, so
    the per-partition kernel falls back to the exact vectorized partial
    top-k (numpy BLAS) — same outputs, brute-force cost per partition.
    The gate activates automatically where hnswlib is importable; the
    recall test asserts the contract either way.
    """
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    q = _as_matrix(query_vectors)
    spark = df.sparkSession
    bq = spark.sparkContext.broadcast(q)
    m, kk = metric, k
    hp = {"m_links": m_links, "ef_construction": ef_construction, "ef_search": ef_search}

    def partition_graph_topk(iterator):
        import pandas as pd

        qm = bq.value
        hnswlib = _get_hnswlib()
        if not hnswlib:
            # fallback: stream the exact partial top-k PER ARROW BATCH —
            # materializing the whole partition (which the graph build
            # genuinely needs) would turn bounded-per-batch memory into
            # O(partition) for no benefit when there is no graph
            for pdf in iterator:
                if pdf.empty:
                    continue
                mat = fast_matrix(pdf[vec_col])
                ids = pdf[id_col].to_numpy()
                take = min(kk, len(mat))
                dists = _distances(mat, qm, m)
                out = []
                for qi in range(qm.shape[0]):
                    idx = np.argpartition(dists[:, qi], take - 1)[:take]
                    out.append(pd.DataFrame({
                        "query_id": qi, "id": ids[idx],
                        "distance": dists[idx, qi],
                    }))
                yield pd.concat(out)
            return
        # accumulate the whole partition: HNSW needs all rows before search
        frames = [pdf for pdf in iterator if not pdf.empty]
        if not frames:
            return
        pdf = pd.concat(frames)
        mat = fast_matrix(pdf[vec_col])
        ids = pdf[id_col].to_numpy()
        take = min(kk, len(mat))
        if hnswlib:
            space = {"l2": "l2", "cosine": "cosine", "inner_product": "ip"}[m]
            index = hnswlib.Index(space=space, dim=mat.shape[1])
            index.init_index(
                max_elements=len(mat),
                ef_construction=hp["ef_construction"],
                M=hp["m_links"],
            )
            index.add_items(mat.astype(np.float32), np.arange(len(mat)))
            index.set_ef(max(hp["ef_search"], take))
            labels, dists = index.knn_query(qm.astype(np.float32), k=take)
            out = []
            for qi in range(qm.shape[0]):
                sub = mat[labels[qi]]
                # re-compute distances in float64 with the shared metric
                # so ranks merge consistently with other partitions
                d = _distances(sub, qm[qi][None, :], m)[:, 0]
                out.append(pd.DataFrame({
                    "query_id": qi, "id": ids[labels[qi]], "distance": d,
                }))
            yield pd.concat(out)

    partial = ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        partition_graph_topk, "query_id int, id long, distance double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def _cell_assign_frame(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids,
    probes: int,
    normalize: bool,
) -> DataFrame:
    """(cell int, id long, vec array<double>) rows: each vector
    assigned to its ``probes`` nearest IVF cells (one row per cell) —
    the map-only half of :func:`knn_join`.  One BLAS distance block
    per Arrow batch; ``normalize=True`` unit-normalizes vectors first
    (the cosine regime: cells and distances both live on the unit
    sphere).  NULL vectors raise — silently dropping a query row would
    truncate its result set with no signal."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    probes = int(probes)

    def assign(iterator):
        cents = bc.value
        cn2 = (cents * cents).sum(axis=1)
        for pdf in iterator:
            if pdf.empty:
                continue
            if pdf[vec_col].isnull().any():
                raise ValueError(
                    f"NULL vector in column {vec_col!r}: drop or impute "
                    "NULL embeddings before knn_join"
                )
            mat = fast_matrix(pdf[vec_col])
            if normalize:
                norms = np.linalg.norm(mat, axis=1)
                norms[norms == 0] = 1.0
                mat = mat / norms[:, None]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is rank-constant
            d2 = cn2[None, :] - 2.0 * (mat @ cents.T)
            p = min(probes, d2.shape[1])
            cells = np.argpartition(d2, p - 1, axis=1)[:, :p]
            frames = []
            for j in range(p):
                frames.append(pd.DataFrame({
                    "cell": cells[:, j].astype(np.int32),
                    "id": pdf[id_col],
                    "vec": list(mat),
                }))
            yield pd.concat(frames)

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
    ])
    from muller_spark.partitioning import ensure_parallelism

    return ensure_parallelism(
        df.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    ).mapInPandas(assign, schema)


def _cogroup_blas_topk(left: DataFrame, right: DataFrame, k: int) -> DataFrame:
    """Candidate scoring for the :func:`knn_join` family: per probed
    cell, ONE BLAS distance block (cogrouped Arrow kernel) with an
    in-kernel partial top-k, replacing a row-per-pair JVM join + an
    interpreted per-element ``aggregate(zip_with(...))`` fold —
    |pairs|·dim lambda evaluations become ~|cells| matmuls, and the
    downstream per-query window ranks ≤ k·nprobe rows instead of every
    candidate pair.  Boundary TIES at the per-cell k-th distance are
    all kept (mask ``d2 <= k-th smallest``, not a hard cut), so the
    global (distance, id) ranking selects pair-for-pair the same ids
    as ranking the full candidate set.  ``distance`` is squared L2 via
    the expanded form ``||q||² − 2q·r + ||r||²`` on float64, clipped
    at 0 — ranks are identical to the sequential fold on any input
    whose k-boundary gaps exceed ~1e-9 relative error (the recall
    contract already demands far more margin than that); absolute
    values may differ from the old fold in the last couple of ulps.

    The query-block tile bounds kernel memory at ~32 MB of distances
    per step regardless of cell occupancy, so a hot cell degrades to
    more matmul steps, never to an occupancy² allocation."""
    import pandas as pd

    k = int(k)

    def score(lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({
                "query_id": pd.Series(dtype="int64"),
                "id": pd.Series(dtype="int64"),
                "distance": pd.Series(dtype="float64"),
            })
        Q = fast_matrix(lpdf["__qvec"])
        R = fast_matrix(rpdf["__rvec"])
        qid = lpdf["query_id"].to_numpy(dtype=np.int64)
        rid = rpdf["__rid"].to_numpy(dtype=np.int64)
        rn2 = (R * R).sum(axis=1)
        kk = min(k, len(rid))
        block = max(1, 4_194_304 // len(rid))
        outs = []
        for s in range(0, len(Q), block):
            qb = Q[s:s + block]
            d2 = (qb * qb).sum(axis=1)[:, None] - 2.0 * (qb @ R.T) + rn2[None, :]
            np.maximum(d2, 0.0, out=d2)
            thr = np.partition(d2, kk - 1, axis=1)[:, kk - 1:kk]
            rows, cols = np.nonzero(d2 <= thr)
            outs.append(pd.DataFrame({
                "query_id": qid[s + rows],
                "id": rid[cols],
                "distance": d2[rows, cols],
            }))
        return pd.concat(outs)

    return (
        left.groupBy("cell")
        .cogroup(right.groupBy("cell"))
        .applyInPandas(score, "query_id long, id long, distance double")
    )


def _rank_topk(candidates: DataFrame, k: int) -> DataFrame:
    """(distance asc, id asc) row_number ranking shared by the
    knn_join family — runs over the per-cell partial top-k, so each
    query id carries ≤ k·nprobe rows into the window."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def knn_join(
    queries: DataFrame,
    query_vec_col: str,
    query_id_col: str,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    metric: str = "l2",
    num_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Distributed table-to-table kNN JOIN: for EVERY query row, its
    ``k`` nearest corpus rows — with BOTH sides unbounded.
    :func:`exact_knn`/:func:`ivf_knn`/:func:`hnsw_knn` broadcast a
    bounded query matrix (the interactive-search regime) and
    ``operators/embedding.hard_negatives`` caps its anchor batch at
    4096; this is the remaining scale shape — mine neighbors for a
    whole corpus (all-corpus hard negatives, retrieval augmentation,
    kNN-graph construction) without collecting either side.

    Plan: IVF cell co-partitioning.  Centroids train on a bounded
    uniform corpus sample (:func:`train_centroids` — driver-side
    k-means, the FAISS regime); each CORPUS row is assigned map-only
    to its single nearest cell, each QUERY row to its ``nprobe``
    nearest cells (one Arrow-batched BLAS block per batch); a
    cell-keyed COGROUP scores candidates (query × its probed cells'
    occupants — never queries × corpus) with one BLAS distance block
    and an in-kernel partial top-k per cell
    (:func:`_cogroup_blas_topk`); one window per query id then ranks
    ≤ k·nprobe rows.  (query, corpus) candidate pairs are unique by
    construction (the corpus side holds ONE cell per row), so no
    dedup pass is needed.

    Returns ``(query_id, id, distance, rank)``, rank 1 = nearest,
    ties broken by corpus id ascending.  ``metric="cosine"``
    unit-normalizes both sides and reports ``distance`` = squared
    Euclidean on the unit sphere = 2 − 2·cosine (rank-equivalent,
    float-stable).  ``metric="inner_product"`` is not offered: MIPS
    does not quantize into Voronoi cells without the reduction tricks
    this module doesn't implement — raise rather than silently return
    wrong neighbors.

    Recall is the IVF probe recall at (num_centroids, nprobe) —
    ``nprobe=num_centroids`` is exhaustive (exact, candidates = one
    full co-partitioned pass, still never a broadcast); measure the
    approximate regime on a sample against :func:`exact_knn` before
    committing a corpus run.  A query lands in at most ``nprobe``
    cells, so a row's result may hold FEWER than k rows when its
    probed cells are under-occupied — the recall contract, not a bug.
    Hot cells (dense regions) skew the join; AQE's skew-join split
    handles the shuffle side, and raising ``num_centroids`` thins
    cells structurally."""
    if metric not in ("l2", "cosine"):
        raise ValueError(
            "knn_join supports metric='l2' or 'cosine' (inner_product "
            "does not cell-quantize; see docstring)"
        )
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    normalize = metric == "cosine"
    # train on the same geometry the cells will index: for cosine the
    # sample is unit-normalized in numpy (cheaper and simpler than a
    # normalize expression evaluated corpus-side pre-sample).  The
    # sample skips NULL vectors so a dirty corpus fails in the
    # assignment kernel with its clear contract error, not inside the
    # driver-side sample collection
    nonnull = corpus.select(vec_col).filter(F.col(vec_col).isNotNull())
    if nonnull.isEmpty():
        # empty corpus: no neighbors for anyone — an empty result with
        # the contract schema, not a k-means crash
        return queries.sparkSession.createDataFrame(
            [], "query_id long, id long, distance double, rank int"
        )
    mat = sample_matrix(nonnull, vec_col, sample_size, seed)
    if normalize and len(mat):
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
    centroids = _kmeans(mat, num_centroids, iters=8, seed=seed)
    right = _cell_assign_frame(
        corpus, vec_col, id_col, centroids, probes=1, normalize=normalize
    ).select(
        "cell", F.col("id").alias("__rid"), F.col("vec").alias("__rvec")
    )
    left = _cell_assign_frame(
        queries, query_vec_col, query_id_col, centroids,
        probes=min(nprobe, num_centroids), normalize=normalize,
    ).select(
        "cell", F.col("id").alias("query_id"), F.col("vec").alias("__qvec")
    )
    return _rank_topk(_cogroup_blas_topk(left, right, k), k)


def knn_join_prebuilt(
    queries: DataFrame,
    query_vec_col: str,
    query_id_col: str,
    path: str,
    k: int = 10,
    nprobe: int = 4,
    corpus: "DataFrame | None" = None,
    vec_col: "str | None" = None,
    id_col: "str | None" = None,
) -> DataFrame:
    """:func:`knn_join` against PERSISTED IVF artifacts
    (:func:`build_ivf_artifacts`) — build the index once, join many
    query tables against it without ever re-assigning the corpus.
    The corpus side is the artifact's ``assign`` table itself
    (partitioned by cell): the probed cells are collected (≤ nlist
    ints) and pushed as a partition filter, so a bounded query set
    reads ~nprobe/nlist of the corpus and a space-covering query
    table degrades gracefully to the full co-partitioned scan —
    never a broadcast, never queries × corpus.

    All three artifact layouts work: ``store_vectors=True`` reads the
    inverted lists' own vectors (FAISS layout — no corpus join at
    all); ``quantize_bits=8`` dequantizes JVM-side (one multiply per
    component — ranks carry the documented SQ8 error); the bare
    ``(id, cell)`` layout semi-joins ``corpus`` on id for the re-rank
    vectors (pass ``corpus``/``vec_col``/``id_col``, else a clear
    error).  Metric is L2 — the artifact's training geometry;
    normalize upstream and rebuild for cosine.  Returns
    ``(query_id, id, distance, rank)`` with the :func:`knn_join`
    contract (short results for under-occupied probes included)."""
    import os

    spark = queries.sparkSession
    centroids = load_ivf_centroids(spark, path)
    left = _cell_assign_frame(
        queries, query_vec_col, query_id_col, centroids,
        probes=min(nprobe, len(centroids)), normalize=False,
    ).select(
        "cell", F.col("id").alias("query_id"), F.col("vec").alias("__qvec")
    ).localCheckpoint()  # probed-cell collect + join both consume it
    cells = sorted(r["cell"] for r in left.select("cell").distinct().collect())
    assign = spark.read.parquet(os.path.join(path, "assign")).filter(
        F.col("cell").isin(cells)  # partition pruning on probed cells
    )
    cols = set(assign.columns)
    if "vec" in cols:
        right = assign.select(
            "cell", F.col("id").alias("__rid"),
            F.col("vec").cast("array<double>").alias("__rvec"),
        )
    elif "qvec" in cols:
        right = assign.select(
            "cell", F.col("id").alias("__rid"),
            F.transform(
                "qvec", lambda x: x.cast("double") * F.col("scale")
            ).alias("__rvec"),
        )
    else:
        if corpus is None or vec_col is None or id_col is None:
            raise ValueError(
                "this artifact stores (id, cell) only: pass corpus=, "
                "vec_col=, id_col= so the re-rank can fetch vectors "
                "(or rebuild with store_vectors=True)"
            )
        right = assign.select("cell", F.col("id").alias("__rid")).join(
            corpus.select(
                F.col(id_col).cast("long").alias("__rid"),
                F.col(vec_col).cast("array<double>").alias("__rvec"),
            ),
            "__rid",
        )
    return _rank_topk(_cogroup_blas_topk(left, right, k), k)


# ---------------------------------------------------------------------------
# persisted IVF artifacts (index lifecycle backing store)
# ---------------------------------------------------------------------------

def build_ivf_artifacts(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    num_centroids: int = 16,
    sample_size: int = 4096,
    seed: int = 42,
    store_vectors: bool = False,
    quantize_bits: "int | None" = None,
) -> None:
    """Materialize an IVF index on disk: ``centroids`` (tiny parquet,
    one row per cell) + ``assign`` (``(id, cell)`` parquet partitioned
    by cell).  Searches against the artifact prune to the probed cells
    via parquet partition pruning and never re-assign the corpus —
    the persisted analogue of the reference's saved FAISS index files
    (``core/vector/algorithms/faiss_index.py``).

    ``store_vectors=True`` writes the vectors (float32) into the
    ``assign`` table — FAISS's inverted-list layout, where the lists
    hold the vectors themselves.  Search then reads ~nprobe/nlist of
    the corpus via partition pruning and never shuffle-joins the
    corpus for the re-rank; the cost is one extra at-rest copy of the
    vector column.

    ``quantize_bits=8`` (with ``store_vectors=True``) stores the
    inverted lists as symmetric per-vector int8 + a float scale
    instead of float32 — 4× smaller lists (16× vs float64), the
    SQ8 layout FAISS calls ``IVF,SQ8``.  At 100 TB the inverted lists
    ARE the index footprint, so this is the difference between
    memory-resident and disk-bound probes; the search kernel
    dequantizes per batch (one multiply) and the re-rank error is
    bounded by scale/2 per component (recall pinned in
    tests/test_vector_quantized.py)."""
    import os

    # validate BEFORE the k-means train: failing after it wastes the
    # full sample/train and leaves a fresh-centroids/stale-assign
    # partial artifact at the target path
    if quantize_bits is not None:
        if not store_vectors:
            raise ValueError("quantize_bits requires store_vectors=True")
        if not 2 <= quantize_bits <= 8:
            raise ValueError("quantize_bits must be in [2, 8] (int8 storage)")

    spark = df.sparkSession
    centroids = train_centroids(df, vec_col, num_centroids, sample_size, seed=seed)
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))

    qmax = float(2 ** (quantize_bits - 1) - 1) if quantize_bits else None
    bc = spark.sparkContext.broadcast(centroids)

    def assign(iterator):
        import pandas as pd

        cents = bc.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col], np.float32)
            cell = _distances(mat, cents.astype(np.float32), "l2").argmin(axis=1)
            out = {"id": pdf[id_col], "cell": cell.astype(np.int32)}
            if store_vectors and qmax is not None:
                amax = np.abs(mat).max(axis=1)
                scale = np.where(amax > 0, amax / qmax, 0.0).astype(np.float32)
                safe = np.where(scale > 0, scale, 1.0)[:, None]
                qm = np.floor(mat / safe + 0.5).astype(np.int8)
                qm[scale == 0] = 0
                out["qvec"] = list(qm)
                out["scale"] = scale
            elif store_vectors:
                out["vec"] = list(mat)
            yield pd.DataFrame(out)

    if store_vectors and qmax is not None:
        schema = "id long, cell int, qvec array<tinyint>, scale float"
    elif store_vectors:
        schema = "id long, cell int, vec array<float>"
    else:
        schema = "id long, cell int"
    (
        ensure_parallelism(df.select(id_col, vec_col))
        .mapInPandas(assign, schema)
        # cluster by cell before the partitioned write: without this,
        # every writer task emits a file into every cell directory
        # (tasks × nlist small files) and probed reads drown in
        # listing/open cost; with it each cell is one file
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "assign"))
    )


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    import os

    rows = (
        spark.read.parquet(os.path.join(path, "centroids"))
        .orderBy("cell")
        .collect()
    )
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def append_ivf_assignments(
    df_delta: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    quantize_bits: "int | None" = None,
    centroids: "np.ndarray | None" = None,
) -> None:
    """Incremental maintenance: assign only the delta rows to the
    existing centroids and append to the ``assign`` table — the
    reference's ``update_index`` regime (``vector_search_ops.py:51-82``),
    O(delta), no rebuild.  ``centroids`` are the artifact's own when the
    caller already holds them (a loaded index); else they are read.

    The delta MUST land in the same layout the table already has
    (plain, inverted-list float32 ``vec``, or SQ8 ``qvec``+``scale``) —
    appending (id, cell)-only rows into a vector-carrying table leaves
    NULL list entries that crash every subsequent search's
    ``np.stack``.  The layout is detected from the existing table's
    schema; ``quantize_bits`` is only consulted for SQ8 (default 8
    when the table is quantized)."""
    import os

    spark = df_delta.sparkSession
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    existing = spark.read.parquet(os.path.join(path, "assign"))
    has_vec = "vec" in existing.columns
    has_q = "qvec" in existing.columns
    qmax = float(2 ** ((quantize_bits or 8) - 1) - 1) if has_q else None
    bc = spark.sparkContext.broadcast(centroids)

    def assign(iterator):
        import pandas as pd

        cents = bc.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat32 = fast_matrix(pdf[vec_col], np.float32)
            cell = _distances(
                mat32.astype(np.float64), cents, "l2"
            ).argmin(axis=1)
            out = {"id": pdf[id_col], "cell": cell.astype(np.int32)}
            if has_q:
                amax = np.abs(mat32).max(axis=1)
                scale = np.where(amax > 0, amax / qmax, 0.0).astype(np.float32)
                safe = np.where(scale > 0, scale, 1.0)[:, None]
                qm = np.floor(mat32 / safe + 0.5).astype(np.int8)
                qm[scale == 0] = 0
                out["qvec"] = list(qm)
                out["scale"] = scale
            elif has_vec:
                out["vec"] = list(mat32)
            yield pd.DataFrame(out)

    if has_q:
        schema = "id long, cell int, qvec array<tinyint>, scale float"
    elif has_vec:
        schema = "id long, cell int, vec array<float>"
    else:
        schema = "id long, cell int"
    (
        ensure_parallelism(df_delta.select(id_col, vec_col))
        .mapInPandas(assign, schema)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(path, "assign"))
    )


def ivf_search_prebuilt(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    query_vectors,
    k: int = 10,
    metric: str = "l2",
    nprobe: int = 4,
    centroids: "np.ndarray | None" = None,
    assign_df: "DataFrame | None" = None,
) -> DataFrame:
    """Search against persisted IVF artifacts: probe cells → partition-
    pruned read of ``assign`` → exact re-rank of candidates only.  When
    the artifact stores vectors (``store_vectors=True`` at build), the
    probed cells carry their own vectors and the search touches
    ~nprobe/nlist of the corpus with no join against ``df`` at all;
    otherwise the candidates semi-join the corpus on id.

    A *resident* index passes ``centroids`` (skips the tiny parquet
    read) and ``assign_df`` (the opened ``assign`` table: re-opening it
    per search re-lists nlist partition directories — ~2 s at
    nlist=1000 — which dwarfs the probed scan itself)."""
    import os

    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    spark = df.sparkSession
    q = _as_matrix(query_vectors)
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    cd = _distances(centroids, q, metric)
    probe_rows = [
        (qi, int(c)) for qi in range(q.shape[0]) for c in np.argsort(cd[:, qi])[:nprobe]
    ]
    probes = spark.createDataFrame(probe_rows, "query_id int, cell int")
    cells = sorted({c for _, c in probe_rows})
    if assign_df is None:
        assign_df = spark.read.parquet(os.path.join(path, "assign"))
    assign = assign_df.filter(
        F.col("cell").isin(cells)  # partition pruning on the probed cells
    )
    probe_sets: dict = {}
    for qi, c in probe_rows:
        probe_sets.setdefault(qi, set()).add(c)
    m = metric
    kk = k

    if "vec" in assign.columns or "qvec" in assign.columns:
        # inverted-list layout: one map-only pass over the probed cells.
        # Joining probes to the cells instead would replicate each
        # cell's vectors once per probing query (measured 7× the corpus
        # slice through Arrow); here vectors cross into Python exactly
        # once and every query probing a cell shares one BLAS matmul.
        # Each batch emits ≤ k rows per (query, cell-group): tiny.
        # SQ8 lists (qvec + scale) dequantize per batch — one
        # row-broadcast multiply before the same matmul.
        quantized = "qvec" in assign.columns
        bqp = spark.sparkContext.broadcast((q, probe_sets))

        def cell_topk(iterator):
            import pandas as pd

            qm, probes = bqp.value
            for pdf in iterator:
                if pdf.empty:
                    continue
                out = []
                for cell, grp in pdf.groupby("cell"):
                    probing = [qi for qi, s in probes.items() if cell in s]
                    if not probing:
                        continue
                    if quantized:
                        mat = np.stack(
                            grp["qvec"].map(
                                lambda v: np.asarray(v, dtype=np.float64)
                            )
                        ) * grp["scale"].to_numpy(dtype=np.float64)[:, None]
                    else:
                        mat = np.stack(
                            grp["vec"].map(
                                lambda v: np.asarray(v, dtype=np.float64)
                            )
                        )
                    dists = _distances(mat, qm[probing], m)  # (n, p)
                    ids = grp["id"].to_numpy()
                    take = min(kk, len(ids))
                    for j, qi in enumerate(probing):
                        idx = np.argpartition(dists[:, j], take - 1)[:take]
                        out.append(pd.DataFrame({
                            "query_id": qi,
                            "id": ids[idx],
                            "distance": dists[idx, j],
                        }))
                if out:
                    yield pd.concat(out)

        cols = ["id", "cell"] + (["qvec", "scale"] if quantized else ["vec"])
        scored = assign.select(*cols).mapInPandas(
            cell_topk, "query_id int, id long, distance double"
        )
    else:
        candidates = assign.join(F.broadcast(probes), "cell").select(
            "query_id", "id"
        )
        with_vec = candidates.join(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")),
            "id",
        )

        # exact re-rank with Arrow-batched BLAS (a zip_with/aggregate
        # JVM expression was tried and is 3x slower: higher-order
        # functions don't codegen, and 960 boxed lambda calls per row
        # lose to one matmul per batch even counting the Arrow transfer)
        bq = spark.sparkContext.broadcast(q)

        def rerank(iterator):
            import pandas as pd

            qm = bq.value
            for pdf in iterator:
                if pdf.empty:
                    continue
                mat = np.stack(
                    pdf["__v"].map(lambda v: np.asarray(v, dtype=np.float64))
                )
                dist = np.empty(len(pdf))
                for qi in np.unique(pdf["query_id"].to_numpy()):
                    mask = (pdf["query_id"] == qi).to_numpy()
                    dist[mask] = _distances(mat[mask], qm[int(qi)][None, :], m)[:, 0]
                yield pd.DataFrame({
                    "query_id": pdf["query_id"], "id": pdf["id"],
                    "distance": dist,
                })

        scored = with_vec.mapInPandas(
            rerank, "query_id int, id long, distance double"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


# ---------------------------------------------------------------------------
# product quantization (IVFPQ) — compressed codes + asymmetric distance
# ---------------------------------------------------------------------------

def _kmeans(mat: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Lloyd's k-means with O(n·k) memory: distances go through the
    |x|²+|c|²−2x·c matmul form (never an n×k×d broadcast intermediate —
    at k=1000, d=960, a 64k sample that broadcast would be ~50 TB) and
    the centroid update is a bincount-weighted scatter-add, not a
    per-cluster boolean scan."""
    rng = np.random.RandomState(seed)
    k = min(k, len(mat))
    centroids = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    # assignment distances run in float32 — measured 6x faster at
    # 65k x 960 x 1000 with identical argmins; the centroid UPDATE
    # accumulates in the input dtype (float64 callers keep exact sums)
    work = mat.astype(np.float32, copy=False)
    for _ in range(iters):
        assign = _distances(work, centroids.astype(np.float32), "l2").argmin(axis=1)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centroids


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    num_subspaces: int = 8,
    codebook_size: int = 256,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    centroids: "np.ndarray | None" = None,
) -> np.ndarray:
    """Product-quantizer training (FAISS IVFPQ analogue — reference
    builds ``IVFPQ`` via faiss at ``core/vector/vector_index.py:199-255``,
    ``algorithms/faiss_index.py``): split the dimension into
    ``num_subspaces`` contiguous slices and run k-means per slice on a
    bounded uniform sample.  Returns ``(m, codebook_size, dsub)``.

    ``centroids``: when the coarse quantizer is supplied, codebooks are
    trained on RESIDUALS (x − nearest centroid) — the FAISS IVFPQ
    design.  Raw-vector PQ spends its entropy re-describing which
    cluster a vector sits in (which the coarse cell already encodes),
    leaving nothing to separate same-cell neighbors: on a clustered
    1M×960d corpus, raw encoding measured recall@10 = 0.14 vs the same
    bit-budget on residuals ≥ 0.9.

    A d-dim float32 vector compresses to ``num_subspaces`` uint8 codes —
    e.g. 64-d → 8 bytes, a 32× reduction — which is what makes a
    billion-vector corpus scannable from memory/parquet at 100 TB scale.
    """
    mat = sample_matrix(df, vec_col, sample_size, seed)
    if centroids is not None:
        mat = mat - centroids[_distances(mat, centroids, "l2").argmin(axis=1)]
    dim = mat.shape[1]
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by num_subspaces {num_subspaces}")
    dsub = dim // num_subspaces
    books = np.empty((num_subspaces, min(codebook_size, len(mat)), dsub))
    for m_i in range(num_subspaces):
        sub = mat[:, m_i * dsub : (m_i + 1) * dsub]
        books[m_i] = _kmeans(sub, codebook_size, iters, seed + m_i)
    return books


def build_ivfpq_artifacts(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    num_centroids: int = 16,
    num_subspaces: int = 8,
    codebook_size: int = 256,
    sample_size: int = 4096,
    seed: int = 42,
    store_vectors: bool = False,
    centroids: "np.ndarray | None" = None,
) -> None:
    """Materialize an IVFPQ index: coarse ``centroids`` + PQ
    ``codebooks`` (both tiny parquet) + ``codes`` — one row per vector
    ``(id, cell, code array<short>)``, partitioned by cell.  The codes
    table is the compressed corpus representation ADC scans read; the
    raw vectors are only touched again by the optional refine stage.

    ``store_vectors=True`` adds a float32 ``vec`` column to ``codes``:
    the ADC scan still reads only ``(id, cell, code)`` (parquet column
    pruning), while the refine stage reads ``(id, vec)`` from the same
    probed partitions instead of shuffle-joining the corpus — the
    layout that keeps a 10-query search from touching 100 TB twice.

    Codes are RESIDUAL-encoded (x − cell centroid, the FAISS IVFPQ
    design — see ``train_pq_codebooks``); a ``meta`` table records the
    encoding so search/append stay compatible with pre-residual
    artifacts (absent meta → raw encoding)."""
    import os

    spark = df.sparkSession
    if centroids is None:
        # pass the coarse quantizer in when an IVF build already trained
        # one — retraining costs a corpus sample + k-means for nothing
        centroids = train_centroids(
            df, vec_col, num_centroids, sample_size, seed=seed
        )
    books = train_pq_codebooks(
        df, vec_col, num_subspaces, codebook_size, sample_size, seed=seed,
        centroids=centroids,
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    book_rows = [
        (int(m_i), int(c_i), [float(x) for x in books[m_i, c_i]])
        for m_i in range(books.shape[0])
        for c_i in range(books.shape[1])
    ]
    spark.createDataFrame(
        book_rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    spark.createDataFrame([(True,)], "residual boolean").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "meta"))

    bc = spark.sparkContext.broadcast((centroids, books))

    def encode(iterator):
        import pandas as pd

        cents, bks = bc.value
        m_sub, _, dsub = bks.shape
        for pdf in iterator:
            if pdf.empty:
                continue
            # float32 encode: argmins agree with float64 (profiled at
            # this exact shape) at half the flops and memory traffic
            mat = fast_matrix(pdf[vec_col], np.float32)
            cell = _distances(mat, cents.astype(np.float32), "l2").argmin(axis=1)
            resid = mat - cents[cell].astype(np.float32)
            codes = np.empty((len(mat), m_sub), dtype=np.int16)
            bks32 = bks.astype(np.float32)
            for m_i in range(m_sub):
                sub = resid[:, m_i * dsub : (m_i + 1) * dsub]
                codes[:, m_i] = _distances(sub, bks32[m_i], "l2").argmin(axis=1)
            out = {
                "id": pdf[id_col],
                "cell": cell.astype(np.int32),
                "code": list(codes),
            }
            if store_vectors:
                out["vec"] = list(mat)
            yield pd.DataFrame(out)

    schema = "id long, cell int, code array<smallint>" + (
        ", vec array<float>" if store_vectors else ""
    )
    (
        ensure_parallelism(df.select(id_col, vec_col))
        .mapInPandas(encode, schema)
        # one file per cell, not one per (writer task, cell) — see
        # build_ivf_artifacts
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "codes"))
    )


def load_pq_codebooks(spark, path: str) -> np.ndarray:
    import os

    rows = (
        spark.read.parquet(os.path.join(path, "codebooks"))
        .orderBy("subspace", "code")
        .collect()
    )
    m_sub = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.empty((m_sub, k, dsub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["centroid"]
    return books


def ivfpq_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    query_vectors,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
    codes_df: "DataFrame | None" = None,
) -> DataFrame:
    """IVFPQ search with asymmetric distance computation (ADC):

    1. probe the ``nprobe`` nearest coarse cells per query;
    2. scan only the probed partitions of the ``codes`` table: distance
       ≈ sum over subspaces of LUT[m, code] — a uint8-indexed gather,
       no float vectors read at all.  For residual-encoded artifacts
       the LUT depends on (query, cell) — it is built from the residual
       ``q − centroid(cell)`` — so LUTs are computed inside the scan
       task (codebooks + centroids broadcast once, each LUT is an
       m×book_k×dsub matmul, cached per task);
    3. keep ``refine * k`` ADC candidates per query, then re-rank them
       EXACTLY against the raw vectors (the FAISS refine/rerank stage),
       so small quantization error cannot reorder the final top-k.

    L2 metric (ADC decomposes over subspaces for squared L2)."""
    import os

    spark = df.sparkSession
    q = _as_matrix(query_vectors)
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    if codebooks is None:
        codebooks = load_pq_codebooks(spark, path)
    m_sub, book_k, dsub = codebooks.shape
    residual = _read_residual_flag(spark, path)

    cd = _distances(centroids, q, "l2")
    probe_rows = [
        (qi, int(c)) for qi in range(q.shape[0]) for c in np.argsort(cd[:, qi])[:nprobe]
    ]
    cells = sorted({c for _, c in probe_rows})
    probe_sets = {}
    for qi, c in probe_rows:
        probe_sets.setdefault(qi, set()).add(c)

    bc = spark.sparkContext.broadcast(
        (codebooks, centroids if residual else None, q, probe_sets)
    )
    cand_per_part = max(refine * k, k)

    def adc_scan(iterator):
        import pandas as pd

        bks, cents, qm, probes = bc.value
        msub, bk, ds = bks.shape
        lut_cache: dict = {}

        def lut_for(qi, cell):
            key = (qi, cell if cents is not None else -1)
            hit = lut_cache.get(key)
            if hit is None:
                target = qm[qi] - cents[cell] if cents is not None else qm[qi]
                hit = np.empty((msub, bk))
                for m_i in range(msub):
                    sub_q = target[m_i * ds : (m_i + 1) * ds][None, :]
                    hit[m_i] = _distances(bks[m_i], sub_q, "l2")[:, 0]
                lut_cache[key] = hit
            return hit

        for pdf in iterator:
            if pdf.empty:
                continue
            codes = np.stack(pdf["code"].map(np.asarray))  # (n, m)
            cells_col = pdf["cell"].to_numpy()
            out = []
            for qi, probe in probes.items():
                for cell in sorted(probe):
                    mask = cells_col == cell
                    if not mask.any():
                        continue
                    sub_codes = codes[mask]
                    lut = lut_for(qi, int(cell))
                    dist = np.zeros(len(sub_codes))
                    for m_i in range(sub_codes.shape[1]):
                        dist += lut[m_i, sub_codes[:, m_i]]
                    take = min(cand_per_part, len(dist))
                    idx = np.argpartition(dist, take - 1)[:take]
                    out.append(pd.DataFrame({
                        "query_id": qi,
                        "id": pdf["id"].to_numpy()[mask][idx],
                        "adc": dist[idx],
                    }))
            if out:
                yield pd.concat(out)

    if codes_df is None:
        codes_df = spark.read.parquet(os.path.join(path, "codes"))
    codes_df = codes_df.filter(
        F.col("cell").isin(cells)  # partition pruning on probed cells
    )
    has_stored_vec = "vec" in codes_df.columns
    # explicit projection so the ADC scan never reads a stored vec
    # column off disk (parquet column pruning)
    adc = codes_df.select("id", "cell", "code").mapInPandas(
        adc_scan, "query_id int, id long, adc double"
    )
    from pyspark.sql import Window

    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("id").asc())
    shortlist = (
        adc.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= refine * k)
        .select("query_id", "id")
    )

    # exact refine of the shortlist against the raw vectors — from the
    # probed partitions themselves when the artifact stores them, else
    # a join against the corpus
    if has_stored_vec:
        vec_src = codes_df.select("id", F.col("vec").alias("__v"))
        with_vec = vec_src.join(F.broadcast(shortlist), "id")
    else:
        with_vec = shortlist.join(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")),
            "id",
        )
    bq = spark.sparkContext.broadcast(q)

    def rerank(iterator):
        import pandas as pd

        qm = bq.value
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf["__v"])
            dist = np.empty(len(pdf))
            for qi in np.unique(pdf["query_id"].to_numpy()):
                mask = (pdf["query_id"] == qi).to_numpy()
                dist[mask] = _distances(mat[mask], qm[int(qi)][None, :], "l2")[:, 0]
            yield pd.DataFrame({
                "query_id": pdf["query_id"], "id": pdf["id"], "distance": dist,
            })

    scored = with_vec.mapInPandas(rerank, "query_id int, id long, distance double")
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "distance", "rank")
    )


def append_ivfpq_codes(
    df_delta: DataFrame, vec_col: str, id_col: str, path: str
) -> None:
    """Incremental IVFPQ maintenance: encode only the delta rows with the
    EXISTING centroids and codebooks (residual-encoded when the
    artifact's meta says so), append to ``codes`` — O(delta)."""
    import os

    spark = df_delta.sparkSession
    centroids = load_ivf_centroids(spark, path)
    books = load_pq_codebooks(spark, path)
    residual = _read_residual_flag(spark, path)
    stored = "vec" in spark.read.parquet(os.path.join(path, "codes")).columns
    bc = spark.sparkContext.broadcast((centroids, books))

    def encode(iterator):
        import pandas as pd

        cents, bks = bc.value
        m_sub, _, dsub = bks.shape
        for pdf in iterator:
            if pdf.empty:
                continue
            mat = fast_matrix(pdf[vec_col])
            cell = _distances(mat, cents, "l2").argmin(axis=1)
            base = mat - cents[cell] if residual else mat
            codes = np.empty((len(mat), m_sub), dtype=np.int16)
            for m_i in range(m_sub):
                sub = base[:, m_i * dsub : (m_i + 1) * dsub]
                codes[:, m_i] = _distances(sub, bks[m_i], "l2").argmin(axis=1)
            out = {
                "id": pdf[id_col],
                "cell": cell.astype(np.int32),
                "code": list(codes),
            }
            if stored:
                out["vec"] = [r.astype(np.float32) for r in mat]
            yield pd.DataFrame(out)

    schema = "id long, cell int, code array<smallint>" + (
        ", vec array<float>" if stored else ""
    )
    (
        ensure_parallelism(df_delta.select(id_col, vec_col))
        .mapInPandas(encode, schema)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(path, "codes"))
    )
