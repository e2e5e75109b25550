"""Similarity search over embedding columns (array<float>).

Brute-force exact top-k as the baseline (TakeOrderedAndProject — no full
sort, no Python), and a random-hyperplane LSH-bucketed variant as the
scale path: at 10^12 vectors the bucket equi-join touches only candidate
buckets instead of scoring every vector, the same prune-then-verify shape
as the engine's block scans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    """Exact double-precision dot product, sequential fold (JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_col(a: Column, b: Column) -> Column:
    denom = norm_col(a) * norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom).otherwise(F.lit(0.0))


def _lit_vec(vec: list[float]) -> Column:
    # one array literal in a single py4j call: the element-wise
    # F.array(*[F.lit(v) ...]) form cost one gateway round-trip per
    # element — dim x n_centroids (or x n_planes) of them per query
    # construction, a measurable driver-side constant at dim=64
    return F.lit([float(v) for v in vec])


def ann_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Exact top-k cosine neighbors: score every row (whole-stage
    codegen'd expression), orderBy+limit plans as a distributed top-k
    (TakeOrderedAndProject), not a global sort."""
    q = _lit_vec(query)
    v = F.col(vec_col).cast("array<double>")
    scored = df.select(
        F.col(id_col).alias("vec_id"), cosine_col(v, q).alias("score")
    )
    if exclude_id is not None:
        scored = scored.where(F.col("vec_id") != exclude_id)
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


# --------------------------------------------------------------- LSH ANN ----


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def bucket_col(vec_col: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane signature: bit i = sign(dot(v, plane_i)).
    Pure Column expressions — one fold per plane."""
    v = vec_col.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot_col(v, _lit_vec(p.tolist()))
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def query_signature(query: list[float], planes: np.ndarray) -> int:
    q = np.asarray(query, dtype=np.float64)
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(q, p)) >= 0:
            qsig |= 1 << i
    return qsig


def probe_signatures(qsig: int, n_planes: int, probe_hamming: int) -> list[int]:
    """Exact enumeration of every signature within ``probe_hamming`` bits
    of the query's — the multi-probe set (C(n,0)+...+C(n,h) values; 79
    for n=12, h=2). An ``isin`` on this set is EQUIVALENT to the
    ``bit_count(sig XOR qsig) <= h`` filter but, unlike it, pushes down
    to Parquet row-group stats on a sig-sorted index table."""
    from itertools import combinations

    out = []
    for d in range(probe_hamming + 1):
        for bits in combinations(range(n_planes), d):
            s = qsig
            for b in bits:
                s ^= 1 << b
            out.append(s)
    return sorted(out)


def _sig_dense_file_count(spark, df: DataFrame, dim: int, n_planes: int) -> int:
    """File count for a sig-sorted index such that footer pruning bites
    at EVERY scale. Spark's parquet writer never flushes a row group
    under ~100 records, so at small N one file = one row group and the
    file's [sig_min, sig_max] span is the pruning unit: split the
    sorted table until each file covers ~8 of the 2^n_planes
    signatures (a 79-sig multi-probe then touches ~79*8/2^n of the
    index instead of most of it). At scale the 128 MB size term takes
    over — each file spans <1 signature on its own and the density
    term is already saturated, so this collapses to the normal
    size-driven layout."""
    n_rows = df.count()
    size_files = n_rows * (dim * 5 + 24) // (128 << 20) + 1
    dense_files = min(n_rows // 2 + 1, (1 << n_planes) // 8)
    return max(2, spark.sparkContext.defaultParallelism, size_files, dense_files)


def build_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_planes: int = 12,
    seed: int = 42,
    num_files: int | None = None,
) -> dict:
    """Persist an LSH index table ``(sig, vec_id, vec)`` globally sorted
    by signature, so probes are pruned scans.

    The reference keeps its 'index' in the data layout — sorted block
    keys prune every query (/root/reference/src/raquet_extension.cpp:61-64);
    this is the same move for vectors: signature = sort key, probe =
    pushed ``sig IN (multi-probe set)`` hitting only the row groups whose
    min/max cover a probed signature. One signature table serves every
    query; at 10^12 vectors a probe touches ~(probes/2^n_planes) of the
    data instead of all of it."""
    import json as _json

    spark = df.sparkSession
    first = df.select(vec_col).first()
    dim = len(first[0])
    planes = hyperplanes(dim, n_planes, seed)
    sig = df.select(
        bucket_col(F.col(vec_col), planes).alias("sig"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
    )
    n_files = num_files or _sig_dense_file_count(spark, df, dim, n_planes)
    (
        sig.repartitionByRange(n_files, "sig")
        .sortWithinPartitions("sig")
        .write.mode("overwrite")
        .parquet(path)
    )
    meta = {"n_planes": n_planes, "seed": seed, "dim": dim}
    from .. import fsio

    fsio.write_bytes(
        spark, path, "_ann_index.json", _json.dumps(meta, sort_keys=True).encode()
    )
    return meta


def ann_probe_index(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    *,
    probe_hamming: int = 2,
    exclude_id=None,
) -> DataFrame:
    """Probe a persisted ANN index: multi-probe signature set -> pushed
    ``isin`` scan (row-group pruned on the sorted sig column) -> exact
    cosine re-rank of the touched buckets only."""
    import json as _json

    from .. import fsio

    meta = _json.loads(fsio.read_bytes(spark, path, "_ann_index.json"))
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    qsig = query_signature(query, planes)
    sigs = probe_signatures(qsig, meta["n_planes"], probe_hamming)
    probe = spark.read.parquet(path).where(F.col("sig").isin(sigs))
    if exclude_id is not None:
        probe = probe.where(F.col("vec_id") != exclude_id)
    q = _lit_vec(query)
    return (
        probe.select(
            "vec_id", cosine_col(F.col("vec").cast("array<double>"), q).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def ann_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    *,
    n_planes: int = 12,
    probe_hamming: int = 2,
    exclude_id=None,
    index_path: str | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: score only rows whose hyperplane
    signature is in the multi-probe set (every signature within
    ``probe_hamming`` bits of the query's — the IVF 'nearby centroids'
    idea). With ``index_path`` the probe runs against the persisted,
    sig-sorted index table (:func:`build_ann_index`) as a pruned scan;
    without it, signatures are computed on the fly (ad-hoc one-shot
    queries — a full scan, same results)."""
    if index_path is not None:
        return ann_probe_index(
            df.sparkSession,
            index_path,
            query,
            k,
            probe_hamming=probe_hamming,
            exclude_id=exclude_id,
        )
    planes = hyperplanes(len(query), n_planes)
    qsig = query_signature(query, planes)
    sigs = probe_signatures(qsig, n_planes, probe_hamming)
    sig = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        bucket_col(F.col(vec_col), planes).alias("_sig"),
    )
    probe = sig.where(F.col("_sig").isin(sigs))
    if exclude_id is not None:
        probe = probe.where(F.col("vec_id") != exclude_id)
    q = _lit_vec(query)
    return (
        probe.select(
            "vec_id", cosine_col(F.col("_v").cast("array<double>"), q).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def index_probe_stats(path: str, col: str, values: list[int]) -> dict:
    """How much of a persisted index a probe of ``values`` on the sorted
    ``col`` actually touches, from parquet footer min/max alone — the
    reference's '2 KB of 261 MB' pruning evidence
    (/root/reference/docs/PERFORMANCE_COMPARISON.md:150-153) computed
    for our sig-/centroid-sorted index tables. Driver-side metadata
    walk; no data pages are read."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    vals = sorted(int(v) for v in values)
    tot = {"files": 0, "row_groups": 0, "rows": 0, "bytes": 0}
    hit = {"files": 0, "row_groups": 0, "rows": 0, "bytes": 0}
    for f in sorted(_glob.glob(_os.path.join(path, "*.parquet"))):
        # skip sidecars like _centroids.parquet: Spark ignores
        # underscore-prefixed files too, and counting a file that lacks
        # the probed column would always register as "touched" and skew
        # the reported probe-footprint fractions
        if _os.path.basename(f).startswith("_"):
            continue
        md = _pq.ParquetFile(f).metadata
        ci = md.schema.to_arrow_schema().get_field_index(col)
        if ci < 0:
            continue
        tot["files"] += 1
        file_hit = False
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            tot["row_groups"] += 1
            tot["rows"] += rgm.num_rows
            tot["bytes"] += rgm.total_byte_size
            st = rgm.column(ci).statistics if ci >= 0 else None
            touched = True
            if st is not None and st.has_min_max:
                lo, hi = int(st.min), int(st.max)
                touched = any(lo <= v <= hi for v in vals)
            if touched:
                hit["row_groups"] += 1
                hit["rows"] += rgm.num_rows
                hit["bytes"] += rgm.total_byte_size
                file_hit = True
        hit["files"] += int(file_hit)
    frac = {
        k: (hit[k] / tot[k] if tot[k] else 0.0) for k in ("rows", "bytes", "row_groups")
    }
    return {"total": tot, "touched": hit, "frac": frac}


def lsh_probe_stats(spark, path: str, query: list[float], probe_hamming: int = 2) -> dict:
    """Probe-footprint stats for a persisted LSH index (same multi-probe
    signature set the query plan pushes down)."""
    import json as _json

    from .. import fsio

    meta = _json.loads(fsio.read_bytes(spark, path, "_ann_index.json"))
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    sigs = probe_signatures(
        query_signature(query, planes), meta["n_planes"], probe_hamming
    )
    return index_probe_stats(path, "sig", sigs)


def ivf_probe_stats(spark, path: str, query: list[float], n_probe: int = 3) -> dict:
    """Probe-footprint stats for a persisted IVF index (same top-n_probe
    centroid lists the query plan scans)."""
    import json as _json

    from .. import fsio

    meta = _json.loads(fsio.read_bytes(spark, path, "_ivf_index.json"))
    centroids = [(int(cid), list(map(float, c))) for cid, c in meta["centroids"]]
    probe_ids = _rank_centroids(query, centroids, n_probe)
    return index_probe_stats(path, "centroid_id", probe_ids)


# -------------------------------------------------------------------- IVF ----


def ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int = 8
) -> list[tuple[int, list[float]]]:
    """Trivial deterministic centroid set: the vectors with the n
    smallest ids. Kept as the zero-compute fallback (``method='first'``
    in build_ivf_index); the real coarse quantizer is
    ``ivf_kmeans_centroids``."""
    rows = (
        df.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def ivf_kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
    *,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 10,
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled spherical k-means coarse quantizer.

    Sample: the ``sample_size`` vectors with the smallest
    ``xxhash64(id)`` — a uniform pseudo-random draw that is independent
    of partitioning and row order, so the trained centroids are
    bit-reproducible across runs and cluster sizes (driver memory is
    bounded at sample_size x dim doubles; at 10^12 rows this is a
    TakeOrdered, not a collect). Training: k-means++ seeding
    (``numpy.random.default_rng(seed)``) + ``iters`` Lloyd rounds on
    unit-normalized vectors, cosine assignment (argmax dot); empty
    clusters are reseeded with the farthest sample point. Returns
    (centroid_id 0..k-1, unit-norm centroid vector)."""
    samp = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r["_v"] for r in samp], dtype=np.float64)
    if X.size:
        norms = np.linalg.norm(X, axis=1)
        X = X[norms > 0]
    n = X.shape[0] if X.size else 0
    if n == 0:
        # empty input / all zero-norm vectors: no trainable quantizer
        return []
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    k = min(n_centroids, n)
    rng = np.random.default_rng(seed)
    # k-means++ on cosine distance (1 - dot of unit vectors)
    first = int(rng.integers(n))
    cents = [X[first]]
    d2 = 1.0 - X @ cents[0]
    np.maximum(d2, 0.0, out=d2)
    for _ in range(1, k):
        tot = float(d2.sum())
        if tot <= 0:
            idx = int(rng.integers(n))
        else:
            idx = int(np.searchsorted(np.cumsum(d2), rng.random() * tot))
            idx = min(idx, n - 1)
        cents.append(X[idx])
        d2 = np.minimum(d2, np.maximum(1.0 - X @ cents[-1], 0.0))
    C = np.stack(cents)
    for _ in range(iters):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:
                # reseed with the point farthest from its centroid
                worst = int(np.argmin(sims[np.arange(n), assign]))
                newC[j] = X[worst]
            else:
                m = members.sum(axis=0)
                nm = np.linalg.norm(m)
                newC[j] = m / nm if nm > 0 else C[j]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return [(j, [float(x) for x in C[j]]) for j in range(k)]


def ivf_assign_col(
    vec_col: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid id (argmax cosine; ties -> lowest centroid id)
    as one Column expression: array_max over (sim, -cid) structs —
    Spark compares structs lexicographically, so max sim wins and the
    negated id breaks ties toward the smallest id."""
    return (
        -F.array_max(_centroid_sim_entries(vec_col, centroids)).getField(
            "ncid"
        )
    ).cast("long")


def _centroid_sim_entries(
    vec_col: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """(sim, -cid) struct per centroid, with the VECTOR norm let-bound
    so its aggregate subtree appears once instead of once per centroid
    (the centroid norms are constant-folded literals). Bit-identical
    sims to the inline-cosine form — same expressions, evaluated once —
    but the Catalyst tree carries n_centroids + 1 aggregate HOFs
    instead of 3 x n_centroids, which matters because this expression
    is re-planned at query construction (measured >1 s of driver-side
    planning on dedup_semantic, whose execution is ~0.15 s)."""
    from .text import let_col

    v = vec_col.cast("array<double>")

    def entries(nv: Column) -> Column:
        out = []
        for cid, c in centroids:
            denom = nv * norm_col(_lit_vec(c))
            sim = F.when(denom > 0, dot_col(v, _lit_vec(c)) / denom).otherwise(
                F.lit(0.0)
            )
            out.append(
                F.struct(sim.alias("sim"), F.lit(-cid).alias("ncid"))
            )
        return F.array(*out)

    return let_col(norm_col(v), entries)


def ivf_assign_ids_col(
    vec_col: Column,
    centroids: list[tuple[int, list[float]]],
    n_assign: int = 1,
) -> Column:
    """Top-``n_assign`` nearest-centroid ids (cosine desc; ties ->
    lowest centroid id) as one array Column: sort the (sim, -cid)
    structs, take the head. Redundant assignment (n_assign > 1) is the
    IVF spill trick: each vector is indexed in its n closest lists, so
    neighbors that sit near a Voronoi boundary are still found by a
    probe of the query's top lists — the recall lever when the corpus
    is weakly clustered, at n_assign-x index storage (the data stays
    the pruned-list layout; only the index, never the corpus, grows)."""
    entries = _centroid_sim_entries(vec_col, centroids)
    top = F.slice(F.reverse(F.array_sort(entries)), 1, n_assign)
    return F.transform(top, lambda s: (-s.getField("ncid")).cast("long"))


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_centroids: int = 8,
    num_files: int | None = None,
    method: str = "kmeans",
    seed: int = 42,
    n_assign: int = 2,
) -> dict:
    """Persist IVF inverted lists: (centroid_id, vec_id, vec) sorted by
    centroid_id — the coarse-quantizer twin of the LSH signature index
    (same layout-as-index move, /root/reference/src/raquet_extension.cpp:61-64).
    A probe reads only the row groups of the probed centroid lists.

    ``method='kmeans'`` (default) trains the coarse quantizer with
    deterministic sampled spherical k-means; ``'first'`` keeps the
    zero-compute smallest-id centroids. The chosen centroids are
    written into the index dir both as JSON (engine reads) and as
    ``_centroids.parquet`` (so an independent SQL engine can replay the
    probe from the SAME trained centroids instead of re-deriving them)."""
    import json as _json

    spark = df.sparkSession
    if method == "kmeans":
        centroids = ivf_kmeans_centroids(
            df, id_col, vec_col, n_centroids, seed=seed
        )
    elif method == "first":
        centroids = ivf_centroids(df, id_col, vec_col, n_centroids)
    else:
        raise ValueError(f"unknown IVF method {method!r}")
    assigned = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        F.explode(
            ivf_assign_ids_col(F.col(vec_col), centroids, n_assign)
        ).alias("centroid_id"),
    )
    n_files = num_files or max(2, spark.sparkContext.defaultParallelism)
    (
        assigned.repartitionByRange(n_files, "centroid_id")
        .sortWithinPartitions("centroid_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    meta = {"centroids": centroids, "method": method, "n_assign": n_assign}
    from .. import fsio

    # parquet twin of the centroid list (independent SQL replay) goes
    # FIRST: callers cache on _ivf_index.json's existence, so the json
    # is the commit marker and must be the last artifact written
    import pyarrow as pa
    import pyarrow.parquet as pq

    ct = pa.table(
        {
            "cid": pa.array([c[0] for c in centroids], pa.int64()),
            "cv": pa.array([c[1] for c in centroids], pa.list_(pa.float64())),
        }
    )
    sink = pa.BufferOutputStream()
    pq.write_table(ct, sink)
    fsio.write_bytes(spark, path, "_centroids.parquet", sink.getvalue().to_pybytes())
    fsio.write_bytes(
        spark, path, "_ivf_index.json", _json.dumps(meta, sort_keys=True).encode()
    )
    return meta


def _rank_centroids(
    query: list[float], centroids: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    qa = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((qa * qa).sum()))
    sims = []
    for cid, c in centroids:
        ca = np.asarray(c, dtype=np.float64)
        denom = qn * float(np.sqrt((ca * ca).sum()))
        sims.append((-(float(qa @ ca) / denom) if denom else 0.0, cid))
    return [cid for _, cid in sorted(sims)[:n_probe]]


def ann_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    *,
    n_centroids: int = 8,
    n_probe: int = 2,
    exclude_id=None,
    index_path: str | None = None,
    method: str = "kmeans",
) -> DataFrame:
    """IVF approximate top-k: rank centroids against the query
    driver-side (n_centroids scalars), scan only the probed inverted
    lists, exact cosine re-rank within them — the prompt's 'IVF variant
    as the scale path'. With ``index_path`` the probe is a pruned scan
    of the persisted lists; without it, assignment happens on the fly
    (same results, full scan)."""
    if index_path is not None:
        import json as _json

        from .. import fsio

        spark = df.sparkSession
        meta = _json.loads(fsio.read_bytes(spark, index_path, "_ivf_index.json"))
        centroids = [(int(cid), list(map(float, c))) for cid, c in meta["centroids"]]
        probe_ids = _rank_centroids(query, centroids, n_probe)
        # redundant assignment can land a vector in two probed lists —
        # dedupe on id before scoring (rows are identical except the
        # list id, which is dropped anyway)
        probe = (
            spark.read.parquet(index_path)
            .where(F.col("centroid_id").isin(probe_ids))
            .dropDuplicates(["vec_id"])
        )
        vec = F.col("vec")
    else:
        centroids = (
            ivf_kmeans_centroids(df, id_col, vec_col, n_centroids)
            if method == "kmeans"
            else ivf_centroids(df, id_col, vec_col, n_centroids)
        )
        probe_ids = _rank_centroids(query, centroids, n_probe)
        probe = df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            ivf_assign_ids_col(F.col(vec_col), centroids, n_assign=2).alias("_cids"),
        ).where(
            F.arrays_overlap(
                "_cids", F.lit([int(p) for p in probe_ids])
            )
        )
        vec = F.col("vec")
    if exclude_id is not None:
        probe = probe.where(F.col("vec_id") != exclude_id)
    q = _lit_vec(query)
    return (
        probe.select(
            "vec_id", cosine_col(vec.cast("array<double>"), q).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------- int8 quantization ----


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding-compression
    step of a training-data pipeline (4x smaller vectors, ~1e-2 cosine
    error). Pure Column expressions (transform/aggregate/round — JVM,
    whole-stage codegen): q_i = round(127 * x_i / max|x|), scale
    restores approximate floats as q_i * scale.

    Deterministic and engine-reproducible (round-half-away-from-zero in
    both Spark and DuckDB), so the quantized codes themselves are
    oracle-checkable — not just a tolerance test."""
    v = F.col(vec_col).cast("array<double>")
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(v, lambda x: F.round(x * F.lit(127.0) / m).cast("int"))
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.when(m > 0, q).otherwise(F.transform(v, lambda x: F.lit(0))).alias("q"),
        F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(0.0)).alias("scale"),
    )


# --------------------------------------------------------------- PQ ----
#
# Product quantization (Jégou et al. 2011): split each vector into m
# subspaces, k-means each subspace to k centroids, store each vector
# as m small codes (here 64 floats -> 8 codes = 32x smaller), and
# answer top-k with an asymmetric-distance (ADC) table lookup. The
# twist that makes it ORACLE-CHECKABLE: everything runs in the integer
# domain — vectors are globally int8-quantized first, codebook
# centroids are rounded to ints, so code assignment, the ADC table
# and the final scores are exact int64 arithmetic that any engine
# reproduces bit-for-bit (the same move as ann_quantized's int dot
# products).


def _unit_col(vec: Column) -> Column:
    """Unit-normalize an array<double> Column (zero vectors pass
    through)."""
    v = vec.cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)


def pq_train_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 10,
) -> tuple[float, np.ndarray]:
    """Deterministic sampled PQ training. Returns (gmax, codebooks)
    where codebooks is an int64 array of shape (m, k, dim//m).

    Vectors are UNIT-NORMALIZED first (ann_topk's ground truth is
    cosine; L2-ADC on unit vectors ranks by 2-2cos, i.e. identically),
    then put on the shared int8 grid q_i = round(127 * u_i / gmax)
    where gmax = max |u_i| over the corpus; each subspace then gets
    k-means++ (numpy seed) + Lloyd rounds on the sampled INT vectors,
    and the final centroids are rounded back to ints so downstream
    distances are integer-exact. Driver memory is bounded at
    sample_size x dim (xxhash64-ordered sample, same as
    ivf_kmeans_centroids)."""
    u = _unit_col(F.col(vec_col))
    gmax_row = df.agg(
        F.max(F.array_max(F.transform(u, lambda x: F.abs(x))))
    ).collect()[0]
    gmax = float(gmax_row[0] or 0.0)
    samp = (
        df.select(
            F.col(id_col).alias("_id"),
            u.alias("_v"),
        )
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r["_v"] for r in samp], dtype=np.float64)
    if X.size == 0 or gmax <= 0:
        raise ValueError("pq_train_codebooks needs nonzero vectors")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # round-half-away matches Spark/DuckDB ROUND (np.round is half-even)
    Q = np.sign(X) * np.floor(np.abs(X) * 127.0 / gmax + 0.5)
    rng = np.random.default_rng(seed)
    books = np.zeros((m, k, dsub), dtype=np.int64)
    for s in range(m):
        S = Q[:, s * dsub : (s + 1) * dsub]
        n = S.shape[0]
        kk = min(k, n)
        # k-means++ seeding on squared-L2
        first = int(rng.integers(n))
        cents = [S[first].astype(np.float64)]
        d2 = ((S - cents[0]) ** 2).sum(axis=1)
        for _ in range(1, kk):
            tot = float(d2.sum())
            if tot <= 0:
                idx = int(rng.integers(n))
            else:
                idx = int(np.searchsorted(np.cumsum(d2), rng.random() * tot))
                idx = min(idx, n - 1)
            cents.append(S[idx].astype(np.float64))
            d2 = np.minimum(d2, ((S - cents[-1]) ** 2).sum(axis=1))
        C = np.stack(cents)
        for _ in range(iters):
            dists = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(dists, axis=1)
            for j in range(kk):
                mem = S[assign == j]
                if len(mem) == 0:
                    worst = int(np.argmax(dists[np.arange(n), assign]))
                    C[j] = S[worst]
                else:
                    C[j] = mem.mean(axis=0)
        Ci = np.sign(C) * np.floor(np.abs(C) + 0.5)  # int centroids
        books[s, :kk] = Ci.astype(np.int64)
        if kk < k:
            books[s, kk:] = books[s, kk - 1]  # degenerate pad
    return gmax, books


def pq_quantize_col(vec: Column, gmax: float) -> Column:
    """Global int8 grid (ROUND = half-away in Spark and DuckDB)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.round(x * F.lit(127.0) / F.lit(gmax)).cast("bigint"),
    )


def pq_build_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
) -> dict:
    """Persist the PQ index: ``codes.parquet`` (vec_id, qv int8 grid,
    codes), ``_pq_codebooks.parquet`` EXPLODED to (sub, cid, d, c) rows
    so a SQL engine replays the ADC from the SAME trained codebooks
    with plain integer joins, and ``_pq_meta.json`` (m/k/dsub/gmax).
    Code assignment is integer argmin (ties -> lowest cid), computed
    with vectorized numpy over Arrow batches — offline index build,
    like build_ivf_index."""
    import json as _json
    import os as _os

    spark = df.sparkSession
    gmax, books = pq_train_codebooks(
        df, id_col, vec_col, m=m, k=k, seed=seed
    )
    dsub = books.shape[2]
    bbc = spark.sparkContext.broadcast(books)

    qdf = df.select(
        F.col(id_col).alias("vec_id"),
        pq_quantize_col(_unit_col(F.col(vec_col)), gmax).alias("qv"),
    )

    def assign(batches):
        B = bbc.value  # (m, k, dsub) int64
        for pdf in batches:
            qv = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            codes = np.zeros((qv.shape[0], B.shape[0]), dtype=np.int64)
            for s in range(B.shape[0]):
                sub = qv[:, s * dsub : (s + 1) * dsub]
                # (n, k) integer distances; argmin takes the FIRST
                # minimum -> lowest cid on ties, the documented rule
                d = ((sub[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qv": pdf["qv"],
                    "codes": list(codes),
                }
            )

    out = qdf.mapInPandas(
        assign, schema="vec_id long, qv array<bigint>, codes array<bigint>"
    )
    out.write.mode("overwrite").parquet(_os.path.join(path, "codes.parquet"))
    rows = [
        (s, c, d, int(books[s, c, d]))
        for s in range(books.shape[0])
        for c in range(books.shape[1])
        for d in range(dsub)
    ]
    spark.createDataFrame(
        rows, "sub int, cid int, d int, c bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(path, "_pq_codebooks.parquet")
    )
    meta = {"m": int(books.shape[0]), "k": int(books.shape[1]),
            "dsub": int(dsub), "gmax": gmax}
    with open(_os.path.join(path, "_pq_meta.json"), "w") as f:
        _json.dump(meta, f, sort_keys=True)
    return meta


def pq_topk(
    spark,
    path: str,
    query_vec_id: int,
    topk: int = 10,
    *,
    oversample: int = 10,
) -> DataFrame:
    """ADC-shortlist + exact-rerank top-k over the persisted PQ index
    (the standard two-stage PQ search): the query's int8 grid vector
    (read back from the index) yields an m x k integer distance table
    driver-side; candidates are shortlisted to topk*oversample by the
    m-lookup ADC sum, then reranked by the exact integer dot product
    on the stored int8 grid vectors. Every score is exact int64, so
    any engine reproduces the result bit-for-bit from the same index.
    Plan: parquet scan -> per-row Column expressions -> two
    TakeOrdereds; no shuffle, no UDF at query time. At 10^12 vectors
    the ADC stage reads only (vec_id, codes) — 32x less than the
    vectors — and the rerank touches oversample*topk rows."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_pq_meta.json")) as f:
        meta = _json.load(f)
    m, k, dsub = meta["m"], meta["k"], meta["dsub"]
    codes = spark.read.parquet(_os.path.join(path, "codes.parquet"))
    qrow = codes.where(F.col("vec_id") == query_vec_id).select("qv").collect()
    if not qrow:
        raise KeyError(f"query vec_id {query_vec_id} not in index")
    qv = np.asarray(qrow[0]["qv"], dtype=np.int64)
    import pyarrow.parquet as _pq

    books = np.zeros((m, k, dsub), dtype=np.int64)
    cb_dir = _os.path.join(path, "_pq_codebooks.parquet")
    for fn in sorted(_os.listdir(cb_dir)):
        if fn.endswith(".parquet"):
            t = _pq.read_table(_os.path.join(cb_dir, fn)).to_pandas()
            books[t["sub"], t["cid"], t["d"]] = t["c"]
    dt = np.zeros((m, k), dtype=np.int64)
    for s in range(m):
        qs = qv[s * dsub : (s + 1) * dsub]
        dt[s] = ((books[s] - qs[None, :]) ** 2).sum(axis=1)
    flat = [int(x) for x in dt.reshape(-1)]
    lit_dt = F.lit(list(flat))
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.element_at(lit_dt, (s * k + c + 1).cast("int")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    short = (
        codes.where(F.col("vec_id") != query_vec_id)
        .select("vec_id", "qv", score.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(topk * oversample)
    )
    qlit = F.lit([int(x) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("qv"), qlit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        short.select("vec_id", dot.alias("dot"), "adc")
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", "dot", "adc")
    )
