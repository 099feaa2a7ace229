"""Embedding similarity search (extension surface; north star).

Two paths over an ``array<float>`` column:

* ``cosine_topk`` — brute-force exact top-k against a broadcast query
  vector. The dot product is a built-in ``aggregate(zip_with(...))``
  expression (JVM-side, no Python); the top-k is TakeOrderedAndProject
  (per-task heaps, no global sort). This is the correctness baseline and
  is already the right plan for one-off queries even at 10^9 vectors.
* ``lsh_bucket_topk`` — random-hyperplane (sign) LSH: each vector gets an
  ``n_planes``-bit signature; search probes only vectors whose signature
  matches the query's within ``max_probe_hamming`` bits. At 100 TB the
  signature is computed once at ingest and the bucket column is a
  partition/bloom key, so a query touches a small fraction of the data.
  Approximate by construction — recall is tested against the brute-force
  oracle in tests, not against SQL.

Also ``embedding_near_dup_pairs`` — cosine near-duplicate pairs via the
same banding idea (exact within-bucket verify).

PRECONDITION (all cosine paths): embeddings must have non-zero norm.
The session runs ANSI mode, where the JVM-side ``dot/(|a||b|)`` raises
DIVIDE_BY_ZERO on a zero vector (fail-loud is the right default: a
zero embedding upstream means a broken encoder, not a similarity of 0).
Corpora that may legitimately contain zero vectors (e.g. failed-encode
sentinels) should be pre-filtered with ``drop_zero_norm`` below.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark.util import spread


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns (built-in exprs)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def drop_zero_norm(df: DataFrame, column: str = "embedding") -> DataFrame:
    """Remove rows whose embedding has zero norm (or is NULL/empty) —
    the documented precondition of every cosine path in this module.
    A single codegen'd aggregate per row, prunable at the scan when the
    corpus stores a precomputed norm column instead."""
    return df.filter(
        F.col(column).isNotNull() & (_dot(F.col(column), F.col(column)) > 0.0)
    )


def cosine_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.
    Output: (id, cos) — ties broken by id for determinism. The query norm
    is a constant folded by Catalyst; each row computes one dot + one norm."""
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    out = df.select(
        F.col(id_col),
        F.round(
            _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q)), 6
        ).alias("cos"),
    )
    return out.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def _pair_grid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    cell,
    schema: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Upper-triangular block grid for exact all-pairs kernels, fully
    distributed (no driver collect, no broadcast of the corpus).

    Every row hashes to one of ``n_blocks`` blocks and goes to the grid
    cells its block takes part in: block i is the "a" side of cells
    (i, j >= i) and the "b" side of cells (j <= i, i). Each side is
    repartitioned by the cell id with an explicit count, one partition
    per cell: a repartition-by-number is exempt from AQE coalescing,
    which would otherwise fold the compute-heavy, byte-light grid into
    one task (r16 job profile: 136 matmuls in one task). That exchange
    is the only one per side: the cogroup reuses the partitioning, and a
    cogroup cannot broadcast a side.

    Per cell, ``cell(ids_a, ma, rows_a, ids_b, mb, rows_b, diag)`` gets
    each side's ids, its L2-normalised float64 matrix and its pandas
    rows (``extra_cols`` ride along); ``diag`` is true when both sides
    are the same block (then the b side IS the a side). A cell with an
    empty side (a block no row hashed to) emits nothing.

    Shuffled volume is O(n * n_blocks) and each task holds exactly two
    blocks, so size ``n_blocks`` so one block (~rows/n_blocks * dim * 8
    B) fits comfortably in a task. Compute stays the unavoidable
    O(n^2 d), done as one BLAS matmul per cell."""
    import numpy as np

    base = df.select(
        (F.abs(F.xxhash64(F.col(id_col).cast("string"))) % n_blocks).alias("blk"),
        F.col(id_col).alias("pid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *extra_cols,
    )
    n_cells = n_blocks * (n_blocks + 1) // 2

    def side(blk_a: Column, blk_b: Column):
        # freshly aliased payload columns: when both cogroup sides project
        # the same attributes, the right-hand frame arrives with only the
        # key columns
        return (
            base.select(
                blk_a.alias("blk_a"),
                blk_b.alias("blk_b"),
                *[F.col(c).alias(c) for c in ("pid", "vec", *extra_cols)],
            )
            .repartition(n_cells, "blk_a", "blk_b")
            .groupBy("blk_a", "blk_b")
        )

    def unpack(rows):
        mat = np.stack(rows["vec"].to_numpy())
        return rows["pid"].to_numpy(), mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def run(rows_a, rows_b):
        if rows_a.empty or rows_b.empty:
            return pd.DataFrame()
        ids_a, ma = unpack(rows_a)
        diag = rows_a["blk_a"].iat[0] == rows_a["blk_b"].iat[0]
        ids_b, mb = (ids_a, ma) if diag else unpack(rows_b)
        return cell(ids_a, ma, rows_a, ids_b, mb, rows_b, diag)

    last = F.lit(n_blocks - 1).cast("long")
    a_side = side(F.col("blk"), F.explode(F.sequence("blk", last)))
    b_side = side(F.explode(F.sequence(F.lit(0).cast("long"), "blk")), F.col("blk"))
    return a_side.cogroup(b_side).applyInPandas(run, schema)


def _cell_pairs(ids_a, ids_b, cos, hit, diag: bool) -> pd.DataFrame:
    """The pairs ``hit`` selects in one cell, as ``(id_a, id_b, cos)``
    with ``id_a < id_b``: a diagonal cell keeps only its upper triangle,
    a cross cell holds every pair once and canonicalizes it."""
    import numpy as np

    if diag:
        hit = hit & (ids_a[:, None] < ids_b[None, :])
    ai, bi = np.nonzero(hit)
    return pd.DataFrame(
        {
            "id_a": np.minimum(ids_a[ai], ids_b[bi]),
            "id_b": np.maximum(ids_a[ai], ids_b[bi]),
            "cos": cos[ai, bi],
        }
    )


def all_pairs_cosine_topk(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine top-k over the block pair grid
    (``_pair_grid``): each grid cell computes its block-pair's cosines
    with ONE BLAS matmul (Arrow-batched numpy — no per-element
    expression interpretation) and keeps a local top-k (all ties at the
    boundary retained, so the global TakeOrdered merge is exact).

    Scale note: compute is O(n^2 d) regardless of engine — that is what
    "exact all-pairs" costs. This plan distributes it with bounded task
    memory and no driver participation; beyond the regime where n^2 is
    affordable use ``embedding_near_dup_pairs`` (LSH-banded candidates) —
    the exact scan stops being the right tool, not just the right plan."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def cell_topk(ids_a, ma, _rows_a, ids_b, mb, _rows_b, diag):
        cos = np.round(ma @ mb.T, 6)
        out = _cell_pairs(ids_a, ids_b, cos, np.ones(cos.shape, dtype=bool), diag)
        if len(out) > k:
            kth = np.partition(out["cos"].to_numpy(), len(out) - k)[len(out) - k]
            out = out[out["cos"] >= kth]  # ">=" keeps boundary ties for the merge
        return out

    out = _pair_grid(
        df, id_col, vec_col, n_blocks, cell_topk,
        f"id_a {id_type}, id_b {id_type}, cos double",
    )
    return out.orderBy(F.col("cos").desc(), "id_a", "id_b").limit(k)


def exact_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact embedding near-dup: ALL pairs with round(cosine, 6) >= threshold
    (id_a < id_b). Same block pair grid as ``all_pairs_cosine_topk``
    but thresholded instead of top-k, so the result is oracle-checkable
    (deterministic set, no approximation).

    The threshold is applied to the ROUNDED cosine so the cut boundary is
    bit-identical to a float64 SQL oracle. Scale posture is the grid's:
    bounded task memory, no driver collect, O(n^2 d) compute — the honest
    cost of exactness; the LSH-banded ``embedding_near_dup_pairs`` is the
    sub-quadratic scale path and this is its ground truth."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()

    def cell_pairs(ids_a, ma, _rows_a, ids_b, mb, _rows_b, diag):
        cos = np.round(ma @ mb.T, 6)
        return _cell_pairs(ids_a, ids_b, cos, cos >= threshold, diag)

    return _pair_grid(
        df, id_col, vec_col, n_blocks, cell_pairs,
        f"id_a {id_type}, id_b {id_type}, cos double",
    )


#: fixed-point scale for exact sign computation: embeddings are quantized to
#: floor(v * 1e6) int64 before the plane dot product, so the bit is a pure
#: integer comparison — bit-identical between numpy int64 matmul and a SQL
#: oracle (no float summation-order dependence anywhere in the signature).
LSH_QUANT = 1_000_000


def _hyperplanes_int(dim: int, n_planes: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes with INTEGER components in
    [-1e6, 1e6), derived from md5(plane, dim) — reproducible across
    runs/engines with no RNG dependency, and exactly replicable in DuckDB as
    ``CAST(concat('0x', substring(md5('hp:'||p||':'||d),1,15)) AS BIGINT)
    % 2000000 - 1000000``."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:15], 16) % 2_000_000 - 1_000_000)
        planes.append(row)
    return planes


def _quantize(v):
    """floor(v * 1e6) as int64 — float32 -> float64 is exact, the multiply
    is one IEEE op, floor is exact: every engine gets the same integers."""
    import numpy as np

    return np.floor(v.astype(np.float64) * LSH_QUANT).astype(np.int64)


def add_lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    output: str = "lsh_sig",
) -> DataFrame:
    """Random-hyperplane signature: bit p = sign(q . h_p) over the
    quantized vector, all planes in ONE Arrow-batched int64 matmul per
    block (a 16-plane expression tree of per-element array folds costs
    seconds of codegen alone and runs interpreted). At ingest time this is
    the cheap precompute that makes later searches sublinear; the integer
    kernel makes the signature engine-exact (see ``LSH_QUANT``)."""
    import numpy as np

    planes_t = np.array(_hyperplanes_int(dim, n_planes), dtype=np.int64).T  # (D, P)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        q = _quantize(np.stack(vecs.to_numpy()))  # (N, D) int64
        bits = (q @ planes_t) >= 0  # (N, P)
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return spread(df).withColumn(output, _sig(F.col(vec_col)))


def lsh_band_width(
    n_rows: int, target_occupancy: int = 16, min_width: int = 8, max_width: int = 30
) -> int:
    """Band width (sign bits per band) that holds expected LSH bucket
    occupancy near ``target_occupancy`` for an ``n_rows`` corpus:
    occupancy ~ n / 2^width, so width ~ log2(n / target). This is the
    log2(n) scale lever for banded near-dup — fixed-width bands turn the
    candidate self-join quadratic as the corpus grows (at 8-bit bands a
    400k corpus puts ~1,500 rows in every bucket). Recall at a given
    cosine threshold then follows from (width, bands): per-band agreement
    is (1 - acos(cos)/pi)^width, so wider bands want more bands for the
    same recall (``lsh_bands_for_recall``). Measured: tools/stress_ann.py
    runs 16-bit x 16 bands at 400k vectors (~12 rows/bucket, planted-pair
    recall 1.0).

    Integer-exact on purpose: width is the smallest w with
    2^w * target >= n (bit_length, no float log2), so any engine — the
    DuckDB oracle included — derives the identical width for a corpus
    count without IEEE boundary surprises at powers of two."""
    if n_rows <= target_occupancy:
        return min_width
    # smallest w with 2^w >= n/target  ==  bit_length(ceil(n/target) - 1)
    w = (-(-n_rows // target_occupancy) - 1).bit_length()
    return max(min_width, min(max_width, w))


def lsh_bands_for_recall(
    threshold: float, width: int, target_miss: float = 0.01, max_bands: int = 64
) -> int:
    """Band count that holds banded-LSH miss probability <= ``target_miss``
    for a pair AT ``threshold`` cosine, given ``width`` sign bits per band:
    per-band agreement p = (1 - acos(t)/pi)^width, miss = (1-p)^bands, so
    bands = ln(miss) / ln(1-p). The companion recall lever to
    ``lsh_band_width``: when the corpus forces wider bands, recall at a
    fixed threshold drops unless bands grow too. Capped at ``max_bands``
    (low thresholds want exponentially many bands — LSH is the wrong tool
    below ~0.8 cosine; the cap keeps the candidate stage linear and the
    caller sees the cap in the returned value)."""
    p = (1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi) ** width
    if p >= 1.0:
        return 1
    if p <= 0.0:
        return max_bands
    return max(1, min(max_bands, math.ceil(math.log(target_miss) / math.log(1.0 - p))))


def add_lsh_band_values(
    df: DataFrame,
    dim: int,
    n_planes: int = 128,
    bands: int = 16,
    vec_col: str = "embedding",
    output: str = "lsh_bands",
) -> DataFrame:
    """Banded LSH signature as an ``array<int>`` of per-band bucket values
    (band b packs bits ``b*width .. b*width+width-1``, bit r weighted
    ``1<<r``). Unlike the packed-long signature this scales past 64 planes —
    near-dup recall at a cosine threshold is driven by total plane count
    (see ``embedding_near_dup_pairs``, which corpus-sizes ``n_planes``
    via ``lsh_band_width`` by default). Same exact integer kernel as
    ``add_lsh_signature``."""
    import numpy as np

    width = n_planes // bands
    planes_t = np.array(_hyperplanes_int(dim, n_planes), dtype=np.int64).T  # (D, P)
    w = (np.int64(1) << np.arange(width, dtype=np.int64))

    @F.pandas_udf("array<int>")
    def _bands(vecs: pd.Series) -> pd.Series:
        q = _quantize(np.stack(vecs.to_numpy()))  # (N, D)
        bits = (q @ planes_t) >= 0  # (N, P)
        vals = (bits.reshape(len(q), bands, width) * w).sum(axis=2).astype(np.int32)
        return pd.Series(list(vals))

    return spread(df).withColumn(output, _bands(F.col(vec_col)))


def lsh_bucket_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    max_probe_hamming: int = 4,
) -> DataFrame:
    """Approximate top-k: filter to vectors whose LSH signature is within
    ``max_probe_hamming`` bits of the query's (multi-probe), then exact
    cosine rank inside the probed set. At scale the signature filter prunes
    the scan; here it demonstrates the plan shape."""

    dim = len(query_vector)
    planes = _hyperplanes_int(dim, n_planes)
    qq = [math.floor(float(x) * LSH_QUANT) for x in query_vector]
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(qq, plane)) >= 0:
            qsig |= 1 << p
    sigged = add_lsh_signature(df, dim, n_planes, vec_col)
    probed = sigged.filter(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(qsig))) <= max_probe_hamming
    )
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    out = probed.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos")
    )
    return out.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def ivf_fit_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 1024,
    iters: int = 5,
):
    """Deterministic coarse quantizer for IVF: spherical k-means (cosine)
    on a bounded, id-ordered sample — fixed init (first k sample vectors),
    fixed iteration count, so the index is reproducible run-to-run. The
    sample is driver-side by design: centroid fitting is O(sample), not
    O(corpus); at 100 TB you fit on a few thousand vectors and the corpus
    only ever sees the broadcast centroid matrix."""
    import numpy as np

    sample = df.orderBy(id_col).limit(sample_size).select(vec_col).toPandas()
    x = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    c = x[:n_centroids].copy()
    for _ in range(iters):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(n_centroids):
            pts = x[assign == j]
            if len(pts):
                m = pts.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    c[j] = m / n
    return c


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    output: str = "ivf_list",
) -> DataFrame:
    """Assign every vector to its nearest (cosine) centroid — the IVF list
    id. At ingest this is the cluster/partition key that makes searches
    sublinear (write the table partitioned or bucketed by it)."""
    import numpy as np

    c_t = np.asarray(centroids, dtype=np.float64).T  # (D, K)

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pd.Series((v @ c_t).argmax(axis=1).astype("int32"))

    return spread(df).withColumn(output, _assign(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``n_probe`` lists whose
    centroids are nearest the query, exact cosine inside the probed lists.
    Scans ~n_probe/n_centroids of the corpus (vs all of it for brute
    force); with the list id as a partition key the skipped lists are
    never read at all."""
    import numpy as np

    if centroids is None:
        centroids = ivf_fit_centroids(df, n_centroids, id_col, vec_col)
    q = np.asarray(query_vector, dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = np.argsort(-(centroids @ q))[:n_probe].tolist()
    assigned = ivf_assign(df, centroids, vec_col)
    probed = assigned.filter(F.col("ivf_list").isin(probe))
    qlit = F.array(*[F.lit(float(v)) for v in query_vector])
    out = probed.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), qlit), 6).alias("cos")
    )
    return out.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def _quantize_arr(col: Column, scale: int = 10**6) -> Column:
    """round-half-up fixed-point quantization of a float array to BIGINT:
    ``floor(x * scale + 0.5)``. floor(+0.5) instead of round() because
    round() ties differ across engines (banker's vs half-away) while
    floor is IEEE-identical everywhere; float->double widening is exact,
    so the whole map is engine-independent."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
    )


def ivf_fit_centroids_exact(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 256,
    iters: int = 3,
    scale: int = 10**6,
):
    """INTEGER-EXACT k-means fit for the oracle-attested IVF variant:
    classic (euclidean) k-means on fixed-point int64 vectors, id-ordered
    bounded sample, first-k init, fixed iteration count, argmin ties to
    the smallest centroid id, means as ``floor(sum/count)`` in double
    (sums < 2^53, so the division+floor is exact IEEE). Every step is a
    deterministic pure function of the data replicable in ANSI SQL with
    BIGINT arithmetic — no float-summation-order hazard anywhere, unlike
    the float spherical ``ivf_fit_centroids`` production path.

    Driver-side by design (same rationale: fit is O(sample), the corpus
    only ever sees the broadcast centroid matrix). Returns an
    (n_centroids, dim) int64 ndarray."""
    import numpy as np

    sample = df.orderBy(id_col).limit(sample_size).select(vec_col).toPandas()
    x = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    qv = np.floor(x * scale + 0.5).astype(np.int64)
    cent = qv[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((qv[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
        assign = d2.argmin(axis=1)  # first occurrence == smallest j
        new = cent.copy()
        for j in range(n_centroids):
            pts = qv[assign == j]
            if len(pts):
                new[j] = np.floor(
                    pts.sum(axis=0).astype(np.float64) / len(pts)
                ).astype(np.int64)
        cent = new
    return cent


def ivf_probe_exact(
    df: DataFrame,
    query_vector: list[float],
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 256,
    iters: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Oracle-attestable IVF ANN search: integer-exact centroid fit
    (``ivf_fit_centroids_exact``), corpus assignment, probe-list pruning
    and query scoring ALL in BIGINT arithmetic, so a SQL engine replaying
    the same recipe produces hash-identical output.

    The corpus-wide path is pure JVM expressions (whole-stage codegen):
    quantize -> n_centroids integer squared distances against broadcast
    centroid literals -> argmin via array_position(array_min) -> probe
    filter -> integer dot to the query. Only vectors in the ``n_probe``
    nearest lists are scored — the same ~n_probe/n_centroids scan
    fraction as the production ``ivf_topk`` (with the list id as a
    partition key the skipped lists are never read at all).

    Output: (vec_id, ivf_list, dot, rnk) for every probed vector, rnk
    ranking by (dot desc, id) — rnk<=k is the ANN answer."""
    import numpy as np
    from pyspark.sql.window import Window

    cent = ivf_fit_centroids_exact(
        df, n_centroids, id_col, vec_col, sample_size, iters, scale
    )
    q = np.floor(
        np.asarray(query_vector, dtype=np.float64) * scale + 0.5
    ).astype(np.int64)
    cdots = cent @ q
    probe = sorted(range(n_centroids), key=lambda j: (-cdots[j], j))[:n_probe]

    qcol = _quantize_arr(F.col(vec_col), scale)
    d = spread(df).select(F.col(id_col), qcol.alias("__qv"))
    zero = F.lit(0).cast("long")

    def idot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, x: acc + x
        )

    # The centroid matrix and its squared norms enter the plan as TWO
    # literal nodes (nested-array literals), not one expression fold per
    # centroid over per-component literals: the old form built ~2000
    # expression nodes and ``array_position(dists, array_min(dists))``
    # inlined that whole tree twice — ~3.3 s of driver-side Catalyst
    # analysis per call (r16 job profile: a zero-job gap between the fit
    # and the first corpus job). Arithmetic is unchanged: same long ops,
    # same centroid order j.
    cmat = F.lit([[int(v) for v in c] for c in cent]).cast(
        "array<array<bigint>>"
    )
    ccs = F.lit([int(c @ c) for c in cent]).cast("array<bigint>")
    # |x|^2 + |c_j|^2 - 2 x.c_j ; |x|^2 is constant across j so argmin
    # only needs |c_j|^2 - 2 x.c_j  (strictly smaller expression tree)
    dists = F.zip_with(
        ccs,
        cmat,
        lambda cc, cv: cc - F.lit(2).cast("long") * idot(F.col("__qv"), cv),
    )
    assigned = d.withColumn(
        "ivf_list",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )
    probed = assigned.filter(F.col("ivf_list").isin([int(p) for p in probe]))
    out = probed.select(
        F.col(id_col),
        "ivf_list",
        idot(
            F.col("__qv"), F.lit([int(v) for v in q]).cast("array<bigint>")
        ).alias("dot"),
    )
    w = Window.orderBy(F.col("dot").desc(), F.col(id_col))
    return out.withColumn("rnk", F.row_number().over(w).cast("long"))


def _corpus_stats(df: DataFrame, vec_col: str) -> tuple[int, int]:
    """(n_rows, dim) of an embedding corpus in ONE bounded aggregate job
    (count + min array size — a 2-long-column shuffle-free agg). The only
    driver action ``embedding_near_dup_pairs`` ever takes, and only when
    the caller didn't pass ``n_rows``/``dim``; tests poison this to pin
    that explicit sizing builds the plan with zero driver jobs."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(F.col(vec_col))).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"] if row["d"] is not None else 0)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded-LSH candidates (pigeonhole
    over ``bands`` bands of ``n_planes/bands`` sign bits), exact cosine to
    verify (vectorized pandas UDF). Output: (id_a, id_b, cos >= threshold).

    **Band width AND band count are sized BY DEFAULT** (``n_planes=None``,
    ``bands=None``): width = ``lsh_band_width(n_rows)`` holds expected
    bucket occupancy ~n/2^width <= 16 so the candidate equi-join stays
    linear as the corpus grows, and bands =
    ``lsh_bands_for_recall(threshold, width)`` holds at-threshold recall
    >= ~99% wherever the 64-band cap allows — the two levers are duals:
    corpus growth widens bands (or the join goes quadratic — the old fixed
    8-bit default blew up from ~10^5 rows; tools/stress_ann.py measures
    the auto default holding 400k+ vectors linear), and wider bands lower
    per-band agreement so the band COUNT must rise or at-threshold recall
    silently collapses (width 15 at fixed 16 bands is ~80% at t=0.9;
    width 23 is ~37%). A cosine-t pair flips each sign bit with
    p = acos(t)/pi, a width-w band agrees with (1-p)^w, and ``bands``
    bands miss with (1-(1-p)^w)^bands. Low thresholds (< ~0.8) hit the
    64-band cap — LSH is the wrong tool there and the cap keeps the
    candidate stage linear instead of chasing an exponential band count.
    Band count scales candidate rows LINEARLY (one (id, band_id,
    band_val) row per band), never quadratically.

    Passing ``n_planes`` explicitly restores fully fixed sizing
    (width = n_planes // bands, bands defaulting to 16); passing only
    ``bands`` fixes the count but keeps the corpus-sized width. When
    ``n_rows``/``dim`` aren't supplied they come from ONE bounded stats
    aggregate (``_corpus_stats``); pass both to build the plan with zero
    driver jobs (plan-pinned in tests/test_plans.py). The candidate join
    carries only (id, band_id, band_val) — vectors join back by id for
    the verify stage, so the banding shuffle stays slim at corpus scale.
    The signature is integer-exact (``LSH_QUANT``), making the whole
    pipeline — including the recall-targeted band count, which the
    oracle replicates via a width->bands table generated from this same
    function — replicable in SQL."""
    if (n_rows is None and n_planes is None) or dim is None:
        stat_n, stat_d = _corpus_stats(df, vec_col)
        n_rows = stat_n if n_rows is None else n_rows
        dim = stat_d if dim is None else dim
    if n_planes is None:
        width = lsh_band_width(n_rows)
        if bands is None:
            bands = lsh_bands_for_recall(threshold, width)
        n_planes = bands * width
    elif bands is None:
        bands = 16
    sigged = add_lsh_band_values(df, dim, n_planes, bands, vec_col)
    chunks = sigged.select(
        F.col(id_col),
        F.posexplode("lsh_bands").alias("band_id", "band_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, on=[F.col("a.band_id") == F.col("b.band_id"),
                      F.col("a.band_val") == F.col("b.band_val"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    paired = (
        cand.join(vecs.withColumnsRenamed({id_col: "id_a", vec_col: "va"}), "id_a")
        .join(vecs.withColumnsRenamed({id_col: "id_b", vec_col: "vb"}), "id_b")
    )

    # exact verify, one Arrow batch at a time: rowwise dot/norms as numpy
    # (an interpreted fold per 64-dim pair is the slow path at 10^5+ cands)
    @F.pandas_udf("double")
    def _pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        num = (a * b).sum(axis=1)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / den)

    return (
        paired.withColumn("cos", F.round(_pair_cos("va", "vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    eps: float = 1e-12,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    scale = max|x| / 127, q_i = round(x_i / scale), plus the dequantization
    MSE so the caller can monitor quality loss.

    Extension surface (north star): embedding storage/ANN at 100 TB wants
    4x-smaller int8 vectors (IVF/LSH probes read quantized codes, exact
    re-rank reads floats). Everything is a JVM array-lambda fold — the
    arithmetic is sequential per vector, so results are bit-deterministic
    and replicable by any engine folding the list in order.

    Each intermediate (double vector, scale, codes) is MATERIALIZED as a
    staged column before dependents reference it: embedding a non-trivial
    expression inside a per-element lambda makes Catalyst re-evaluate it
    per element — an O(dim^2) blowup per vector.
    """
    v, sc, qc = "__q_v", "q_scale", "q_codes"
    vc = F.col(v)
    scale = F.greatest(
        F.aggregate(vc, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        F.lit(eps),
    ) / F.lit(127.0)
    sq_err = F.aggregate(
        F.zip_with(
            vc, F.col(qc), lambda x, c: F.pow(x - c.cast("double") * F.col(sc), 2)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        df.withColumn(v, F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .withColumn(sc, scale)
        .withColumn(qc, F.transform(vc, lambda x: F.round(x / F.col(sc)).cast("int")))
        .withColumns(
            {
                "dim": F.size(vc).cast("int"),
                "q_l1": F.aggregate(
                    F.col(qc),
                    F.lit(0).cast("long"),
                    lambda a, c: a + F.abs(c).cast("long"),
                ),
                "q_mse": sq_err / F.size(vc).cast("double"),
            }
        )
        .drop(v)
    )


def _anchor_topk(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_blocks: int,
    cross_label: bool,
) -> DataFrame:
    """Exact per-anchor cosine top-k over the block pair grid, labels
    carried through: each cell does one BLAS matmul, masks self pairs
    (and same-label pairs when ``cross_label``), keeps every anchor's
    local top-k WITH boundary ties (so the global merge is exact) in
    both directions of a cross cell, and the final per-anchor cut is
    one WindowGroupLimit-able ranking keyed on the anchor, tiebreak
    (cos desc, neg asc). Output: (anchor, neg, cos) when
    ``cross_label``, else (anchor, anchor_label, neg, neg_label, cos)."""
    import numpy as np
    from pyspark.sql.window import Window

    id_type = df.schema[id_col].dataType.simpleString()
    lab_type = df.schema[label_col].dataType.simpleString()
    cols = ["anchor", "neg", "cos"] if cross_label else [
        "anchor", "anchor_label", "neg", "neg_label", "cos"
    ]

    def emit(a_ids, a_labs, c_ids, c_labs, cos):
        ok = a_ids[:, None] != c_ids[None, :]
        if cross_label:
            ok &= a_labs[:, None] != c_labs[None, :]
        n = cos.shape[1]
        if n > k:  # the k-th best allowed cosine per anchor (-inf: fewer than k)
            kth = np.partition(np.where(ok, cos, -np.inf), n - k, axis=1)[:, n - k]
            ok &= cos >= kth[:, None]
        ai, ci = np.nonzero(ok)
        return pd.DataFrame(
            {
                "anchor": a_ids[ai],
                "anchor_label": a_labs[ai],
                "neg": c_ids[ci],
                "neg_label": c_labs[ci],
                "cos": cos[ai, ci],
            }
        )[cols]

    def cell_topk(ids_a, ma, rows_a, ids_b, mb, rows_b, diag):
        labs_a = rows_a[label_col].to_numpy()
        cos = np.round(ma @ mb.T, 6)
        if diag:
            return emit(ids_a, labs_a, ids_a, labs_a, cos)
        labs_b = rows_b[label_col].to_numpy()
        return pd.concat(
            [
                emit(ids_a, labs_a, ids_b, labs_b, cos),
                emit(ids_b, labs_b, ids_a, labs_a, cos.T),
            ]
        )

    types = {"anchor": id_type, "anchor_label": lab_type, "neg": id_type,
             "neg_label": lab_type, "cos": "double"}
    cand = _pair_grid(
        df, id_col, vec_col, n_blocks, cell_topk,
        ", ".join(f"{c} {types[c]}" for c in cols), extra_cols=(label_col,),
    )
    w = Window.partitionBy("anchor").orderBy(F.col("cos").desc(), "neg")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*cols)
    )


def hard_negative_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_blocks: int = 16,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the top-k most-cosine-similar items with a DIFFERENT label — the
    pairs that teach a metric-learning model the most. Exact (no ANN),
    on the same block pair grid as ``all_pairs_cosine_topk``
    (``_anchor_topk``: one BLAS matmul per cell, per-anchor local top-k
    with boundary ties, one anchor-keyed final ranking). Per-cell output
    is O(anchors * k), so the merge shuffle is tiny relative to the
    O(n^2 d) compute the semantics inherently cost; for corpora past the
    n^2 regime, generate candidates with the LSH path first and re-rank
    those instead.

    Output: (anchor, neg, cos), cos rounded to 6dp, deterministic
    tiebreak (cos desc, neg asc). NULL-label rows are dropped up front:
    numpy's object-array ``!=`` evaluates ``None != 'x'`` as True, so a
    NULL-label anchor would get negatives emitted while SQL's
    ``a.label <> b.label`` is NULL (row excluded) — "different label" is
    simply undefined without a label, so neither side should emit them."""
    df = df.filter(F.col(label_col).isNotNull())
    return _anchor_topk(df, k, id_col, vec_col, label_col, n_blocks, cross_label=True)


def knn_neighbors(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact k-nearest-neighbors (cosine) per anchor with labels carried
    through — the substrate for k-NN label-noise detection (confident-
    learning style: an example whose neighbors mostly disagree with its
    label is likely mislabeled). Same block pair grid and per-anchor
    top-k as ``hard_negative_topk`` (``_anchor_topk``), without the
    label mask. Per-cell output is O(anchors * k); compute is the
    inherent O(n^2 d) of exact kNN — at scale, swap the candidate stage
    for the LSH/IVF paths and re-rank.

    Output: (anchor, anchor_label, neg, neg_label, cos) for the k nearest
    by (cos desc, neg asc) — deterministic, 6dp cosine."""
    return _anchor_topk(df, k, id_col, vec_col, label_col, n_blocks, cross_label=False)
