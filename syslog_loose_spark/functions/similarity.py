"""Similarity search over embedding columns (array of numbers; elements
are cast to double before any arithmetic).

* brute-force cosine top-k — the exact baseline: a broadcasted query set
  against the corpus, JVM-side dot products via zip_with/aggregate (no
  Python boundary), windowed rank for top-k.
* LSH-bucketed variant (random-hyperplane signs) — the scale path: restrict
  the candidate set to matching sign-buckets before exact re-scoring, so
  cost is O(rows × bucket_size) instead of O(rows × queries).  The band
  keys and the per-row norms come from ONE scalar Arrow UDF
  (``_band_keys``), a numpy replay of the JVM ``hyperplane_signs`` /
  ``norm`` folds bit for bit; everything after it stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> DataFrame:
    """Exact top-k neighbors per query (query set broadcast — the corpus is
    scanned once, embarrassingly parallel; excludes self-matches).

    Norms are precomputed ONCE per row before the pair join — recomputing
    them per candidate pair triples the re-score arithmetic (measured
    1.75x end-to-end on the banded near-dup cousin of this join)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm(F.col(vec_col)).alias("qn"))
    from .dedup import _widen

    c = _widen(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("cv"),
                              norm(F.col(vec_col)).alias("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def hyperplane_signs(vec: Column, planes) -> Column:
    """Sign bits against fixed hyperplanes -> bucket key string.

    The JVM definition of an LSH band key: _banded_buckets computes the
    same bits in its Arrow kernel (``_band_keys``), and the tests hold
    the two equal bit for bit."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]),
                           lambda a, b: a.cast("double") * b),
                F.lit(0.0), lambda acc, v: acc + v,
            ) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(corpus: DataFrame, queries: DataFrame, planes, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding"
             ) -> DataFrame:
    """Approximate top-k: exact re-scoring restricted to matching
    sign-buckets.

    ``planes`` is either a flat list of hyperplane vectors (one band) or a
    list of BANDS, each a list of hyperplane vectors.  Multiple bands are
    OR-amplification: a candidate survives if it matches the query's
    bucket in ANY band, so recall no longer collapses as planes grow —
    with b bands of r planes, P(candidate) = 1-(1-p^r)^b instead of p^r.
    Cost stays O(rows x bands): each corpus row lands in `bands` buckets;
    the query side is broadcast; duplicate (query, neighbor) candidates
    from multiple bands collapse in one scalar-row groupBy before ranking.
    """
    bands = _as_bands(planes)
    c = _banded_buckets(corpus, bands, id_col, vec_col,
                        "neighbor_id", "neighbor_id_v")
    q = _banded_buckets(queries, bands, id_col, vec_col,
                        "query_id", "query_id_v")
    scored = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            dot(F.col("query_id_v"), F.col("neighbor_id_v"))
            / (F.col("query_id_v_n") * F.col("neighbor_id_v_n")), 4))
        # collapse multi-band duplicates (same sim from every band)
        .groupBy("query_id", "neighbor_id").agg(F.min("sim").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def _is_vector(x) -> bool:
    """True when x is a plane (sequence of scalars), not a band."""
    return len(x) > 0 and not hasattr(x[0], "__len__")


def plane_bands(n_bands: int = 2, n_planes: int = 4, dim: int = 64,
                seed: int = 17):
    """Deterministic balanced ±1 hyperplane bands, md5-derived.

    Signs come from md5 digest bits, so planes are unbiased and mutually
    independent — the previous linear-congruence pattern produced heavily
    correlated planes (measured: at 20k vectors only 32 of 1024 possible
    10-plane buckets were populated, occupancy blew past the bucket cap
    and candidate recall collapsed).  Balanced planes keep bucket
    occupancy ~n/2^planes, which is what makes the cap a guard instead
    of a recall cliff at scale.  The generated lists are embedded as
    literals in both the Spark plan and the DuckDB oracle SQL, so the
    two sides stay identical by construction."""
    import hashlib

    out = []
    for b in range(n_bands):
        band = []
        for i in range(n_planes):
            bits: list = []
            k = 0
            while len(bits) < dim:
                d = hashlib.md5(f"{seed}:{b}:{i}:{k}".encode()).digest()
                for byte in d:
                    for t in range(8):
                        bits.append(1.0 if (byte >> t) & 1 else -1.0)
                k += 1
            band.append(bits[:dim])
        out.append(band)
    return out


def _as_bands(planes):
    return planes if planes and not _is_vector(planes[0]) else [planes]


def _banded_buckets(df: DataFrame, bands, id_col: str, vec_col: str,
                    id_alias: str, vec_alias: str) -> DataFrame:
    """One row per (input row, band) with the band's sign-bucket key and
    the vector's precomputed norm (column ``<vec_alias>_n``) — norms are
    evaluated once per row here, never per candidate pair downstream.

    Keys and norm come from one scalar Arrow UDF over
    ``cast(v as array<double>)`` (the kernel is ``_band_keys``; the
    planes travel as one float64 (planes, dim) matrix in its closure).
    Its struct result is selected into ONE column before the posexplode:
    read straight off the UDF call, ``v_n`` and ``keys`` would each plan
    their own ArrowEvalPython node, with its own Python workers, and the
    band work would run once per node.  All planes must share one
    length (ValueError otherwise)."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    planes = [[float(x) for x in p] for band in bands for p in band]
    dims = {len(p) for p in planes}
    if len(dims) > 1:
        raise ValueError(f"hyperplanes differ in length: {sorted(dims)}")
    P = np.array(planes, dtype=np.float64).reshape(
        len(planes), dims.pop() if dims else 0)
    starts = np.cumsum([0] + [len(band) for band in bands])

    @arrow_udf("struct<v_n double, keys array<string>>")
    def _keys(vecs):
        return _band_keys(vecs, P, starts)

    n_alias = vec_alias + "_n"
    keyed = df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        _keys(F.col(vec_col).cast("array<double>")).alias("_bk"))
    return keyed.select(
        id_alias, vec_alias, F.col("_bk.v_n").alias(n_alias),
        F.posexplode("_bk.keys").alias("band", "bucket"))


def _decode_vectors(arr):
    """Arrow list<double> -> (offs, lens, invalid, V): int64 row offsets
    into the flat float64 values ``V``, row lengths, and a mask of rows
    the JVM folds turn null (a NULL vector or a NULL element).  NULL
    elements read as NaN in ``V``; callers must honour ``invalid``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offs)
    invalid = (arr.is_null().to_numpy(zero_copy_only=False)
               if arr.null_count else np.zeros(len(arr), dtype=bool))
    vals = arr.values
    if vals.null_count:
        elem_null = vals.is_null().to_numpy(zero_copy_only=False)
        cs = np.concatenate(([0], np.cumsum(elem_null)))
        invalid = invalid | ((cs[offs[1:]] - cs[offs[:-1]]) > 0)
    return offs, lens, invalid, vals.to_numpy(zero_copy_only=False)


def _band_keys(vecs, P, starts):
    """Norms and band keys of one Arrow batch of vectors, replaying the
    JVM expressions ``norm(v)`` and ``hyperplane_signs(v, band)`` bit for
    bit against the (planes, dim) matrix ``P``; band b owns planes
    ``starts[b]:starts[b+1]``.

    * Each fold runs in dim order, ``acc = acc + x_t * p_t`` from 0.0 —
      a float64 multiply then a float64 add per step, no BLAS, matmul or
      FMA, exactly the zip_with/aggregate order.
    * A bit is '1' iff ``acc >= 0`` or ``acc`` is NaN (Spark orders NaN
      above every number).
    * A NULL vector or NULL element gives a null norm and all-'0' bits
      (the null fold fails ``>= 0``); a length other than ``dim`` gives
      '0' bits (zip_with pads with null) while the norm is still the
      self-fold over the row's own length — 0.0 for an empty vector."""
    import numpy as np
    import pyarrow as pa

    offs, lens, invalid, V = _decode_vectors(vecs)
    n = len(lens)
    m, dim = P.shape
    vn = np.zeros(n, dtype=np.float64)
    bits = np.zeros((n, m), dtype=bool)
    ok = ~invalid
    if n and ok.all() and (lens == lens[0]).all():
        # uniform clean batch: zero-copy reshape of the flat values
        ln = int(lens[0])
        classes = [(slice(None), ln, V[offs[0]:offs[-1]].reshape(n, ln))]
    else:
        # ragged or null-bearing batch: one gather per length class
        classes = []
        for ln in np.unique(lens[ok]).tolist():
            rows = np.flatnonzero(ok & (lens == ln))
            classes.append(
                (rows, ln, V[offs[rows][:, None] + np.arange(ln)]))
    for rows, ln, X in classes:
        # column-major copy: each fold step reads one contiguous column
        # (strided column reads of the row-major batch measured 4x slower)
        X = np.asfortranarray(X)
        with np.errstate(over="ignore", invalid="ignore"):
            # inf/NaN data are values here, exactly as in the JVM fold
            vn[rows] = np.sqrt(_fold_dot(X, X))
            if ln == dim:
                a = np.zeros((m, X.shape[0]), dtype=np.float64)
                for t in range(ln):
                    a = a + P[:, t, None] * X[:, t]
                bits[rows] = ((a >= 0) | np.isnan(a)).T
    chars = np.where(bits, ord("1"), ord("0")).astype(np.uint8)
    # row i's keys are consecutive slices of its m chars, one per band
    n_bands = len(starts) - 1
    key_offs = np.append(
        (np.arange(n, dtype=np.int64)[:, None] * m + starts[:-1]).ravel(),
        n * m).astype(np.int32)
    keys = pa.StringArray.from_buffers(
        n * n_bands, pa.py_buffer(key_offs), pa.py_buffer(chars.tobytes()))
    return pa.StructArray.from_arrays(
        [pa.array(vn, pa.float64(), mask=invalid if invalid.any() else None),
         pa.ListArray.from_arrays(
             pa.array(np.arange(n + 1, dtype=np.int32) * n_bands), keys)],
        names=["v_n", "keys"])


def _bucket_pair_scores(it):
    """mapInArrow kernel for embedding_near_dups' large-corpus re-score:
    the input partition holds WHOLE (band, bucket) groups sorted by
    (band, bucket); emit one row per in-bucket candidate pair with the
    exact left-fold dot product ``d`` and the norm product ``nn``.

    Bit-exactness contract (same as the driver-side ANN replays): ``d``
    replays the engine's ``aggregate(zip_with(a, b, *), 0.0, +)`` — a
    left-to-right float64 fold over dims, evaluated here as 64 vectorized
    adds in dim order, each a float64 IEEE add of identical operands —
    and ``nn`` is one float64 multiply, so round(d/nn, 4) downstream is
    bit-identical to the JVM join path.  Null semantics replicated:
    a pair is null-``d`` when either vector is NULL, has a NULL element,
    or the lengths differ (zip_with pads with null -> null sum); ``nn``
    is null when either precomputed norm is NULL.  Data NaNs (as opposed
    to nulls) flow through as NaN, matching the JVM fold."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(it)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return
    ids = tbl.column("id").to_numpy(zero_copy_only=False)
    vn_col = tbl.column("v_n")
    if isinstance(vn_col, pa.ChunkedArray):
        vn_col = vn_col.combine_chunks()
    vns = vn_col.to_numpy(zero_copy_only=False)        # nulls -> NaN
    vn_null = (vn_col.is_null().to_numpy(zero_copy_only=False)
               if vn_col.null_count else np.zeros(n, dtype=bool))
    offs, lens, invalid, V = _decode_vectors(tbl.column("v"))

    # (band, bucket) run boundaries — rows arrive sorted by both
    band = tbl.column("band")
    buck = tbl.column("bucket")
    change = np.ones(n, dtype=bool)
    if n > 1:
        change[1:] = (
            pc.not_equal(band.slice(1), band.slice(0, n - 1))
            .to_numpy(zero_copy_only=False)
            | pc.not_equal(buck.slice(1), buck.slice(0, n - 1))
            .to_numpy(zero_copy_only=False))
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)

    tri_cache: dict = {}
    ii_parts, jj_parts = [], []
    for s, e in zip(starts, ends):
        g = e - s
        if g < 2:
            continue
        tri = tri_cache.get(g)
        if tri is None:
            tri = np.triu_indices(g, k=1)
            tri_cache[g] = tri
        ii_parts.append(tri[0] + s)
        jj_parts.append(tri[1] + s)
    if not ii_parts:
        return
    ii = np.concatenate(ii_parts)
    jj = np.concatenate(jj_parts)
    # orient a < b by id (the join path's x.id < y.id): symmetric per-dim
    # multiply keeps d bit-identical either way; drop id-equal row pairs
    # (strict < never pairs them)
    keep = ids[ii] != ids[jj]
    ii, jj = ii[keep], jj[keep]
    swap = ids[ii] > ids[jj]
    ii2 = np.where(swap, jj, ii)
    jj2 = np.where(swap, ii, jj)
    npairs = len(ii2)

    d = np.zeros(npairs, dtype=np.float64)
    d_null = np.zeros(npairs, dtype=bool)
    if not invalid.any() and (n == 0 or (lens == lens[0]).all()):
        # clean uniform-dim fast path: transpose once so each per-dim
        # gather reads an L2-resident row (the row-gather layout was
        # measured 10x slower — 64 strided 512B accesses per pair)
        dim = int(lens[0]) if n else 0
        Xt = np.ascontiguousarray(
            V[offs[0]:offs[-1]].reshape(n, dim).T) if dim else None
        for t in range(dim):
            row = Xt[t]
            d += row[ii2] * row[jj2]
    else:
        # ragged / null-bearing partition (rare): per length class
        ok = ~invalid[ii2] & ~invalid[jj2] & (lens[ii2] == lens[jj2])
        d_null = ~ok
        d[d_null] = np.nan
        for ln in np.unique(lens[ii2][ok]):
            sel = ok & (lens[ii2] == ln)
            oa = offs[ii2[sel]]
            ob = offs[jj2[sel]]
            acc = np.zeros(int(sel.sum()), dtype=np.float64)
            for t in range(int(ln)):
                acc += V[oa + t] * V[ob + t]
            d[sel] = acc

    nn = vns[ii2] * vns[jj2]
    nn_null = vn_null[ii2] | vn_null[jj2]
    out = pa.table({
        "a": pa.array(ids[ii2], pa.int64()),
        "b": pa.array(ids[jj2], pa.int64()),
        "d": pa.array(d, pa.float64(),
                      mask=d_null if d_null.any() else None),
        "nn": pa.array(nn, pa.float64(),
                       mask=nn_null if nn_null.any() else None),
    })
    for b in out.to_batches(max_chunksize=1 << 16):
        yield b


def _tracked_storage_bytes(df: DataFrame) -> int | None:
    """Size of a _track-materialized relation's checkpoint blocks, read
    from the block manager's storage info — NO job, just a status call
    (the blocks already exist: _track's localCheckpoint is eager)."""
    rdd = getattr(df, "_ck_rdd", None)
    if rdd is None:
        return None
    try:
        rid = rdd.id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        return None
    return None


def embedding_near_dups(corpus: DataFrame, threshold: float = 0.9,
                        planes=None, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_bucket_size: int = 1000,
                        persist: bool = True,
                        arrow_rescore_bytes: int | None = 64 << 20
                        ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Scale shape: random-hyperplane LSH bucket SELF-join (multi-band
    OR-amplification like lsh_topk) instead of the O(n²) all-pairs
    comparison; candidates re-score exactly and multi-band duplicates
    collapse in a scalar-row groupBy.  At cosine >= 0.9 the angle is
    <= 25.8°, so each plane agrees with probability ~0.857 and two
    4-plane bands recover ~77% of true pairs per band (~95% with both) —
    recall is tunable via bands.  Degenerate buckets are capped like the
    dedup joins.

    The banded relation (band keys plus per-row norms, one scalar Arrow
    UDF — see _banded_buckets) is materialized by _track's eager
    localCheckpoint, so with ``persist=True`` the banding runs once,
    inside that checkpoint job, and the re-score plans below read the
    checkpoint — they hold no Python evaluation unless the Arrow
    re-score engages.

    r8: when the materialized banded relation reaches
    ``arrow_rescore_bytes`` (default 64 MiB; None = never, 0 = always;
    measured from the checkpoint blocks' storage info — no extra job,
    so the small-corpus path pays nothing) the candidate re-score runs
    as a bucket-partitioned Arrow kernel instead of the JVM self-join:
    the per-pair higher-order dot fold is interpreted row-at-a-time and
    measured ~16 µs/pair, so at 80k vectors (~8M candidate pairs) the
    numpy left-fold replay is 2.2x faster end to end (6.3 -> 2.9 s).
    The Arrow input is repartitioned by (band, bucket) and pinned with a
    localCheckpoint — AQE otherwise replans the explicit repartition
    away (observed: broadcast-flipped join + single coalesced
    partition).  Results are bit-identical to the join path (same fold
    order, same null semantics) — pinned by the differential tests at
    arrow_rescore_bytes=0.  With ``persist=False`` there is no
    materialized relation to size, so only the forced 0 engages Arrow.
    """
    from .dedup import _widen

    bands = _as_bands(plane_bands(seed=17) if planes is None else planes)
    bucketed = _banded_buckets(_widen(corpus), bands, id_col, vec_col,
                               "id", "v")
    if persist:
        # 3 consumers (cap agg + both join sides): checkpoint so the
        # banding kernel runs once, not three times (same bounded-registry
        # pattern as dedup.py — see dedup._track / unpersist_tracked)
        from .dedup import _track

        bucketed = _track(bucketed)
    from .dedup import cap_buckets

    capped = cap_buckets(bucketed, ["band", "bucket"], max_bucket_size)
    # the Arrow kernel replays the fold on RAW v values, which is only
    # bit-equal to the JVM dot (per-element cast-to-double THEN multiply)
    # when the elements already ARE doubles; ids are emitted as int64
    from pyspark.sql import types as T

    sch = {f.name: f.dataType for f in capped.schema.fields}
    arrow_typed = (isinstance(sch["id"], T.LongType)
                   and isinstance(sch["v"], T.ArrayType)
                   and isinstance(sch["v"].elementType, T.DoubleType))
    n_bytes = None
    use_arrow = arrow_rescore_bytes == 0
    if use_arrow and not arrow_typed:
        raise ValueError(
            "arrow_rescore_bytes=0 requires bigint ids and array<double> "
            f"vectors, got id={sch['id']} v={sch['v']}")
    if (not use_arrow and arrow_rescore_bytes is not None and persist
            and arrow_typed):
        n_bytes = _tracked_storage_bytes(bucketed)
        use_arrow = n_bytes is not None and n_bytes >= arrow_rescore_bytes
    if use_arrow:
        from .dedup import _track
        import math

        sc = corpus.sparkSession.sparkContext
        n_parts = sc.defaultParallelism
        if n_bytes:
            # scale-adaptive: ~128 MiB of banded rows per scoring
            # partition, never below session parallelism
            n_parts = max(n_parts, math.ceil(n_bytes / (128 << 20)))
        prepped = _track(
            capped.repartition(n_parts, "band", "bucket")
            .sortWithinPartitions("band", "bucket"))
        scored = prepped.mapInArrow(
            _bucket_pair_scores, "a bigint, b bigint, d double, nn double")
        return (
            scored.withColumn("sim", F.round(F.col("d") / F.col("nn"), 4))
            .groupBy("a", "b").agg(F.min("sim").alias("sim"))
            .where(F.col("sim") >= threshold)
        )
    return (
        capped.alias("x").join(capped.alias("y"), ["band", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        # norms precomputed per row in _banded_buckets — the per-pair
        # re-score is one dot product, not dot + two norm folds
        # (measured 1.75x end-to-end at 80k vectors)
        .withColumn("sim", F.round(
            dot(F.col("x.v"), F.col("y.v"))
            / (F.col("x.v_n") * F.col("y.v_n")), 4))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.min("sim").alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left fold (array order) — the
    same fold the DuckDB oracle replays with list_reduce(list_prepend),
    so argmin comparisons are bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


def _pq_subvectors(df: DataFrame, m: int, d_sub: int, id_col: str,
                   vec_col: str) -> DataFrame:
    """(id, sub, sv): each vector split into m contiguous subvectors."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice(F.col(vec_col), s * d_sub + 1, d_sub)
                      .alias("sv"))
            for s in range(m)])).alias("p")
    ).select("id", "p.sub", "p.sv")


def _pq_choose(cb: Column, sub_col: Column, sv: Column) -> Column:
    """struct(d, code, cn2) of the nearest codeword of subspace
    ``sub_col`` to subvector ``sv`` — array_min over (d, code) breaks
    distance ties toward the smallest code, mirroring the oracle's
    row_number ORDER BY d, code."""
    cand = F.filter(cb, lambda c: c["sub"] == sub_col)
    scored = F.transform(
        cand, lambda c: F.struct(_sq_dist(sv, c["cvec"]).alias("d"),
                                 c["code"].alias("code"),
                                 c["cn2"].alias("cn2")))
    return F.array_min(scored)


def _pq_train_sample(corpus: DataFrame, id_col: str, train_n: int,
                     tag_prefix: str = "pq-train-") -> DataFrame:
    """Deterministic bounded PQ training sample: the ``train_n`` corpus
    rows with the smallest md5('pq-train-' || id) tags — the same
    portable-hash trick as _ivf_seed_cents, so the DuckDB twin replays
    the exact sample (ORDER BY md5 LIMIT n).  orderBy + limit compiles
    to TakeOrderedAndProject (per-partition top-n + single merge), NOT a
    full sort shuffle, so the 100-TB cost is one bounded scan.  This is
    what keeps the codebook BUILD off the full corpus: training windows
    below see at most train_n rows per subspace instead of n (the r5
    scale defect), while the encode pass remains the only full scan.
    ``train_n`` falsy = train on everything (small fixtures / tests)."""
    if not train_n:
        return corpus
    tag = F.md5(F.concat(F.lit(tag_prefix),
                         F.col(id_col).cast("string")))
    return (corpus.withColumn("_ptag", tag)
            .orderBy("_ptag", id_col).limit(train_n).drop("_ptag"))


# ---------------------------------------------------------------------------
# driver-side bounded index builds (r8).
#
# The ANN index builds train on md5-sampled prefixes BOUNDED by
# construction (train_n, default 2^16 rows) — the same bounded-collect
# contract as connected_components' <=2^20-edge fast path.  Running the
# build as a chain of 6-10 tiny Spark stages cost ~2 s of pure scheduling
# latency per index at any data size (guide §1.2: fix the distributed
# algorithm first — here the right algorithm is ONE bounded TakeOrdered
# collect + an exact in-driver replay, since the training input never
# exceeds train_n rows no matter the corpus size).  Every float op below
# replays the engine expression ORDER exactly (left-to-right folds,
# (s/n)/1e6 division order, half-up rounding), so the built index — and
# therefore every downstream query row — is bit-identical to the
# distributed build; tests pin the equivalence on the real fixtures.
# ---------------------------------------------------------------------------


def _np():
    import numpy as np
    return np


def _round_half_up_np(a, digits: int):
    """Replay Spark's ROUND(double, d) (BigDecimal HALF_UP on the
    double's decimal string) vectorized: fast floor(|x|*10^d + 0.5) path,
    with an exact Decimal re-check for values within ~1e-9 of a rounding
    boundary (where the double multiply could flip the half)."""
    np = _np()
    scale = 10.0 ** digits
    scaled = a * scale
    absn = np.abs(scaled)
    fast = np.floor(absn + 0.5)
    out = np.sign(scaled) * fast / scale
    frac = absn - np.floor(absn)
    risky = np.abs(frac - 0.5) < 1e-9
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal
        q = Decimal(1).scaleb(-digits)
        flat_idx = np.nonzero(risky)
        for ix in zip(*flat_idx):
            out[ix] = float(Decimal(repr(float(a[ix])))
                            .quantize(q, rounding=ROUND_HALF_UP))
    return out


def _fold_dot(A, B):
    """Left-to-right fold of elementwise products (the engine's
    F.aggregate(zip_with(a, b, *), 0.0, +) order), vectorized across
    rows of A.  B may be a vector (d,) or matrix (n, d)."""
    np = _np()
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for t in range(A.shape[1]):
        acc = acc + A[:, t] * (B[t] if B.ndim == 1 else B[:, t])
    return acc


def _fold_sq_dist(A, c):
    """Left-to-right fold of (x-y)^2 (the engine's _sq_dist order)."""
    np = _np()
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for t in range(A.shape[1]):
        d = A[:, t] - c[t]
        acc = acc + d * d
    return acc


def _fold_norm(v):
    """sqrt of the left-to-right self-dot fold for ONE vector."""
    import math
    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _quantized_means(members):
    """The engine's integer-quantized exact mean for one cell/codeword:
    per dim, SUM(FLOOR(v * 1e6)) as int64, then (double(s) / n) / 1e6 —
    order-independent, so the driver replay is exact by construction.
    ``members``: (n, d) float64 array, n >= 1."""
    np = _np()
    s = np.floor(members * 1000000.0).astype(np.int64).sum(
        axis=0, dtype=np.int64)
    n = members.shape[0]
    return [(float(si) / n) / 1000000.0 for si in s]


def _pq_codebooks_local(spark, rows, m: int, ks: int, dim: int):
    """Driver replay of the distributed pq_codebooks over the collected
    (bounded) training sample.  Returns the same ONE-row ``cb`` frame."""
    import hashlib

    from pyspark.sql import types as T

    np = _np()
    d_sub = dim // m
    ids = [r[0] for r in rows]
    V = np.array([r[1] for r in rows], dtype=np.float64)
    cb = []
    for s in range(m):
        X = V[:, s * d_sub:(s + 1) * d_sub]
        # seeds: ks sample rows with the smallest (md5 tag, id) per sub
        tags = [(hashlib.md5(f"pq-seed-{s}-{i}".encode()).hexdigest(), i,
                 row)
                for row, i in enumerate(ids)]
        tags.sort(key=lambda t: (t[0], t[1]))
        seed_rows = [row for _, _, row in tags[:ks]]
        C = X[seed_rows]                      # (k', d_sub) seed codewords
        kk = C.shape[0]
        # assignment: argmin of the left-to-right (x-y)^2 fold, ties to
        # the smaller code (the engine's array_min over struct(d, code))
        best_d = np.full(len(X), np.inf)
        best_j = np.zeros(len(X), dtype=np.int64)
        for j in range(kk):
            dj = _fold_sq_dist(X, C[j])
            take = dj < best_d
            best_d = np.where(take, dj, best_d)
            best_j = np.where(take, j, best_j)
        for code in range(kk):
            members = X[best_j == code]
            cvec = (_quantized_means(members) if len(members)
                    else [float(x) for x in C[code]])
            acc = 0.0
            for x in cvec:
                acc = acc + x * x
            cb.append((s, code, cvec, acc))
    schema = T.StructType([T.StructField("cb", T.ArrayType(T.StructType([
        T.StructField("sub", T.IntegerType()),
        T.StructField("code", T.IntegerType()),
        T.StructField("cvec", T.ArrayType(T.DoubleType())),
        T.StructField("cn2", T.DoubleType())])))])
    return spark.createDataFrame([(sorted(cb),)], schema)


def _ivf_cents_one_local(corpus: DataFrame, id_col: str, vec_col: str,
                         n_cells: int, lloyd_rounds: int,
                         train_n: int) -> DataFrame:
    """Driver replay of seed + Lloyd-refined IVF centroids (bounded by
    n_cells seeds + the train_n sample).  Returns the same ONE-row
    ``cents`` frame as _ivf_cents_one(_ivf_lloyd_refine(...))."""
    from pyspark.sql import types as T

    np = _np()
    spark = corpus.sparkSession
    seeds = (_ivf_seed_cents(corpus, id_col, vec_col, n_cells)).collect()
    # _ivf_cents_one sorts its struct array by cid
    cents = sorted((int(r["cid"]), [float(x) for x in r["cvec"]])
                   for r in seeds)
    if lloyd_rounds:
        train = (_pq_train_sample(corpus, id_col, train_n, "ivf-train-")
                 .select(vec_col).collect())
        V = np.array([r[0] for r in train], dtype=np.float64)
        vn = np.array([_fold_norm(v) for v in V])
        for _ in range(lloyd_rounds):
            best_s = np.full(len(V), -np.inf)
            best_c = np.zeros(len(V), dtype=np.int64)
            for i, (_cid, cvec) in enumerate(cents):
                ncv = _fold_norm(cvec)
                sim = _round_half_up_np(
                    _fold_dot(V, np.array(cvec)) / (vn * ncv), 6)
                # array_max over struct(sim, cell): ties -> larger cell
                take = sim >= best_s
                best_s = np.where(take, sim, best_s)
                best_c = np.where(take, i, best_c)
            nxt = []
            for i in range(len(cents)):
                members = V[best_c == i]
                if len(members):              # empty cells drop + compact
                    nxt.append((i, _quantized_means(members)))
            cents = sorted(nxt)
    out = [(cid, cvec, _fold_norm(cvec)) for cid, cvec in cents]
    schema = T.StructType([T.StructField("cents", T.ArrayType(
        T.StructType([T.StructField("cid", T.LongType()),
                      T.StructField("cvec", T.ArrayType(T.DoubleType())),
                      T.StructField("ncv", T.DoubleType())])))])
    return spark.createDataFrame([(out,)], schema)


def pq_codebooks(corpus: DataFrame, m: int = 8, ks: int = 16,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 train_n: int = 1 << 16,
                 driver_build: bool | None = None) -> DataFrame:
    """Product-quantization codebooks: ``m`` subspaces × ``ks`` codewords,
    as ONE broadcastable row (column ``cb`` = array<struct<sub, code,
    cvec, cn2>> sorted by (sub, code); cn2 = |cvec|² precomputed so the
    ADC norm never refolds codewords per row).

    Deterministic build, bit-identical to the DuckDB twin: per subspace,
    seed codewords are the ks corpus subvectors with the smallest
    md5('pq-seed-'||sub||'-'||id) tags (the repo's portable sampling),
    refined by ONE Lloyd round with integer-quantized exact means
    (SUM(FLOOR(v*1e6)) as BIGINT — partitioning-independent).  A codeword
    that attracts no subvectors keeps its seed value (LEFT JOIN +
    coalesce), so code ids stay dense 0..ks-1 and the flat ADC table
    index sub*ks+code is stable.

    ``train_n`` (default 2^16) bounds the training input via
    _pq_train_sample: codebook quality converges at ~10^5-10^6 vectors,
    long before the corpus is exhausted, so the per-subspace seed window
    and the Lloyd round never see more than train_n rows each — the
    encode pass in pq_topk is the only stage that must see every row.
    Raise it (e.g. 1<<20) for production corpora; 0/None trains on the
    full input.

    r8: with a bounded ``train_n`` the whole build runs DRIVER-SIDE on
    the collected sample (one TakeOrdered job instead of ~8 scheduling-
    latency-bound stages, ~2 s saved per index at any corpus size); the
    replay is float-op-exact, pinned by the differential test against
    this distributed path, which remains the train_n=0 implementation
    (``driver_build=False`` forces the distributed path — the tests'
    equivalence reference)."""
    if driver_build is None:
        driver_build = bool(train_n)
    if driver_build and train_n:
        rows = (_pq_train_sample(corpus, id_col, train_n)
                .select(id_col, vec_col).collect())
        return _pq_codebooks_local(corpus.sparkSession,
                                   [(r[0], r[1]) for r in rows],
                                   m, ks, dim)
    d_sub = dim // m
    sv = _pq_subvectors(_pq_train_sample(corpus, id_col, train_n),
                        m, d_sub, id_col, vec_col)
    tag = F.md5(F.concat(F.lit("pq-seed-"), F.col("sub").cast("string"),
                         F.lit("-"), F.col("id").cast("string")))
    w = Window.partitionBy("sub").orderBy("tag", "id")
    seeds = (sv.withColumn("tag", tag)
             .withColumn("r", F.row_number().over(w))
             .where(F.col("r") <= ks)
             .select("sub", (F.col("r") - 1).alias("code"),
                     F.col("sv").alias("cvec")))
    seed_one = seeds.agg(F.array_sort(F.collect_list(F.struct(
        "sub", "code", "cvec",
        F.aggregate(F.col("cvec"), F.lit(0.0),
                    lambda acc, x: acc + x.cast("double")
                    * x.cast("double")).alias("cn2")))).alias("cb"))
    assigned = (sv.crossJoin(F.broadcast(seed_one))
                .select("sub", "sv",
                        _pq_choose(F.col("cb"), F.col("sub"),
                                   F.col("sv"))["code"].alias("code")))
    per_dim = (assigned.select("sub", "code", F.posexplode("sv"))
               .groupBy("sub", "code", "pos")
               .agg(F.sum(F.floor(F.col("col").cast("double")
                                  * 1000000.0)).alias("s"),
                    F.count(F.lit(1)).alias("n"))
               .select("sub", "code", "pos",
                       (F.col("s").cast("double") / F.col("n")
                        / 1000000.0).alias("cval")))
    means = (per_dim.groupBy("sub", "code")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                 lambda st: st["cval"]).alias("mvec")))
    refined = (seeds.join(means, ["sub", "code"], "left")
               .select("sub", "code",
                       F.coalesce(F.col("mvec"), F.col("cvec"))
                        .alias("cvec")))
    return refined.agg(F.array_sort(F.collect_list(F.struct(
        "sub", "code", "cvec",
        F.aggregate(F.col("cvec"), F.lit(0.0),
                    lambda acc, x: acc + x * x).alias("cn2")))).alias("cb"))


def pq_topk(corpus: DataFrame, queries: DataFrame, m: int = 8,
            ks: int = 16, k: int = 5, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            rerank: int = 0, train_n: int = 1 << 16) -> DataFrame:
    """Product-quantization ADC top-k — the billion-scale ANN memory
    path (FAISS IVF-PQ's compression half): every corpus vector is
    encoded as ``m`` one-byte codes (64 floats → 8 bytes here), and
    query-to-corpus similarity is approximated from a per-query
    distance table without ever touching the original vectors.

    Scale shape: the codebook is ONE broadcast row (m×ks codewords);
    encoding is a per-row fold — NO corpus shuffle; each query
    precomputes dot(q_sub, codeword) for all m×ks codewords (the ADC
    table, broadcast with the query), so scoring a corpus row is m
    array lookups + a fold instead of a dim-wide dot product.  At 100 TB
    the encoded corpus is dim/m × smaller than the raw vectors (8 bytes
    + id per row here), which is what makes exhaustive ANN scans
    feasible; composing with ivf_topk's cells (probe-then-ADC) is the
    standard next step.  Approximate sim = table-sum / (|q| ×
    reconstructed |v|); ranking ties break on neighbor_id.

    ``rerank`` > 0 adds the standard refinement stage: the top ``rerank``
    ADC candidates per query join back to their true vectors and
    re-score exactly (output column becomes the exact ``sim``).  Pure
    ADC (rerank=0) deliberately quantizes away within-cell detail — the
    right trade for cluster-level retrieval, wrong for exact-rank claims
    — while the shortlist join touches only rerank×queries true vectors,
    preserving the memory win."""
    d_sub = dim // m
    from .dedup import _track_persist

    cb_one = _track_persist(
        pq_codebooks(corpus, m, ks, dim, id_col, vec_col,
                     train_n=train_n))

    chosen = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_choose(
            F.col("cb"), s,
            F.slice(F.col("v"), s * d_sub + 1, d_sub)))
    from .dedup import _widen

    enc = (_widen(corpus).crossJoin(F.broadcast(cb_one))
           .select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("v"), "cb")
           .select("neighbor_id",
                   chosen.alias("ch"))
           .select("neighbor_id",
                   F.transform(F.col("ch"), lambda c: c["code"])
                    .alias("codes"),
                   F.sqrt(F.aggregate(F.col("ch"), F.lit(0.0),
                                      lambda acc, c: acc + c["cn2"]))
                    .alias("an")))
    q = (queries.crossJoin(F.broadcast(cb_one))
         .select(F.col(id_col).alias("query_id"),
                 norm(F.col(vec_col)).alias("qn"),
                 F.transform(F.col("cb"), lambda c: dot(
                     F.slice(F.col(vec_col), c["sub"] * d_sub + 1, d_sub),
                     c["cvec"])).alias("qtab")))
    adot = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.element_at(
                        F.col("qtab"),
                        (s * ks + F.element_at(F.col("codes"), s + 1)
                         + 1).cast("int"))),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (enc.join(F.broadcast(q),
                       F.col("neighbor_id") != F.col("query_id"))
              .withColumn("asim", F.round(
                  adot / (F.col("qn") * F.col("an")), 4)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("asim").desc(), F.col("neighbor_id"))
    if not rerank:
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "asim"))
    shortlist = (scored.withColumn("r0", F.row_number().over(w))
                 .where(F.col("r0") <= rerank)
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def _exact_rerank(shortlist: DataFrame, corpus: DataFrame,
                  queries: DataFrame, k: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """Join an ADC shortlist back to true vectors and re-score exactly —
    touches only shortlist rows, so the quantized scan's memory win
    survives the refinement."""
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"),
                       norm(F.col(vec_col)).alias("cn"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"),
                        norm(F.col(vec_col)).alias("qn"))
    exact = (shortlist.join(cv, "neighbor_id")
             .join(F.broadcast(qv), "query_id")
             .withColumn("sim", F.round(
                 dot(F.col("qv"), F.col("cv"))
                 / (F.col("qn") * F.col("cn")), 4)))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (exact.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "sim"))


def _ivf_scored_cells(vec: Column, vn: Column) -> Column:
    """array<struct<sim,cell>> of the row's cosine to every centroid in
    the broadcast ``cents`` column (row norm ``vn`` precomputed — cosine
    here is one dot per cell).  NB: the 2-arg transform lambda
    deliberately binds the array-index column (the cell id)."""
    return F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            F.round(dot(vec, c["cvec"]) / (vn * c["ncv"]), 6)
             .alias("sim"),
            i.alias("cell")))


def _ivf_cents_one(cents: DataFrame) -> DataFrame:
    """(cid, cvec) -> the ONE-row broadcastable centroid frame:
    cents = array<struct<cid,cvec,ncv>> sorted by cid, so a vector's cell
    index is its array position (0-based); centroid norms are precomputed
    once here, never per (row x centroid)."""
    return (cents
            .select("cid", "cvec", norm(F.col("cvec")).alias("ncv"))
            .agg(F.array_sort(F.collect_list(
                F.struct("cid", "cvec", "ncv"))).alias("cents")))


def _ivf_seed_cents(corpus: DataFrame, id_col: str, vec_col: str,
                    n_cells: int) -> DataFrame:
    """Deterministic pseudo-random seed centroids: the ``n_cells`` corpus
    rows with the smallest md5('ivf-seed-' || id) tags.  md5 is the repo's
    portable hash (identical in Spark and DuckDB), so the oracle twin
    replicates the exact sample; an id-ordered prefix — the previous
    strategy — clusters arbitrarily when low ids are correlated with
    content.  One TakeOrdered job over (id, vec), nothing else."""
    seed_tag = F.md5(F.concat(F.lit("ivf-seed-"),
                              F.col(id_col).cast("string")))
    return (corpus
            .select(F.col(id_col).alias("cid"),
                    F.col(vec_col).alias("cvec"), seed_tag.alias("tag"))
            .orderBy("tag", "cid")
            .limit(n_cells)
            .select("cid", "cvec"))


def _ivf_lloyd_refine(corpus: DataFrame, cents_one: DataFrame,
                      id_col: str, vec_col: str) -> DataFrame:
    """ONE spherical-k-means (Lloyd) refinement round, fully JVM-side and
    bit-deterministic: assign every corpus row to its max-cosine centroid
    (shuffle-free broadcast fold), then recompute each cell's mean vector
    with integer-quantized exact sums — floor(v*1e6) summed as BIGINT is
    order-independent, unlike a double sum whose value depends on
    partitioning, so engine and DuckDB oracle agree to the bit.

    Scale shape: the refine pass is one posexplode shuffle of
    (cell, dim, long) triples — rows x dim narrow rows, the classic
    one-time IVF index-build cost.  Callers (ivf_topk / ivf_pq_topk)
    bound it by passing the md5('ivf-train-') hash sample, not the full
    corpus — centroid quality converges long before the corpus is
    exhausted, and determinism survives because the sample is a
    TakeOrdered prefix of a portable hash."""
    assigned = (corpus.crossJoin(F.broadcast(cents_one))
                .select(F.col(vec_col).alias("v"),
                        norm(F.col(vec_col)).alias("vn"), "cents")
                .select("v",
                        F.array_max(
                            _ivf_scored_cells(F.col("v"), F.col("vn"))
                        )["cell"].alias("cell")))
    per_dim = (assigned
               .select("cell", F.posexplode("v"))
               .groupBy("cell", "pos")
               .agg(F.sum(F.floor(F.col("col") * 1000000.0)).alias("s"),
                    F.count(F.lit(1)).alias("n"))
               .select("cell", "pos",
                       (F.col("s").cast("double") / F.col("n")
                        / 1000000.0).alias("cval")))
    return (per_dim
            .groupBy("cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"]).alias("cvec"))
            .select(F.col("cell").alias("cid"), "cvec"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, n_cells: int = 16,
             n_probe: int = 4, k: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding", lloyd_rounds: int = 1,
             train_n: int = 1 << 16) -> DataFrame:
    """IVF-Flat approximate top-k: the inverted-file alternative to
    hyperplane LSH.

    Cells start from ``n_cells`` md5-sampled corpus vectors (deterministic
    pseudo-random — r3 VERDICT item 5: the old lowest-id prefix
    partitioned arbitrarily) and are refined by ``lloyd_rounds`` rounds of
    bit-deterministic spherical k-means (integer-quantized exact mean —
    see _ivf_lloyd_refine; empty cells drop and the array compacts
    identically on both engine and oracle).  Every corpus row is assigned
    to its max-cosine cell; each query probes its ``n_probe`` nearest
    cells and re-scores exactly only within them.

    Scale shape: the centroid set is aggregated into ONE broadcast row
    holding an array<struct<cid,cvec,ncv>> column (r2 VERDICT fix — plan
    literals were O(n_cells x dim) in the plan tree and recompiled per
    query; a broadcast relation ships once and admits 10^3-10^4 cells).
    Cell assignment is a per-row array_max fold over that column —
    embarrassingly parallel, NO shuffle of the corpus (a per-centroid-row
    hash join would need a groupBy-argmax re-shuffle of every corpus
    row).  The candidate join is then an equality join on cell id against
    the broadcast query side, so cost is O(rows x n_probe / n_cells) per
    query instead of O(rows x queries); recall is tunable via n_probe
    (n_probe == n_cells degrades gracefully to exact brute force).
    """
    # seeds are already a bounded TakeOrdered; the Lloyd refine is the
    # full-corpus pass, so it trains on the md5('ivf-train-') sample —
    # same bounded-build contract as pq_codebooks (centroid quality
    # converges at ~10^5-10^6 vectors; the per-row cell ASSIGNMENT below
    # still sees every row)
    if train_n:
        # r8: bounded training input -> the seed+Lloyd chain runs
        # driver-side on the collected sample (exact replay; one bounded
        # TakeOrdered collect instead of a multi-stage chain).  The
        # one-row result is PERSISTED, not left as a LocalRelation —
        # ConvertToLocalRelation would constant-fold the centroid array
        # into every consuming lambda tree (the r2 plan-literal
        # pathology, re-measured here: 4.5 s -> 12 s when inlined)
        from .dedup import _track_persist

        cents_one = _track_persist(_ivf_cents_one_local(
            corpus, id_col, vec_col, n_cells, lloyd_rounds, train_n))
    else:
        train = _pq_train_sample(corpus, id_col, train_n, "ivf-train-")
        cents_one = _ivf_cents_one(
            _ivf_seed_cents(corpus, id_col, vec_col, n_cells))
        for _ in range(lloyd_rounds):
            cents_one = _ivf_cents_one(
                _ivf_lloyd_refine(train, cents_one, id_col, vec_col))
        if lloyd_rounds:
            # the refined one-row frame feeds TWO broadcasts (corpus
            # assignment + query probing); without a persist the whole
            # corpus-wide Lloyd pass executes once per consumer (verified
            # in the executed plan: no ReusedExchange).  Registered in
            # the bounded cache registry like the near-dup relations.
            from .dedup import _track_persist

            cents_one = _track_persist(cents_one)

    def scored_cells(vec: Column, vn: Column) -> Column:
        return _ivf_scored_cells(vec, vn)

    def best_cells(vec: Column, vn: Column, top: int) -> Column:
        ranked = F.reverse(F.array_sort(scored_cells(vec, vn)))
        return F.slice(F.transform(ranked, lambda s: s["cell"]), 1, top)

    from .dedup import _widen

    c = _widen(corpus).crossJoin(F.broadcast(cents_one)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        F.col("cents")).select(
        "neighbor_id", "cv", "cn",
        # argmax without sorting: max struct by (sim, cell) — same
        # largest-cell-on-ties ordering as best_cells' head
        F.array_max(scored_cells(F.col("cv"), F.col("cn")))["cell"]
         .alias("cell"))
    q = queries.crossJoin(F.broadcast(cents_one)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        F.col("cents")).select(
        "query_id", "qv", "qn",
        F.explode(best_cells(F.col("qv"), F.col("qn"), n_probe))
         .alias("cell"))
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4))
        .groupBy("query_id", "neighbor_id").agg(F.min("sim").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, n_cells: int = 16,
                n_probe: int = 4, m: int = 8, ks: int = 16, k: int = 5,
                dim: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding", lloyd_rounds: int = 1,
                rerank: int = 0, train_n: int = 1 << 16) -> DataFrame:
    """The composed FAISS-style IVF-PQ index: coarse cells restrict WHICH
    rows are scored (ivf_topk's inverted file), product quantization
    decides HOW they are scored (pq_topk's 8-byte ADC codes) — at
    billion-vector scale the index is cells + codes + ids only, no raw
    vectors in the scan path.

    Both component indexes are the verified operators: md5-sampled
    centroids with integer-exact Lloyd refinement (one broadcast row),
    md5-sampled per-subspace codebooks likewise (one broadcast row).
    Each corpus row carries (cell, codes, reconstructed-norm); each query
    probes n_probe cells with its ADC table; scoring joins on cell id, so
    cost is O(rows x n_probe / n_cells) per query AND per-candidate work
    is m table lookups instead of a dim-wide dot.  ``rerank`` refines the
    shortlist against true vectors (the standard final stage)."""
    d_sub = dim // m
    from .dedup import _track_persist

    if train_n:
        # r8 driver-side bounded builds (see ivf_topk/pq_codebooks);
        # persisted so the one-row frames stay relations instead of
        # being constant-folded into the choose/ADC lambda trees
        cents_one = _track_persist(_ivf_cents_one_local(
            corpus, id_col, vec_col, n_cells, lloyd_rounds, train_n))
        cb_one = _track_persist(
            pq_codebooks(corpus, m, ks, dim, id_col, vec_col,
                         train_n=train_n))
    else:
        train = _pq_train_sample(corpus, id_col, train_n, "ivf-train-")
        cents_one = _ivf_cents_one(
            _ivf_seed_cents(corpus, id_col, vec_col, n_cells))
        for _ in range(lloyd_rounds):
            cents_one = _ivf_cents_one(
                _ivf_lloyd_refine(train, cents_one, id_col, vec_col))
        cents_one = _track_persist(cents_one)
        cb_one = _track_persist(
            pq_codebooks(corpus, m, ks, dim, id_col, vec_col,
                         train_n=train_n))
    index_one = cents_one.crossJoin(cb_one)  # one row: cents + cb arrays

    chosen = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_choose(
            F.col("cb"), s, F.slice(F.col("v"), s * d_sub + 1, d_sub)))
    from .dedup import _widen

    enc = (_widen(corpus).crossJoin(F.broadcast(index_one))
           .select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("v"),
                   norm(F.col(vec_col)).alias("vn"), "cents", "cb")
           .select("neighbor_id",
                   F.array_max(_ivf_scored_cells(F.col("v"),
                                                 F.col("vn")))["cell"]
                    .alias("cell"),
                   chosen.alias("ch"))
           .select("neighbor_id", "cell",
                   F.transform(F.col("ch"), lambda c: c["code"])
                    .alias("codes"),
                   F.sqrt(F.aggregate(F.col("ch"), F.lit(0.0),
                                      lambda acc, c: acc + c["cn2"]))
                    .alias("an")))

    def best_cells(vec, vn, top):
        ranked = F.reverse(F.array_sort(_ivf_scored_cells(vec, vn)))
        return F.slice(F.transform(ranked, lambda s: s["cell"]), 1, top)

    q = (queries.crossJoin(F.broadcast(index_one))
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("qv"),
                 norm(F.col(vec_col)).alias("qn"), "cents", "cb")
         .select("query_id", "qn",
                 F.explode(best_cells(F.col("qv"), F.col("qn"), n_probe))
                  .alias("cell"),
                 F.transform(F.col("cb"), lambda c: dot(
                     F.slice(F.col("qv"), c["sub"] * d_sub + 1, d_sub),
                     c["cvec"])).alias("qtab")))
    adot = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.element_at(
                        F.col("qtab"),
                        (s * ks + F.element_at(F.col("codes"), s + 1)
                         + 1).cast("int"))),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (enc.join(F.broadcast(q), "cell")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("asim", F.round(
                  adot / (F.col("qn") * F.col("an")), 4)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("asim").desc(), F.col("neighbor_id"))
    if not rerank:
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "asim"))
    shortlist = (scored.withColumn("r0", F.row_number().over(w))
                 .where(F.col("r0") <= rerank)
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def semantic_dedup(corpus: DataFrame, threshold: float = 0.9,
                   n_cells: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding", lloyd_rounds: int = 1,
                   train_n: int = 1 << 16) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster mark every vector that has a LOWER-ID near-duplicate
    (cosine >= threshold) as dropped — keep = the minimum-id member of
    every pairwise-domination chain.  Unlike near_dup_keep_canonical
    (connected components over the full near-dup graph) this is the
    paper's cheap one-shot rule: a doc is redundant if ANY smaller-id
    semantic twin exists in its cell, no transitive closure.

    The cluster build is byte-identical to ivf_topk's: md5('ivf-seed-')
    sampled seeds, ``lloyd_rounds`` bit-deterministic spherical-k-means
    rounds trained on the md5('ivf-train-') TakeOrdered sample, ONE
    broadcast centroid row.  Cell ASSIGNMENT sees every row and is a
    shuffle-free per-row fold (same as ivf_topk — no corpus shuffle).

    Scale shape: the only corpus-sized shuffles are the two sides of
    the within-cell equality self-join on cell id.  Cells are the
    quadratic-blowup guard: pair work is O(sum cell_size²), and at web
    scale ``n_cells`` grows with the corpus so cell size stays
    ~constant — exactly the SemDeDup recipe (they run 50k clusters
    over LAION embeddings).  Norms are computed once per row before
    the join, never per pair (the embedding_near_dups lesson).

    Returns (id_col, cell, kept) for ALL rows — kept is 0/1 so
    downstream can anti-join or re-threshold without a rescan."""
    from .dedup import _track, _track_persist

    if train_n:
        # r8 driver-side bounded centroid build (see ivf_topk; persisted
        # against LocalRelation constant folding)
        cents_one = _track_persist(_ivf_cents_one_local(
            corpus, id_col, vec_col, n_cells, lloyd_rounds, train_n))
    else:
        train = _pq_train_sample(corpus, id_col, train_n, "ivf-train-")
        cents_one = _ivf_cents_one(
            _ivf_seed_cents(corpus, id_col, vec_col, n_cells))
        for _ in range(lloyd_rounds):
            cents_one = _ivf_cents_one(
                _ivf_lloyd_refine(train, cents_one, id_col, vec_col))
        if lloyd_rounds:
            cents_one = _track_persist(cents_one)
    from .dedup import _widen

    assigned = _track(
        _widen(corpus).crossJoin(F.broadcast(cents_one))
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                norm(F.col(vec_col)).alias("vn"), "cents")
        .select("id", "v", "vn",
                F.array_max(_ivf_scored_cells(F.col("v"), F.col("vn")))
                 ["cell"].alias("cell")))
    a = assigned.select(F.col("id").alias("aid"), F.col("v").alias("av"),
                        F.col("vn").alias("an"), "cell")
    b = assigned.select(F.col("id").alias("bid"), F.col("v").alias("bv"),
                        F.col("vn").alias("bn"), "cell")
    dropped = (a.join(b, "cell")
               .where(F.col("aid") < F.col("bid"))
               .where(F.round(dot(F.col("av"), F.col("bv"))
                              / (F.col("an") * F.col("bn")), 4)
                      >= F.lit(threshold))
               .select(F.col("bid").alias("id")).distinct()
               .withColumn("dropped", F.lit(1)))
    return (assigned.join(dropped, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.col("cell").cast("long").alias("cell"),
                    F.when(F.col("dropped").isNull(), F.lit(1))
                     .otherwise(F.lit(0)).cast("long").alias("kept")))


def _sq8_stats_one(corpus: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension corpus [min, max] packed into ONE broadcastable
    row (mns, mxs) — the SQ8 'codebook'."""
    v = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    return (corpus.select(F.posexplode(v).alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .groupBy()
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "mn", "mx"))).alias("st"))
            .select(F.expr("transform(st, s -> s.mn)").alias("mns"),
                    F.expr("transform(st, s -> s.mx)").alias("mxs")))


def sq8_quantize(corpus: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """FAISS-style SQ8 scalar quantization: per-dimension corpus
    [min, max] ranges map each float to one 8-bit code — the 4x memory
    cut (float32 -> uint8) that makes billion-vector indexes fit in
    RAM, and the simplest member of the quantizer family PQ extends.

    Two-pass by construction (the IVF-build shape): pass 1 is ONE
    per-dimension min/max hash aggregation (map-side partial — the
    shuffle carries dim-count rows) whose result packs into a single
    broadcast row; pass 2 encodes every vector with a pure per-row
    expression — no corpus shuffle anywhere.

    Determinism contract: code_i = ROUND((x_i - mn_i) * 255.0 /
    (mx_i - mn_i)) — each binary float op is IEEE-correctly-rounded,
    hence bit-identical on JVM and DuckDB, and ROUND ties (half-up vs
    half-away) agree because the operand is non-negative; a constant
    dimension (mx = mn) codes 0.  The reconstruction error
    |x - x_hat| quantizes per TERM to integer MICROUNITS before the
    order-insensitive integer sum (the millinat rule applied to
    floats).  Returns (id, codes array<int>, sum_abs_err_um)."""
    v = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    stats_one = _sq8_stats_one(corpus, vec_col)
    enc = (corpus.crossJoin(F.broadcast(stats_one))
           .select(F.col(id_col), v.alias("v"), "mns", "mxs"))
    codes = F.expr(
        "transform(v, (x, i) -> CASE"
        " WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN 0"
        " ELSE cast(round((x - element_at(mns, i + 1)) * 255.0D"
        "      / (element_at(mxs, i + 1) - element_at(mns, i + 1)))"
        "      as int) END)")
    err_terms = F.expr(
        "transform(v, (x, i) -> CASE"
        " WHEN element_at(mxs, i + 1) = element_at(mns, i + 1)"
        " THEN cast(round(abs(x - element_at(mns, i + 1)) * 1000000.0D)"
        "      as bigint)"
        " ELSE cast(round(abs(x - (element_at(mns, i + 1)"
        "      + round((x - element_at(mns, i + 1)) * 255.0D"
        "        / (element_at(mxs, i + 1) - element_at(mns, i + 1)))"
        "      * (element_at(mxs, i + 1) - element_at(mns, i + 1))"
        "      / 255.0D)) * 1000000.0D) as bigint) END)")
    return enc.select(
        F.col(id_col),
        codes.alias("codes"),
        F.aggregate(err_terms, F.lit(0).cast("long"),
                    lambda acc, e: acc + e).alias("sum_abs_err_um"))


def sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             rerank: int = 0) -> DataFrame:
    """SQ8 asymmetric-distance top-k — the search half of sq8_quantize
    (FAISS IndexScalarQuantizer): corpus rows are scanned as 1-byte-
    per-dimension codes, and each query folds them against its own
    precomputed per-dimension terms — dot(q, x_hat) decomposes as
    dot(q, mins) + sum_i (q_i * step_i) * code_i, so scoring touches
    CODES ONLY (never a reconstructed vector): one scalar + one
    int-weighted fold per row.

    Scale shape: the stats row is the one broadcast (the SQ8
    'codebook'); encoding and scoring are per-row folds over the
    4x-compressed codes — no corpus shuffle; the query side (qn, the
    dot(q, mins) scalar, the q*step table) broadcasts with the
    queries, exactly the PQ-ADC join shape.  Approximate sim =
    adc-dot / (|q| * reconstructed-|x_hat|), ties on neighbor_id;
    ``rerank`` adds the standard exact-refinement stage
    (_exact_rerank) touching only shortlist rows."""
    from .dedup import _track_persist

    st_one = _track_persist(_sq8_stats_one(corpus, vec_col))
    v = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    codes = F.expr(
        "transform(v, (x, i) -> CASE"
        " WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN 0"
        " ELSE cast(round((x - element_at(mns, i + 1)) * 255.0D"
        "      / (element_at(mxs, i + 1) - element_at(mns, i + 1)))"
        "      as int) END)")
    xh = F.expr(
        "transform(codes, (c, i) -> element_at(mns, i + 1)"
        " + c * (element_at(mxs, i + 1) - element_at(mns, i + 1))"
        " / 255.0D)")
    enc = (corpus.crossJoin(F.broadcast(st_one))
           .select(F.col(id_col).alias("neighbor_id"), v.alias("v"),
                   "mns", "mxs")
           .withColumn("codes", codes)
           .withColumn("xh", xh)
           .select("neighbor_id", "codes",
                   F.sqrt(F.aggregate(
                       F.col("xh"), F.lit(0.0),
                       lambda acc, x: acc + x * x)).alias("an")))
    q = (queries.crossJoin(F.broadcast(st_one))
         .select(F.col(id_col).alias("query_id"),
                 v.alias("qv"), "mns", "mxs")
         .select("query_id",
                 F.sqrt(F.aggregate(
                     F.col("qv"), F.lit(0.0),
                     lambda acc, x: acc + x * x)).alias("qn"),
                 F.aggregate(
                     F.zip_with(F.col("qv"), F.col("mns"),
                                lambda x, y: x * y),
                     F.lit(0.0), lambda acc, t: acc + t).alias("qmn"),
                 F.expr(
                     "transform(qv, (x, i) -> x"
                     " * (element_at(mxs, i + 1)"
                     "    - element_at(mns, i + 1)) / 255.0D)")
                 .alias("qstep")))
    adot = (F.col("qmn") + F.aggregate(
        F.zip_with(F.col("qstep"), F.col("codes"),
                   lambda s, c: s * c),
        F.lit(0.0), lambda acc, t: acc + t))
    scored = (enc.join(F.broadcast(q),
                       F.col("neighbor_id") != F.col("query_id"))
              .withColumn("asim", F.round(
                  adot / (F.col("qn") * F.col("an")), 4)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("asim").desc(), F.col("neighbor_id"))
    if not rerank:
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "asim"))
    shortlist = (scored.withColumn("r0", F.row_number().over(w))
                 .where(F.col("r0") <= rerank)
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)
