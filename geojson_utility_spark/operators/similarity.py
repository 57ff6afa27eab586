"""Similarity search and near-dup detection over embedding columns (array<float>).

Five operators, all Arrow-batched numpy kernels behind ``mapInArrow``:

- :func:`cosine_topk`: exact brute-force top-k.  One zero-shuffle scan whose kernel
  matmuls each batch against the broadcast query matrix (BLAS-rate arithmetic;
  Catalyst higher-order lambdas are interpreted per element, ~10-100x slower).
- :func:`ivf_topk`: IVF approximate top-k.  A driver-side k-means quantizer
  assigns each batch to lists and re-ranks only the lists a query probes, in the
  same single scan.
- :func:`lsh_topk`: sign-LSH approximate top-k.  Candidates share a (table,
  signature) bucket with a query; exact cosine re-rank touches candidates only.
- :func:`cosine_near_dups`: sign-LSH banded self-join, exact cosine verify.
- :func:`ivf_near_dups`: IVF-list blocked self-join, exact cosine verify.

Shared kernels, one copy each: :func:`_query_side` (broadcast query matrix and
norms), :func:`_norms`/:func:`_ratio` (the zero-guarded cosine division),
:func:`_sq_dists` (the ||a-c||^2 expansion the quantizer and both IVF scans use,
mirrored by the IVF oracle SQL), :func:`_batch_topk` (the per-batch tie-safe
top-k mask), :func:`_signature_scan` (every table's sign-LSH signature in one
matmul per batch), :func:`_ranked` (the final (cosine desc, vec_id asc) rank
window) and :func:`_verify_cosine_pairs`.

Ids stay inside Arrow buffers (no Python object churn).  The top-k kernels emit a
per-batch superset: each query keeps every row whose cosine ties-or-beats the
batch's k-th best, so the global top-k is always in the union and the final
window ranks ~k rows per (query, partition), not N.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geojson_utility_spark.operators.dedup import _capped_self_pairs
from geojson_utility_spark.session import defer


def _list_to_matrix(col) -> np.ndarray:
    """Arrow List/FixedSizeList<float> column -> (n, dim) float64 matrix (zero object
    churn: one flat buffer view + reshape; ragged input raises)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_fixed_size_list(col.type):
        dim = col.type.list_size
        flat = col.values
    else:
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offsets)
        if len(widths) == 0:
            return np.empty((0, 0))
        dim = int(widths[0])
        if not (widths == dim).all():
            raise ValueError("ragged embedding column: all vectors must share a dim")
        flat = col.flatten()
    mat = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return mat.reshape(len(col), dim)


def _norms(mat: np.ndarray) -> np.ndarray:
    # axis=-1 so the (0,) matrix of an empty query set needs no special case
    return np.sqrt((mat * mat).sum(axis=-1))


def _ratio(num: np.ndarray, denom: np.ndarray) -> np.ndarray:
    """num / denom, 0.0 where denom is not positive (zero-norm vectors)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, num / denom, 0.0)


def _sq_dists(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, d) x (c, d) -> (n, c) squared distances by the ||a||^2 - 2 a.c + ||c||^2
    expansion.  The IVF oracle SQL mirrors this exact operand order."""
    return (
        (mat * mat).sum(axis=1)[:, None]
        - 2.0 * (mat @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )


def _batch_topk(cos: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, cols) of the per-column tie-safe top-k of a (n, q) cosine block:
    every finite entry >= its column's k-th best finite value (all finite entries
    when n <= k) — the global top-k under (cosine desc, vec_id asc) is inside.
    Non-finite cosines (inf components survive the denom>0 guard as NaN) rank as
    -inf so they cannot poison the k-th value, and are never kept: the Spark
    window sorts NaN above every double DESC (rank 1), so keeping one would make
    the result depend on Arrow batch/partition layout."""
    n = cos.shape[0]
    finite = np.isfinite(cos)
    cos_rank = np.where(finite, cos, -np.inf)
    if n > k:
        kth = np.partition(cos_rank, n - k, axis=0)[n - k, :]
        keep = cos_rank >= kth[None, :]
    else:
        keep = np.ones(cos.shape, dtype=bool)
    return np.nonzero(keep & finite)


def _query_side(
    queries: DataFrame, query_id_col: str, vec_col: str
) -> tuple[list, np.ndarray, np.ndarray]:
    """Query set -> (ids, (Q, dim) float64 matrix, (Q,) norms).  Queries are small
    by contract (the broadcast side); order fixed by collection for deterministic
    indices."""
    rows = queries.select(query_id_col, vec_col).collect()
    qmat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return [r[0] for r in rows], qmat, _norms(qmat)


def _empty_topk(
    vectors: DataFrame, queries: DataFrame, id_col: str, query_id_col: str
) -> DataFrame:
    """Typed empty result: id columns keep the INPUT types (a hardcoded string
    schema would break unionByName/joins for bigint ids on the empty-query edge)."""
    qid_type = dict(queries.select(query_id_col).dtypes)[query_id_col]
    vid_type = dict(vectors.select(id_col).dtypes)[id_col]
    return vectors.sparkSession.createDataFrame(
        [], f"query_id {qid_type}, vec_id {vid_type}, cosine double, rank int"
    )


def _ranked(scored: DataFrame, qids: list, k: int) -> DataFrame:
    """(vec_id, _qidx, cosine) candidates -> (query_id, vec_id, cosine, rank), rank
    1..k by cosine desc with ties broken by vec_id asc."""
    qmap = scored.sparkSession.createDataFrame(
        [(i, qid) for i, qid in enumerate(qids)], ["_qidx", "query_id"]
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.join(F.broadcast(qmap), "_qidx")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force: every query (small, broadcast) against every vector.

    Result: (query_id, vec_id, cosine, rank) with rank 1..k by descending cosine,
    ties broken by vec_id (deterministic).

    Physical plan: single scan of ``vectors``, zero shuffle — the Arrow kernel
    computes the batch x query cosine matrix with one matmul and keeps, per query,
    only rows whose cosine >= the batch's k-th best (a tie-safe superset), so the
    final window ranks ~k rows per (query, partition), not N.
    """
    spark = vectors.sparkSession
    qids, qmat, qnorm = _query_side(queries, query_id_col, vec_col)
    if len(qids) == 0:
        return _empty_topk(vectors, queries, id_col, query_id_col)
    bc = spark.sparkContext.broadcast((qmat, qnorm))
    defer(bc.unpersist)

    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    pid_type = dict(v.dtypes)["vec_id"]
    out_schema = f"vec_id {pid_type}, _qidx int, cosine double"

    def kernel(it):
        import pyarrow as pa

        qm, qn = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            vm = _list_to_matrix(batch.column("_v"))
            cos = _ratio(vm @ qm.T, _norms(vm)[:, None] * qn[None, :])
            rows, qidx = _batch_topk(cos, k)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(pa.array(rows, type=pa.int64())),
                    pa.array(qidx.astype(np.int32)),
                    pa.array(cos[rows, qidx]),
                ],
                ["vec_id", "_qidx", "cosine"],
            )

    return _ranked(v.mapInArrow(kernel, out_schema), qids, k)


def _kmeans_fit(train: np.ndarray, n_lists: int, n_iter: int, seed: int) -> np.ndarray:
    """Driver-side Lloyd's k-means on a (deterministic) training sample.

    The coarse quantizer of an IVF index needs only a representative sample — the
    classic FAISS recipe trains on ~max(10k, 50*n_lists) vectors regardless of N.
    Pure numpy: (n, d) x (k, d) distance via the ||a-b||^2 expansion, argmin assign,
    mean update; empty clusters re-seeded deterministically from the farthest points.
    """
    rng = np.random.default_rng(seed)
    n = len(train)
    cents = train[rng.choice(n, size=min(n_lists, n), replace=False)].copy()
    for _ in range(n_iter):
        d2 = _sq_dists(train, cents)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = train[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
            else:  # re-seed empty list from the point farthest from its centroid
                cents[c] = train[d2.min(axis=1).argmax()]
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    n_train: int = 10_000,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the clustered counterpart to sign-LSH.

    Index: a coarse k-means quantizer (trained driver-side on a DETERMINISTIC sample
    — every ~N/n_train-th vector by a hash of its id, so the index is reproducible)
    partitions vectors into ``n_lists`` inverted lists; each query probes its
    ``n_probe`` nearest lists and exactly re-ranks only those lists' members.

    Physical plan: ONE scan of the vector table — the Arrow kernel assigns each
    batch to lists with a numpy argmin AND computes the exact cosine to every query
    probing that list in the same pass (broadcast centroid + query matrices), then
    emits only per-(query, batch) tie-safe top-k rows.  Zero shuffle of the vector
    table, no candidate materialization at all — strictly less traffic than the LSH
    bucket join.  Recall ~ n_probe/n_lists-tunable, exact when n_probe == n_lists.
    """
    spark = vectors.sparkSession
    qids, qmat, qnorm = _query_side(queries, query_id_col, vec_col)
    if len(qids) == 0:
        return _empty_topk(vectors, queries, id_col, query_id_col)
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    train, _ = _training_sample(v, n_train)
    if len(train) == 0:
        return _empty_topk(vectors, queries, id_col, query_id_col)
    cents = _kmeans_fit(train, n_lists, n_iter, seed)

    # per-query probe lists: n_probe nearest centroids by cosine
    cnorm = _norms(cents)
    qc = (qmat @ cents.T) / np.maximum(qnorm[:, None] * cnorm[None, :], 1e-300)
    probe = np.argsort(-qc, axis=1)[:, :n_probe]  # (Q, n_probe)
    # invert: list -> array of query indices probing it
    probing = {c: np.nonzero((probe == c).any(axis=1))[0] for c in range(len(cents))}
    bc = spark.sparkContext.broadcast((cents, qmat, qnorm, probing))
    defer(bc.unpersist)

    pid_type = dict(v.dtypes)["vec_id"]
    out_schema = f"vec_id {pid_type}, _qidx int, cosine double"

    def kernel(it):
        import pyarrow as pa

        cen, qm, qn, prob = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            vm = _list_to_matrix(batch.column("_v"))
            assign = _sq_dists(vm, cen).argmin(axis=1)
            vnorm = _norms(vm)
            rows_out, qidx_out, cos_out = [], [], []
            for c in np.unique(assign):
                qs = prob.get(int(c))
                if qs is None or len(qs) == 0:
                    continue
                members = np.nonzero(assign == c)[0]
                cos = _ratio(
                    vm[members] @ qm[qs].T, vnorm[members, None] * qn[qs][None, :]
                )
                mi, qj = _batch_topk(cos, k)
                rows_out.append(members[mi])
                qidx_out.append(qs[qj])
                cos_out.append(cos[mi, qj])
            if not rows_out:
                continue
            rows = np.concatenate(rows_out)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(pa.array(rows)),
                    pa.array(np.concatenate(qidx_out).astype(np.int32)),
                    pa.array(np.concatenate(cos_out)),
                ],
                ["vec_id", "_qidx", "cosine"],
            )

    return _ranked(v.mapInArrow(kernel, out_schema), qids, k)


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def _signatures_np(mat: np.ndarray, planes: np.ndarray, n_bits: int) -> np.ndarray:
    """(n, dim) x (n_tables*n_bits, dim) -> (n, n_tables) int64 signatures.

    Bit i of table t is sign(v . plane[t*n_bits + i]) — the same >0 rule for every
    row on both the vector and query sides, so bucket keys agree.
    """
    bits = (mat @ planes.T) > 0  # (n, n_tables*n_bits)
    n_tables = planes.shape[0] // n_bits
    weights = (1 << np.arange(n_bits, dtype=np.int64))
    return bits.reshape(len(mat), n_tables, n_bits) @ weights  # (n, n_tables)


def _signature_scan(
    v: DataFrame, dim: int, n_bits: int, n_tables: int, seed: int
) -> tuple[DataFrame, np.ndarray]:
    """ONE scan of (vec_id, _v) -> ((vec_id, _table, _sig) frame, stacked planes).

    Each batch is matmul'd once against the stacked (n_tables*n_bits, dim)
    hyperplane matrix (table t seeded ``seed + t``), emitting every table's
    signature; n separate scans would pay the scan n_tables times.
    """
    planes = np.concatenate(
        [np.asarray(_hyperplanes(dim, n_bits, seed + t)) for t in range(n_tables)]
    )
    bc_planes = v.sparkSession.sparkContext.broadcast(planes)
    defer(bc_planes.unpersist)
    vid_type = dict(v.dtypes)["vec_id"]

    def sig_kernel(it):
        import pyarrow as pa

        pl = bc_planes.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            vm = _list_to_matrix(batch.column("_v"))
            sigs = _signatures_np(vm, pl, n_bits)  # (n, n_tables)
            idx = np.repeat(np.arange(n, dtype=np.int64), n_tables)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(pa.array(idx)),
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
                    pa.array(sigs.reshape(-1)),
                ],
                ["vec_id", "_table", "_sig"],
            )

    frame = v.mapInArrow(sig_kernel, f"vec_id {vid_type}, _table int, _sig long")
    return frame, planes


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 16,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join across ``n_tables`` independent
    hyperplane tables, exact cosine re-rank over the union of candidates.

    Recall grows with n_tables; candidates per query ~ N / 2^n_bits per table.

    Physical plan: ONE :func:`_signature_scan` of the vector table emits
    (vec_id, table, sig) rows for all tables; query signatures are computed
    driver-side (queries are tiny) and broadcast; the candidate set is re-ranked
    by one exact-cosine kernel pass restricted to candidates.
    """
    spark = vectors.sparkSession
    qids, qmat, qnorm = _query_side(queries, query_id_col, vec_col)
    if len(qids) == 0:
        return _empty_topk(vectors, queries, id_col, query_id_col)
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    pid_type = dict(v.dtypes)["vec_id"]
    v_sig, planes = _signature_scan(v, qmat.shape[1], n_bits, n_tables, seed)

    q_sigs = _signatures_np(qmat, planes, n_bits)  # (Q, n_tables)
    q_sig_rows = [
        (int(i), int(t), int(q_sigs[i, t]))
        for i in range(len(qids))
        for t in range(n_tables)
    ]
    q_sig_df = spark.createDataFrame(q_sig_rows, "_qidx int, _table int, _sig long")

    cand = (
        v_sig.join(F.broadcast(q_sig_df), ["_table", "_sig"], "inner")
        .select("_qidx", "vec_id")
        .dropDuplicates(["_qidx", "vec_id"])
    )

    # exact re-rank restricted to candidates: re-attach vectors by BROADCASTING the
    # candidate set (bounded by |queries| * n_tables * N/2^n_bits — small by design)
    # so the big vector table streams map-side and never shuffles
    bc_q = spark.sparkContext.broadcast((qmat, qnorm))
    defer(bc_q.unpersist)
    cand_v = v.join(F.broadcast(cand), "vec_id", "inner")

    def rerank_kernel(it):
        import pyarrow as pa

        qm, qn = bc_q.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            vm = _list_to_matrix(batch.column("_v"))
            qi = batch.column("_qidx").to_numpy(zero_copy_only=False)
            cos = _ratio(np.einsum("ij,ij->i", vm, qm[qi]), _norms(vm) * qn[qi])
            # drop non-finite cosines (inf-component vectors) before the rank
            # window — Spark sorts NaN above all doubles DESC
            ok = np.isfinite(cos)
            sel = pa.array(ok)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").filter(sel),
                    batch.column("_qidx").filter(sel),
                    pa.array(cos[ok]),
                ],
                ["vec_id", "_qidx", "cosine"],
            )

    scored = cand_v.mapInArrow(
        rerank_kernel, f"vec_id {pid_type}, _qidx int, cosine double"
    )
    return _ranked(scored, qids, k)


def cosine_lsh_recall(threshold: float, n_bits: int, n_tables: int) -> float:
    """Analytic recall of banded multi-table sign-LSH at a cosine threshold:
    a pair at angle theta has per-bit agreement 1 - theta/pi, per-table match
    probability (1 - theta/pi)^n_bits, and is a candidate if ANY table matches.
    Pairs ABOVE the threshold have higher recall (monotone in cosine)."""
    import math

    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    return 1.0 - (1.0 - p_bit ** n_bits) ** n_tables


def cosine_near_dups(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_tables: int = 16,
    seed: int = 42,
    bucket_cap: int = 100_000,
) -> DataFrame:
    """Embedding near-dup pairs: (id_a, id_b, cosine) with cosine >= threshold —
    banded multi-table sign-LSH candidates + exact cosine verify, never N^2.

    Physical shape: ONE :func:`_signature_scan` emits every table's signature;
    candidates are pairs sharing any (table, signature) bucket (self-equi-join
    on the bucket key — over-cap buckets are split out and re-keyed on PAIRS of
    the row's over-cap buckets, the same boilerplate defense as minhash
    banding); the exact verify re-attaches vectors with two candidate-bounded
    equi-joins and filters cosine >= threshold in a vectorized kernel.

    Contract: PRECISION is exact (every returned pair truly has cosine >=
    threshold).  RECALL is probabilistic and analytic —
    :func:`cosine_lsh_recall`(threshold, n_bits, n_tables); the defaults give
    0.97 at t=0.95 and 0.9995 at t=0.99, the regime embedding dedup runs at
    (SemDeDup-style pipelines use 0.95+).  Random-pair candidate rate is
    ~n_tables/2^n_bits (2.4e-4 at the defaults: ~1.2e8 candidates per 10^12
    pairs), so candidate volume stays linear-ish in N for near-orthogonal
    corpora.  For LOOSE thresholds (t < ~0.9) sign-LSH separation degrades —
    raise n_tables (recall) or n_bits (cost), or block by IVF list
    (:func:`ivf_topk`'s quantizer) instead.
    """
    if not (-1.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (-1, 1]")
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    vid_type = dict(v.dtypes)["vec_id"]
    first = v.limit(1).collect()
    if not first:
        return _empty_pairs(v.sparkSession, vid_type)
    banded, _ = _signature_scan(v, len(first[0]["_v"]), n_bits, n_tables, seed)
    # hot-bucket handling is the shared adaptive machinery (see dedup.py
    # _capped_self_pairs): empty over-cap list -> plain bucket self-join only
    pairs, _ = _capped_self_pairs(banded, ["_table", "_sig"], "vec_id", [], bucket_cap)
    cands = pairs.dropDuplicates(["id_a", "id_b"])
    return _verify_cosine_pairs(v, cands, threshold, vid_type)


def _empty_pairs(spark, vid_type: str) -> DataFrame:
    return spark.createDataFrame([], f"id_a {vid_type}, id_b {vid_type}, cosine double")


def _training_sample(v: DataFrame, n_train: int) -> tuple[np.ndarray, int]:
    """Deterministic hash-spaced quantizer-training sample over (vec_id, _v) —
    every ~N/n_train-th vector by id hash, independent of partition layout
    (the quantizer sample of ivf_topk and ivf_near_dups).  Rows are sorted by id AFTER
    collection: k-means init indexes into this matrix, so the ROW ORDER must be
    partition-independent too, not just the row multiset (collect order follows
    task completion order on a multi-file scan).  Returns (sample, n_total) —
    the already-paid total count is free information callers reuse (e.g. the
    no-hot-list-possible proof in ivf_near_dups)."""
    n_total = v.count()
    if n_total == 0:
        return np.empty((0, 0)), 0
    every = max(1, n_total // n_train)
    rows = v.filter(F.pmod(F.xxhash64("vec_id"), F.lit(every)) == 0).collect()
    rows.sort(key=lambda r: r["vec_id"])
    return np.asarray([list(r["_v"]) for r in rows], dtype=np.float64), n_total


def _verify_cosine_pairs(
    v: DataFrame, cands: DataFrame, threshold: float, vid_type: str
) -> DataFrame:
    """Exact verify shared by the LSH- and IVF-blocked near-dup operators:
    re-attach both vectors with candidate-bounded equi-joins, compute cosine in a
    vectorized kernel, keep finite cosines >= threshold (exact precision)."""
    ea = v.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"))
    eb = v.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"))
    # merge hint on the second attach: Catalyst sizes the (cands x vectors)
    # intermediate from the pair list and would statically broadcast it — but
    # it carries a full vector per row and blows the 8 GiB broadcast limit at
    # corpus scale (same trap as dedup.jaccard_pairs, measured there).  The
    # FIRST join is left to Catalyst: broadcasting the bare pair list is
    # correct whenever it fits (measured good at 1M vectors).
    paired = cands.join(ea, "id_a").hint("merge").join(eb, "id_b")

    def verify_kernel(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            va = _list_to_matrix(batch.column("_va"))
            vb = _list_to_matrix(batch.column("_vb"))
            cos = _ratio(np.einsum("ij,ij->i", va, vb), _norms(va) * _norms(vb))
            keep = np.isfinite(cos) & (cos >= threshold)
            sel = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id_a").filter(sel),
                    batch.column("id_b").filter(sel),
                    pa.array(cos[keep]),
                ],
                ["id_a", "id_b", "cosine"],
            )

    return paired.mapInArrow(
        verify_kernel, f"id_a {vid_type}, id_b {vid_type}, cosine double"
    )


def ivf_near_dups(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 256,
    n_probe: int = 2,
    train_size: int = 20_000,
    n_iter: int = 10,
    seed: int = 42,
    bucket_cap: int = 200_000,
) -> DataFrame:
    """Cluster-blocked embedding near-dups (the SemDeDup shape): pairs are
    compared only within shared IVF lists — the right blocking for LOOSE
    thresholds (t < ~0.9) where sign-LSH separation degrades.

    Pipeline: driver-side k-means on a deterministic hash-spaced sample (the
    same quantizer recipe as :func:`ivf_topk`); ONE Arrow scan assigns every
    vector to its ``n_probe`` nearest lists; candidates are pairs sharing any
    list (self-equi-join on list id, with the over-cap bucket split for
    degenerate clusters); exact cosine verify on candidates.

    Contract: precision exact.  Recall is blocking-limited — for UNDER-cap lists
    a pair is found iff the two vectors share one of their n_probe nearest lists
    (tiny angles virtually always do — they quantize identically — and
    ``n_probe > 1`` catches Voronoi-boundary pairs).  Lists over ``bucket_cap``
    take the pair-key escape hatch, which keeps only pairs sharing >= 2 over-cap
    lists: pairs whose ONLY shared list is over-cap are dropped (the same
    documented cap contract as minhash banding).  A mega-duplicate cluster that
    overflows a list should be collapsed by EXACT dedup upstream (byte-identical
    copies) or met with a larger ``bucket_cap``/``n_lists``.  Candidate volume
    ~ sum over lists of |list|^2 — bound it by sizing n_lists so
    E|list| = n_probe*N/n_lists stays ~10^4-10^5 at your N.
    """
    if not (-1.0 < threshold <= 1.0):  # NaN fails the chain -> rejected too
        raise ValueError("threshold must be in (-1, 1]")
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    vid_type = dict(v.dtypes)["vec_id"]
    train, n_total = _training_sample(v, train_size)
    if len(train) == 0:
        return _empty_pairs(spark, vid_type)
    cents = _kmeans_fit(train, n_lists, n_iter, seed)
    n_probe = min(n_probe, len(cents))
    bc = spark.sparkContext.broadcast((cents, n_probe))
    defer(bc.unpersist)

    def assign_kernel(it):
        import pyarrow as pa

        cen, p = bc.value
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            vm = _list_to_matrix(batch.column("_v"))
            d2 = _sq_dists(vm, cen)
            lists = np.argpartition(d2, p - 1, axis=1)[:, :p].astype(np.int32)
            idx = np.repeat(np.arange(n, dtype=np.int64), p)
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id").take(pa.array(idx)),
                 pa.array(lists.reshape(-1))],
                ["vec_id", "_list"],
            )

    assigned = v.mapInArrow(assign_kernel, f"vec_id {vid_type}, _list int")
    # over-cap lists re-key on PAIRS of the row's over-cap lists via the shared
    # adaptive machinery (dedup.py _capped_self_pairs); the pair-key escape hatch
    # needs n_probe >= 2 to fire — with one probe an over-cap list's pairs are
    # silently dropped, so WARN loudly in that configuration (n_hot is known
    # because the adaptive split collects the over-cap list at build time)
    pairs, n_hot = _capped_self_pairs(
        assigned, ["_list"], "vec_id", [], bucket_cap, n_ids=n_total
    )
    if n_probe == 1 and (n_hot is None or n_hot > 0):
        import warnings

        warnings.warn(
            f"ivf_near_dups: {n_hot if n_hot is not None else 'many'} "
            f"IVF list(s) exceed bucket_cap={bucket_cap} but n_probe=1 — ALL "
            "pairs whose only shared list is over-cap are dropped (the pair-key "
            "escape hatch needs n_probe >= 2). Raise n_probe, n_lists, or "
            "bucket_cap, or collapse the mega-cluster with exact dedup first.",
            RuntimeWarning,
            stacklevel=2,
        )
    cands = pairs.dropDuplicates(["id_a", "id_b"])
    return _verify_cosine_pairs(v, cands, threshold, vid_type)
