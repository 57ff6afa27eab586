"""Dedup / text / similarity operators vs numpy-pandas oracles on testdata documents."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geojson_utility_spark.operators import dedup as D
from geojson_utility_spark.operators import similarity as S
from geojson_utility_spark.operators import textops as TX
from geojson_utility_spark.session import release_deferred


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


def _shingle_tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.name.startswith("gjus_shingles_")}


def _py_shingles(text, n=8):
    import re

    norm = re.sub(r"\s+", " ", text.lower())
    if len(norm) < n:
        return {norm[:n]}
    return {norm[i : i + n] for i in range(len(norm) - n + 1)}


def test_dedup_exact(spark, docs, docs_pd):
    dup = docs.union(docs.limit(20))  # inject exact dups
    kept = D.dedup_exact(dup, "text", "doc_id")
    # winners: min doc_id per distinct text
    want = docs_pd.groupby("text")["doc_id"].min().sort_values()
    got = kept.select("doc_id").toPandas()["doc_id"].sort_values()
    np.testing.assert_array_equal(got.to_numpy(), want.to_numpy())


def test_minhash_near_dups_finds_planted_pair(spark, docs):
    # plant a near-duplicate of doc 0
    row = docs.filter(F.col("doc_id") == docs.select(F.min("doc_id")).first()[0]).first()
    near = row["text"] + " extra tail words"
    plus = docs.unionByName(
        docs.sparkSession.createDataFrame(
            [(999999, near, row["lang"], row["source"], len(near))],
            docs.columns,
        )
    )
    pairs = D.minhash_near_dups(plus, "text", "doc_id", threshold=0.6).toPandas()
    assert ((pairs["doc_a"] == row["doc_id"]) & (pairs["doc_b"] == 999999)).any()
    # verified jaccard really is over threshold (select THE planted pair — the
    # corpus itself contains genuine near-dups of doc 0 that also pair with 999999)
    j = pairs.loc[
        (pairs["doc_a"] == row["doc_id"]) & (pairs["doc_b"] == 999999), "jaccard"
    ].iloc[0]
    a, b = _py_shingles(row["text"]), _py_shingles(near)
    want_j = len(a & b) / len(a | b)
    assert abs(j - want_j) < 1e-9


def test_jaccard_matches_python_oracle(spark, docs, docs_pd):
    ids = sorted(docs_pd["doc_id"].iloc[:6])
    pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    pairs_df = spark.createDataFrame(pd.DataFrame(pairs, columns=["doc_a", "doc_b"]))
    got = D.jaccard_pairs(docs, "text", "doc_id", pairs_df).toPandas()
    texts = docs_pd.set_index("doc_id")["text"]
    for r in got.itertuples():
        a, b = _py_shingles(texts[r.doc_a]), _py_shingles(texts[r.doc_b])
        assert abs(r.jaccard - len(a & b) / len(a | b)) < 1e-9


def test_simhash_properties(spark, docs):
    sims = D.simhash64(docs.limit(50), "text", "doc_id").toPandas()
    assert sims["simhash"].nunique() > 40  # distinct docs -> distinct-ish hashes
    # identical text -> identical simhash; near text -> small hamming
    first = docs.first()
    two = spark.createDataFrame(
        [(1, first["text"]), (2, first["text"] + " tail")], ["doc_id", "text"]
    )
    hs = D.simhash64(two, "text", "doc_id").toPandas().set_index("doc_id")["simhash"]
    d = bin(int(hs[1]) ^ int(hs[2])).count("1")
    assert d <= 10


def test_simhash_near_dups_planted(spark, docs):
    first = docs.first()
    plus = docs.unionByName(
        docs.sparkSession.createDataFrame(
            [(888888, first["text"] + " x", first["lang"], first["source"], 1)],
            docs.columns,
        )
    )
    sims = D.simhash64(plus, "text", "doc_id")
    pairs = D.hamming_pairs(sims, "doc_id", "simhash", 10).toPandas()
    assert ((pairs["id_b"] == 888888) | (pairs["id_a"] == 888888)).any()


def test_token_counts(spark, docs, docs_pd):
    got = docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("ws"),
        TX.token_count_bpe(F.col("text")).alias("bpe"),
    ).toPandas().set_index("doc_id")
    import re

    for doc_id, text in docs_pd.set_index("doc_id")["text"].items():
        assert got.loc[doc_id, "ws"] == len(text.split())
        assert got.loc[doc_id, "bpe"] == len(
            re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", text)
        )


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat and the dog went to the house that was in the garden"),
        (2, "der Hund und die Katze sind nicht mit der Maus für das Haus"),
        (3, "le chat et les chiens est pour dans la maison que une porte"),
        (4, "xyzzy plugh 12345 9999"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select("doc_id", TX.lang_id(F.col("text")).alias("lang")).toPandas()
    assert out.set_index("doc_id")["lang"].to_dict() == {1: "en", 2: "de", 3: "fr", 4: "und"}
    q = TX.quality_features(df, "text").toPandas().set_index("doc_id")
    assert q.loc[1, "quality_score"] > q.loc[4, "quality_score"]
    assert q.loc[1, "stopword_ratio"] > 0.3


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    fp = df.select("doc_id", TX.fingerprint(F.col("text")).alias("fp")).toPandas()
    assert fp["fp"][0] == fp["fp"][1]
    assert fp["fp"][0] != fp["fp"][2]


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_topk_matches_numpy(spark, embeddings):
    emb_pd = embeddings.toPandas()
    mat = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = emb_pd["vec_id"].to_numpy()
    queries = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.cosine_topk(embeddings, queries, k=4).toPandas()
    norms = np.linalg.norm(mat, axis=1)
    for qid in got["query_id"].unique():
        qv = mat[ids == qid][0]
        cos = mat @ qv / (norms * np.linalg.norm(qv))
        order = sorted(zip(-cos, ids))  # desc cosine, asc id tiebreak
        want_ids = [int(i) for _, i in order[:4]]
        got_ids = got[got["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        assert got_ids == want_ids


def test_lsh_topk_recall(spark, embeddings):
    queries = embeddings.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = S.cosine_topk(embeddings, queries, k=3).toPandas()
    approx = S.lsh_topk(embeddings, queries, k=3, n_bits=4, n_tables=8).toPandas()
    # rank-1 self-match must always be found (identical vector, same bucket)
    self_hits = approx[(approx["rank"] == 1)]
    assert set(self_hits["query_id"]) == set(exact["query_id"])
    for r in self_hits.itertuples():
        assert r.vec_id == r.query_id
    # overall recall against exact top-3 should be decent
    e_pairs = set(zip(exact["query_id"], exact["vec_id"]))
    a_pairs = set(zip(approx["query_id"], approx["vec_id"]))
    assert len(e_pairs & a_pairs) / len(e_pairs) >= 0.5


def test_hamming_pairs_exact_vs_bruteforce(spark):
    """Guaranteed recall: chunk-LSH output == brute-force for random 64-bit hashes."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2**63), 2**63, size=120, dtype=np.int64)
    # plant pairs at EXACTLY max_distance and at max_distance+1 (must be excluded)
    d = 5
    m5 = np.uint64((1 << 3) | (1 << 17) | (1 << 33) | (1 << 48) | (1 << 63)).astype(np.int64)
    m6 = np.uint64((1 << 1) | (1 << 2) | (1 << 3) | (1 << 40) | (1 << 50) | (1 << 60)).astype(np.int64)
    hashes[1] = hashes[0] ^ m5
    hashes[3] = hashes[2] ^ m6
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], "id int, h long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.hamming_pairs(df, "id", "h", max_distance=d).collect()
    }
    want = set()
    for i, j in itertools.combinations(range(len(hashes)), 2):
        ham = int(bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1"))
        if ham <= d:
            want.add((i, j, ham))
    assert got == want
    assert (0, 1, 5) in got          # planted pair at exactly max_distance found
    assert all(p[:2] != (2, 3) for p in got)  # distance 6 pair excluded


def test_hamming_pairs_hot_bucket(spark):
    """A degenerate corpus (every hash shares chunk 0) must not blow up the band
    self-join: hot rows route through the chunk-pair path and recall still holds."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 400
    # constant low byte -> with bucket_cap < n the (chunk 0) bucket is hot for all rows
    hashes = (rng.integers(0, 2**55, size=n, dtype=np.int64) << 8) | 0x5A
    d = 4
    hashes[1] = hashes[0] ^ ((1 << 9) | (1 << 23) | (1 << 37) | (1 << 51))
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], "id int, h long"
    )
    pairs = D.hamming_pairs(
        df, "id", "h", max_distance=d, bucket_cap=50
    ).toPandas()
    assert ((pairs["id_a"] == 0) & (pairs["id_b"] == 1) & (pairs["hamming"] == 4)).any()
    # exact: compare against brute force
    import itertools

    want = {
        (i, j)
        for i, j in itertools.combinations(range(n), 2)
        if bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1") <= d
    }
    assert set(map(tuple, pairs[["id_a", "id_b"]].values)) == want


def test_hamming_pairs_guarantee_enforced(spark):
    df = spark.createDataFrame([(1, 5)], "id int, h long")
    with pytest.raises(ValueError):
        D.hamming_pairs(df, "id", "h", max_distance=6, n_chunks=6)


def test_ngram_jaccard_exact_matches_numpy(spark, docs):
    """Exact inverted-index jaccard == per-pair set jaccard on a sample."""
    sample = docs.limit(40).toPandas()

    def shingles(t):
        import re

        norm = re.sub(r"\s+", " ", t.lower())
        return {norm[i : i + 8] for i in range(max(len(norm) - 7, 1))}

    sets = {r.doc_id: shingles(r.text) for r in sample.itertuples()}
    got = D.ngram_jaccard_pairs_exact(
        spark.createDataFrame(sample), "text", "doc_id", threshold=0.4
    ).toPandas()
    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.4:
            want[(a, b)] = j
    assert {tuple(r[:2]): r[2] for r in got[["doc_a", "doc_b", "jaccard"]].values} == pytest.approx(want)


def test_ivf_topk_recall_and_exactness(spark, embeddings):
    """IVF ANN: probing all lists == exact brute force; partial probe has high recall."""
    from pyspark.sql import functions as F

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(embeddings, queries, k=3).toPandas()
    full = S.ivf_topk(embeddings, queries, k=3, n_lists=8, n_probe=8).toPandas()
    key = lambda df: {(r.query_id, r.knn) if False else (r.query_id, r.rank): r.vec_id
                      for r in df.itertuples()}
    assert key(full) == key(exact)  # n_probe == n_lists -> exact
    approx = S.ivf_topk(embeddings, queries, k=3, n_lists=8, n_probe=3).toPandas()
    ex_pairs = set(map(tuple, exact[["query_id", "vec_id"]].values))
    ap_pairs = set(map(tuple, approx[["query_id", "vec_id"]].values))
    assert len(ex_pairs & ap_pairs) >= int(0.6 * len(ex_pairs))
    # plan: vector table never shuffles (kernel emits final candidates from the scan)
    plan = (
        S.ivf_topk(embeddings, queries, k=3, n_lists=8, n_probe=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan


def test_hamming_pairs_probed_matches_exact(spark):
    """Wide-chunk 1-bit-probe variant == brute force for d <= 2c-1."""
    import itertools

    import numpy as np

    rng = np.random.default_rng(19)
    hashes = rng.integers(-(2**63), 2**63, size=150, dtype=np.int64)
    d = 4
    m = np.uint64((1 << 2) | (1 << 21) | (1 << 43) | (1 << 63)).astype(np.int64)
    hashes[1] = hashes[0] ^ m  # planted at exactly d=4, spread across chunks
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], "id int, h long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.hamming_pairs_probed(df, "id", "h", max_distance=d, n_chunks=3).collect()
    }
    want = {
        (i, j, bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1"))
        for i, j in itertools.combinations(range(len(hashes)), 2)
        if bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1") <= d
    }
    assert got == want and (0, 1, 4) in got
    with pytest.raises(ValueError):
        D.hamming_pairs_probed(df, "id", "h", max_distance=6, n_chunks=3)


def test_cosine_topk_nan_batch_not_poisoned(spark, embeddings):
    """>= k NaN embeddings in one batch must not drop the batch's valid rows."""
    import numpy as np
    from pyspark.sql import functions as F

    base = embeddings.select("vec_id", "embedding").limit(20)
    nan_vec = [float("nan")] * 64
    bad = spark.createDataFrame(
        [(900000 + i, nan_vec) for i in range(6)], "vec_id long, embedding array<float>"
    )
    mixed = base.unionByName(bad).coalesce(1)  # one batch holds NaNs + valid rows
    queries = base.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    got = (
        __import__("geojson_utility_spark.operators.similarity", fromlist=["cosine_topk"])
        .cosine_topk(mixed, queries, k=3)
        .toPandas()
    )
    # rank-1 must be the self-match, and no result row is a NaN vector
    for qid, grp in got.groupby("query_id"):
        assert grp.sort_values("rank")["vec_id"].iloc[0] == qid
        assert (grp["vec_id"] < 900000).all()


def test_batch_topk_tie_safe_finite_mask():
    """The per-batch top-k mask behind cosine_topk and ivf_topk's per-list path:
    per column it keeps every finite cosine >= the column's k-th largest finite
    value (all of them when n <= k or fewer than k are finite), nothing below
    it, and never a NaN or +-inf."""
    rng = np.random.default_rng(5)
    k = 4
    tied = np.array([[0.5], [0.5], [0.9], [0.5], [0.5], [0.1]])
    rows, _ = S._batch_topk(tied, 2)
    assert sorted(rows.tolist()) == [0, 1, 2, 3, 4]  # every tie at the k-th kept
    for n in (1, 3, 4, 5, 9, 40):
        for _ in range(25):
            cos = np.round(rng.uniform(-1, 1, (n, 6)), 1)  # 21 values: many ties
            bad = rng.random(cos.shape) < 0.2
            cos[bad] = rng.choice([np.nan, np.inf, -np.inf], bad.sum())
            rows, cols = S._batch_topk(cos, k)
            kept = np.zeros(cos.shape, dtype=bool)
            kept[rows, cols] = True
            finite = np.isfinite(cos)
            assert not (kept & ~finite).any()
            for j in range(cos.shape[1]):
                vals = np.sort(cos[finite[:, j], j])
                kth = vals[-k] if n > k and len(vals) >= k else -np.inf
                want = finite[:, j] & (np.where(finite[:, j], cos[:, j], 0) >= kth)
                assert (kept[:, j] == want).all(), (n, j, cos[:, j], kept[:, j])


def test_cosine_topk_inf_rows_partition_independent(spark, embeddings):
    """Vectors with inf components (dot=NaN, denom=inf>0) are excluded from top-k
    regardless of Arrow batch/partition layout (ADVICE r2: the n<=k branch used
    to pass them through and Spark ranks NaN first DESC)."""
    from pyspark.sql import functions as F

    from geojson_utility_spark.operators.similarity import cosine_topk

    base = embeddings.select("vec_id", "embedding").limit(2)  # n <= k branch
    inf_vec = [float("inf")] * 64
    bad = spark.createDataFrame(
        [(910000, inf_vec)], "vec_id long, embedding array<float>"
    )
    queries = base.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    for layout in (lambda d: d.coalesce(1), lambda d: d.repartition(4)):
        got = cosine_topk(layout(base.unionByName(bad)), queries, k=3).toPandas()
        assert (got["vec_id"] != 910000).all()
        assert got["cosine"].notna().all()


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """A boilerplate band bucket (2000 docs sharing band 0) must not explode into
    |bucket|^2 candidates; pairs sharing a second band survive the cap."""
    n_docs = 2000
    rows = []
    for i in range(n_docs):
        # band 0 (sig[0:2]) identical across the corpus; other bands unique
        rows.append((i, [1, 1, 100 + 10 * i, 1, 200 + 10 * i, 1, 300 + 10 * i, 1]))
    # planted pair sharing bands 0 (hot) AND 1 -> must survive via the small path
    rows.append((90000, [1, 1, 7, 7, 555001, 1, 555002, 1]))
    rows.append((90001, [1, 1, 7, 7, 555003, 1, 555004, 1]))
    # planted pair whose ONLY shared band is the hot one -> documented drop
    rows.append((91000, [1, 1, 666001, 1, 666002, 1, 666003, 1]))
    rows.append((91001, [1, 1, 666004, 1, 666005, 1, 666006, 1]))
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    capped = D.minhash_candidate_pairs(sigs, n_bands=4, bucket_cap=100).toPandas()
    got = set(map(tuple, capped[["doc_a", "doc_b"]].values))
    assert (90000, 90001) in got
    assert (91000, 91001) not in got  # only-hot-band pair: documented recall contract
    # bounded: nowhere near the ~2M uncapped pairs of the hot bucket
    assert len(got) < 50
    # uncapped mode keeps the complete LSH candidate set
    sub = spark.createDataFrame(rows[:50] + rows[-4:], "doc_id long, sig array<bigint>")
    full = D.minhash_candidate_pairs(sub, n_bands=4, bucket_cap=None).toPandas()
    fullset = set(map(tuple, full[["doc_a", "doc_b"]].values))
    assert (91000, 91001) in fullset and len(fullset) == 54 * 53 // 2


def test_minhash_near_dups_unchanged_by_cap(spark, docs):
    """bucket_cap defaults must not change results on a normal corpus."""
    base = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).toPandas()
    uncapped = D.minhash_near_dups(
        docs, "text", "doc_id", threshold=0.5, bucket_cap=None
    ).toPandas()
    b = set(map(tuple, base[["doc_a", "doc_b"]].values))
    u = set(map(tuple, uncapped[["doc_a", "doc_b"]].values))
    assert b == u and len(b) > 0


def test_minhash_near_dups_unchanged_by_sig_prefilter(spark, docs):
    """The r7 signature-agreement prefilter must not change results on a normal
    corpus (its cut sits an order of magnitude below true-pair agreement)."""
    base = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).toPandas()
    unfiltered = D.minhash_near_dups(
        docs, "text", "doc_id", threshold=0.5, sig_prefilter_margin=None
    ).toPandas()
    b = set(map(tuple, base[["doc_a", "doc_b"]].values))
    u = set(map(tuple, unfiltered[["doc_a", "doc_b"]].values))
    assert b == u and len(b) > 0
    # 'auto' and None are the only modes; anything else fails before any job
    sc = spark.sparkContext
    sc.setJobGroup("bad_prefilter_mode", "must launch no job")
    try:
        with pytest.raises(ValueError, match="sig_prefilter_margin"):
            D.minhash_near_dups(
                docs, "text", "doc_id", threshold=0.5, sig_prefilter_margin=0.125
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("bad_prefilter_mode")


def test_sig_prefilter_cut_loss_bound():
    """The prefilter cut is the LARGEST whose Binomial miss at the threshold
    stays within banding's own miss there (32 hashes, 8 bands of 4 rows)."""
    import math

    n, bands = 32, 8
    assert D._sig_prefilter_cut(0.5, n, bands) == 17
    assert D._sig_prefilter_cut(0.8, n, bands) == 20

    def tail(t, c):  # P[Bin(n, t) <= c]
        return sum(math.comb(n, k) * t**k * (1 - t) ** (n - k) for k in range(c + 1))

    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        cut = D._sig_prefilter_cut(t, n, bands)
        miss_band = (1 - t**4) ** bands
        assert tail(t, cut - 1) <= miss_band, t
        assert tail(t, cut) > miss_band, t


def test_minhash_near_dups_auto_store_matches_explicit(spark, docs, monkeypatch):
    """The verify plan follows the counted candidate volume: the small
    persisted plan at the default cutover, the bucketed one when the cutover
    (read at call time) is 0 — identical pair sets, and only the second
    registers a bucketed table."""
    release_deferred()
    small = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).toPandas()
    assert not _shingle_tables(spark)
    monkeypatch.setattr(D, "_SMALL_CANDS_MAX", 0)
    large = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).toPandas()
    assert _shingle_tables(spark)
    release_deferred()
    assert not _shingle_tables(spark)
    a = set(map(tuple, small[["doc_a", "doc_b"]].values))
    assert a == set(map(tuple, large[["doc_a", "doc_b"]].values))
    assert len(a) > 0


def test_prefix_candidates_hh_top_m_guard(spark, docs):
    """hh_top_m above the broadcast-safety cap must refuse loudly (ADVICE r6:
    the top-M list is collected toward the driver and force-broadcast)."""
    sh = docs.select(F.col("doc_id"), F.explode(F.array(F.lit("x"))).alias("shingle"))
    with pytest.raises(ValueError, match="broadcast-safety cap"):
        D._prefix_candidates(sh, 0.8, doc_freq="sampled", hh_top_m=10_000_001)


def test_ngram_prefix_filter_bounds_stop_shingle_blowup(spark):
    """Every doc shares one stop-shingle; prefix filtering must keep the candidate
    volume near-linear instead of n^2/2, while staying exact."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    stop = "zzcommonz"  # > shingle_n=8 chars so it yields a shared 8-gram
    n = 300
    texts = []
    for i in range(n):
        body = "".join(rng.choice(list("abcdefghijklmnop"), size=64))
        texts.append((i, body + stop))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    t = 0.5
    # candidate volume: reconstruct the internal frames the operator uses
    norm = df.select(
        "doc_id", F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("_norm")
    )
    sh = (
        norm.select(
            "doc_id", "_norm",
            F.explode(F.sequence(F.lit(1), F.greatest(F.length("_norm") - 7, F.lit(1)))).alias("_i"),
        )
        .select("doc_id", F.substring(F.col("_norm"), F.col("_i"), F.lit(8)).alias("shingle"))
        .distinct()
    )
    n_cand = D._prefix_candidates(sh, t).count()
    assert n_cand < n * 8, f"prefix filter failed to prune: {n_cand} candidates"
    # exactness on a corpus with planted near-dups + the stop shingle
    texts2 = [(i, t2) for i, t2 in texts[:60]]
    texts2.append((70000, texts[0][1]))  # exact dup of doc 0
    texts2.append((70001, texts[1][1][:40] + texts[1][1][40:] + "x"))  # near dup
    df2 = spark.createDataFrame(texts2, "doc_id long, text string")
    got = D.ngram_jaccard_pairs_exact(df2, "text", "doc_id", threshold=t).toPandas()
    # brute-force oracle
    import itertools
    def shingles(s):
        s2 = s.lower()
        return {s2[i:i + 8] for i in range(max(1, len(s2) - 7))}
    sets = {i: shingles(t2) for i, t2 in texts2}
    want = set()
    for x, y in itertools.combinations(sorted(sets), 2):
        j = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
        if j >= t:
            want.add((x, y))
    assert set(map(tuple, got[["doc_a", "doc_b"]].values)) == want
    assert (0, 70000) in want
    # sampled doc-freq mode: a DIFFERENT candidate order, the SAME exact output
    got_s = D.ngram_jaccard_pairs_exact(
        df2, "text", "doc_id", threshold=t, doc_freq="sampled"
    ).toPandas()
    assert set(map(tuple, got_s[["doc_a", "doc_b"]].values)) == want


def test_prefix_candidates_sampled_mode(spark):
    """Sampled heavy-hitter frequency order: inv=1 degenerates to the exact
    frequency table (same pruning on the stop-shingle corpus); the default
    sampled candidates are a complete SUPERSET of the exact-mode candidates on
    a planted near-dup corpus; unknown modes fail loudly."""
    import numpy as np
    import pytest

    from geojson_utility_spark.operators import dedup as D

    rng = np.random.default_rng(31)
    stop = "zzcommonz"
    n = 300
    texts = [
        (i, "".join(rng.choice(list("abcdefghijklmnop"), size=64)) + stop)
        for i in range(n)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sh = (
        df.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))
            ).alias("_i"),
            "text",
        )
        .select(
            "doc_id", F.substring(F.col("text"), F.col("_i"), F.lit(8)).alias("shingle")
        )
        .distinct()
    )
    t = 0.5
    exact = D._prefix_candidates(sh, t)
    # inv=1: every row sampled -> estimate == true df -> identical pruning power
    full = D._prefix_candidates(sh, t, doc_freq="sampled", hh_sample_inv=1)
    assert full.count() == exact.count()
    # candidate completeness under the noisy default sample: every true pair
    # (here: a planted exact dup, jaccard 1.0) must be a candidate
    dup = spark.createDataFrame(
        texts + [(70000, texts[0][1])], "doc_id long, text string"
    )
    sh_dup = (
        dup.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))
            ).alias("_i"),
            "text",
        )
        .select(
            "doc_id", F.substring(F.col("text"), F.col("_i"), F.lit(8)).alias("shingle")
        )
        .distinct()
    )
    cand = D._prefix_candidates(sh_dup, t, doc_freq="sampled").toPandas()
    assert (0, 70000) in set(map(tuple, cand[["doc_a", "doc_b"]].values))
    with pytest.raises(ValueError, match="doc_freq"):
        D._prefix_candidates(sh, t, doc_freq="bogus")


def test_prefix_candidates_length_filter(spark):
    """All-Pairs LENGTH filter: jaccard >= t forces min(|A|,|B|) >= t·max, so
    size-mismatched pairs are pruned IN the candidate join even when their
    prefixes overlap.  Constructed so the prefix filter alone would keep the
    pruned pair: C's extra shingles are high-df stop shingles (df=10), so C's
    prefix is exactly its two rare shared shingles — only the size test can
    remove (A, C).  The boundary pair (A, B) with min == t·max exactly must
    survive (ε guard)."""
    from geojson_utility_spark.operators import dedup as D

    t = 0.5
    s = ["s_rare_1", "s_rare_2"]
    w = [f"w_stop_{k}" for k in range(8)]
    rows = (
        [(0, x) for x in s]                       # A: {s1,s2}            |A|=2
        + [(1, x) for x in s + w[:2]]             # B: {s1,s2,w1,w2}      |B|=4
        + [(2, x) for x in s + w]                 # C: {s1,s2,w1..w8}     |C|=10
        + [(10 + i, x) for i in range(9) for x in w]  # fillers: df(w)=11
    )
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    cand = set(
        map(tuple, D._prefix_candidates(sh, t).select("doc_a", "doc_b").toPandas().values)
    )
    # boundary kept: min(2,4) == 0.5*4 exactly
    assert (0, 1) in cand
    # prefix overlap exists (C's 6-prefix = s1,s2 + stop tail) but 2 < 0.5*10
    assert (0, 2) not in cand
    # sampled mode applies the same filter
    cand_s = set(
        map(
            tuple,
            D._prefix_candidates(sh, t, doc_freq="sampled", hh_sample_inv=1)
            .select("doc_a", "doc_b")
            .toPandas()
            .values,
        )
    )
    assert (0, 1) in cand_s and (0, 2) not in cand_s


def test_prefix_candidates_sampled_plan_has_no_full_frame_exchange(spark):
    """The point of doc_freq='sampled': on a doc_id-clustered shingle frame the
    candidate generator must plan ZERO exchanges of the full shingle frame —
    only the tiny sample aggregate and the prefix self-join shuffle.  Pinned by
    counting Exchange operators: exact mode needs 2 more (by shingle for the
    frequency window, back by doc_id for the rank window)."""
    from geojson_utility_spark.operators import dedup as D

    # id % 200: every text appears twice, so candidate pairs exist — an empty
    # result would let AQE fold the final plan to EmptyRelation and erase the
    # ReusedExchange evidence this test pins
    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.md5((F.col("id") % 200).cast("string")).alias("text"),
    )
    sh = (
        D._spread_keyed(docs, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))
            ).alias("_i"),
            "text",
        )
        .select(
            "doc_id", F.substring(F.col("text"), F.col("_i"), F.lit(8)).alias("shingle")
        )
        .distinct()
    )
    import re

    plan_exact = D._prefix_candidates(sh, 0.5)._jdf.queryExecution().executedPlan().toString()
    plan_sampled = D._prefix_candidates(
        sh, 0.5, doc_freq="sampled"
    )._jdf.queryExecution().executedPlan().toString()
    # exact mode pays a full-frame exchange keyed on the shingle string (the
    # frequency window) and an ENSURE exchange back to doc_id (the rank window)
    assert "Exchange hashpartitioning(shingle" in plan_exact
    doc_ensure = re.compile(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), ENSURE")
    assert doc_ensure.search(plan_exact)
    # sampled mode must have NEITHER: the rank/size windows fuse onto the
    # caller's doc_id clustering, frequency comes from a broadcast lookup
    assert "Exchange hashpartitioning(shingle" not in plan_sampled, plan_sampled
    assert not doc_ensure.search(plan_sampled), plan_sampled
    assert "BroadcastExchange" in plan_sampled
    # runtime stage reuse: the self-join sides are canonically identical up to
    # their Exchange(_sh), so AQE must compute the whole prefix subtree ONCE
    # and replay its shuffle files for the second side.  Execute and check the
    # final adaptive plan (static plans never show reuse under AQE).
    cand = D._prefix_candidates(sh, 0.5, doc_freq="sampled")
    cand.collect()  # count() would spawn its own QueryExecution
    final = cand._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final


def test_cosine_near_dups_planted_and_contract(spark):
    """cosine_near_dups == brute force restricted to pairs sharing any LSH table
    signature (exact precision; recall analytic); planted near-dups with tiny
    angles are found and the recall calculator is sane."""
    import itertools

    import numpy as np

    from geojson_utility_spark.operators.similarity import (
        _hyperplanes,
        _signatures_np,
        cosine_lsh_recall,
        cosine_near_dups,
    )

    rng = np.random.default_rng(23)
    dim, n = 32, 200
    base = rng.normal(size=(n, dim))
    # planted: 3 near-dup pairs at tiny angles
    for i, eps in ((0, 0.01), (1, 0.03), (2, 0.05)):
        base[n - 1 - i] = base[i] + eps * rng.normal(size=dim)
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    t, n_bits, n_tables, seed = 0.8, 8, 12, 42
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dups(
            df, threshold=t, n_bits=n_bits, n_tables=n_tables, seed=seed
        ).collect()
    }
    planes = np.concatenate(
        [np.asarray(_hyperplanes(dim, n_bits, seed + tt)) for tt in range(n_tables)]
    )
    sigs = _signatures_np(base, planes, n_bits)  # (n, n_tables)
    want = set()
    for i, j in itertools.combinations(range(n), 2):
        cos = float(
            base[i] @ base[j]
            / (np.linalg.norm(base[i]) * np.linalg.norm(base[j]))
        )
        if cos >= t and (sigs[i] == sigs[j]).any():
            want.add((i, j))
    assert got == want
    assert {(0, n - 1), (1, n - 2), (2, n - 3)} <= got
    # recall calculator: monotone in tables, ~1 at tiny angles, high at t=0.95
    assert cosine_lsh_recall(0.999, 16, 16) > 0.999
    assert cosine_lsh_recall(0.95, 16, 16) > 0.9
    assert cosine_lsh_recall(0.8, 16, 4) < cosine_lsh_recall(0.8, 16, 32)


def test_cosine_near_dups_hot_bucket_bounded(spark):
    """A degenerate embedding cluster (500 copies of one direction) must not
    produce |bucket|^2 candidate blowup through the single-bucket join — the
    over-cap split re-keys hot rows on bucket pairs, and exact verify still
    returns every within-cluster pair sharing >= 2 tables (all of them here,
    since identical directions share every table)."""
    import numpy as np

    from geojson_utility_spark.operators.similarity import cosine_near_dups

    rng = np.random.default_rng(31)
    d = rng.normal(size=16)
    rows = [(i, (d * (1.0 + 0.001 * i)).tolist()) for i in range(500)]  # same direction
    rows += [(1000 + i, rng.normal(size=16).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_near_dups(
        df, threshold=0.999, n_bits=8, n_tables=4, bucket_cap=100
    ).toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    # every within-cluster pair is cosine 1.0 and shares all 4 (hot) tables
    assert len(got) == 500 * 499 // 2
    assert all(a < 1000 and b < 1000 for a, b in got)
    assert (out["cosine"] > 0.999).all()


def test_ivf_near_dups_blocking_contract(spark):
    """ivf_near_dups == brute force restricted to pairs sharing an assigned list
    (exact precision; blocking recall); planted near-dup clusters are found at a
    loose threshold where LSH blocking degrades."""
    import itertools

    import numpy as np

    from geojson_utility_spark.operators.similarity import (
        _kmeans_fit,
        ivf_near_dups,
    )

    rng = np.random.default_rng(41)
    dim = 16
    # 5 well-separated cluster centers, 40 members each with noise -> loose
    # near-dups within clusters
    centers = rng.normal(size=(5, dim)) * 5.0
    rows, vecs = [], []
    k = 0
    for c in centers:
        for _ in range(40):
            vv = c + rng.normal(size=dim) * 0.4
            rows.append((k, vv.tolist())); vecs.append(vv); k += 1
    mat = np.asarray(vecs)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t, n_lists, n_probe, seed = 0.8, 8, 2, 42
    out = ivf_near_dups(
        df, threshold=t, n_lists=n_lists, n_probe=n_probe,
        train_size=200, n_iter=10, seed=seed,
    ).toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    # reproduce the quantizer driver-side: same sample rule (every row: N=200,
    # train_size=200 -> every=1), same k-means
    cents = _kmeans_fit(mat, n_lists, 10, seed)
    d2 = (
        (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    lists = np.argpartition(d2, n_probe - 1, axis=1)[:, :n_probe]
    norms = np.linalg.norm(mat, axis=1)
    want = set()
    for i, j in itertools.combinations(range(len(mat)), 2):
        cos = float(mat[i] @ mat[j] / (norms[i] * norms[j]))
        if cos >= t and len(set(lists[i]) & set(lists[j])) > 0:
            want.add((i, j))
    assert got == want and len(want) > 100
    assert (out["cosine"] >= t).all()


def test_ivf_near_dups_nprobe1_hot_list_warns(spark):
    """A planted mega-cluster overflowing one IVF list with n_probe=1 silently
    loses every pair whose only shared list is the hot one — the operator must
    WARN (VERDICT r3 item: the recall loss was only a docstring note)."""
    import warnings

    import numpy as np
    import pytest

    from geojson_utility_spark.operators.similarity import ivf_near_dups

    rng = np.random.default_rng(7)
    d = rng.normal(size=8)
    # 300 copies of one direction -> one list holds them all (cap 50 overflows)
    rows = [(i, (d + rng.normal(size=8) * 0.01).tolist()) for i in range(300)]
    rows += [(1000 + i, rng.normal(size=8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.warns(RuntimeWarning, match="n_probe=1"):
        ivf_near_dups(
            df, threshold=0.99, n_lists=8, n_probe=1,
            train_size=400, bucket_cap=50,
        )
    # n_probe=2: same data, no warning (the pair-key escape hatch can fire)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        ivf_near_dups(
            df, threshold=0.99, n_lists=8, n_probe=2,
            train_size=400, bucket_cap=50,
        )


def test_dedup_components_matches_union_find(spark):
    """Connected components over a random pair graph == python union-find
    (min-id representative), including multi-hop chains; empty input yields an
    empty typed frame."""
    import numpy as np

    rng = np.random.default_rng(11)
    # random sparse graph + a deliberate long chain (diameter ~12)
    edges = {tuple(sorted(p)) for p in rng.integers(0, 120, size=(80, 2)) if p[0] != p[1]}
    edges |= {(1000 + i, 1001 + i) for i in range(12)}
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(edges)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["component"])
        for r in D.dedup_components(pairs).collect()
    }
    # union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want
    assert (1012, 1000) in got  # chain fully collapsed to its min id
    empty = D.dedup_components(pairs.filter(F.lit(False)))
    assert empty.count() == 0 and empty.columns == ["doc_id", "component"]


def test_dedup_components_releases_checkpoints(spark):
    """Each superseded round's labels checkpoint and the edges checkpoint are
    freed: after collect only the returned labels' RDD stays persisted.  A
    13-node chain runs 12 label rounds; leaking them leaves 11 RDDs, not 1."""
    jsc = spark.sparkContext._jsc
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    before = set(jsc.getPersistentRDDs().keys())
    comps = D.dedup_components(pairs)
    assert {r["component"] for r in comps.collect()} == {0}
    assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1


def test_capped_pairs_n_ids_skip_identical(spark):
    """n_ids <= bucket_cap proves no bucket can be hot (one row per id per
    bucket), so the skip path must return EXACTLY the plain-LSH candidate set —
    and ivf_near_dups must not warn when the proof applies."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(5)
    base = [rng.integers(-(2**40), 2**40, size=16).tolist() for _ in range(100)]
    # ids 100-119 DUPLICATE ids 0-19's signatures -> every band collides ->
    # the expected candidate sets are NON-empty (a trivially-empty comparison
    # would pass even with a broken join)
    rows = [(i, s) for i, s in enumerate(base)]
    rows += [(100 + i, base[i]) for i in range(20)]
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    skip = D.minhash_candidate_pairs(sigs, n_bands=4, bucket_cap=500, n_docs=120)
    full = D.minhash_candidate_pairs(sigs, n_bands=4, bucket_cap=500)
    uncapped = D.minhash_candidate_pairs(sigs, n_bands=4, bucket_cap=None)
    s = {(r["doc_a"], r["doc_b"]) for r in skip.collect()}
    f = {(r["doc_a"], r["doc_b"]) for r in full.collect()}
    u = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    assert s == f == u
    assert {(i, 100 + i) for i in range(20)} <= s
    # skip path stays lazy: no bucket-count job scheduled (can't observe jobs
    # directly here; the equivalence above is the correctness pin)
    from geojson_utility_spark.operators.similarity import ivf_near_dups

    d = rng.normal(size=8)
    rows = [(i, (d + rng.normal(size=8) * 0.01).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        # n_total=300 <= bucket_cap=300: proof applies, no hot list possible,
        # no warning even at n_probe=1
        ivf_near_dups(df, threshold=0.99, n_lists=8, n_probe=1,
                      train_size=400, bucket_cap=300)
        # bucket_cap=None (explicit uncapped mode) must not TypeError against
        # the int n_total (regression: `300 <= None`) and must produce the
        # within-list pairs (k-means SPLITS the tight cluster across its 8
        # lists, so the blocking contract yields sub-cluster pairs, not the
        # full clique)
        n = ivf_near_dups(df, threshold=0.99, n_lists=8, n_probe=1,
                          train_size=400, bucket_cap=None).count()
    assert n > 1000


def test_python_xxh64_matches_spark(spark, sf_dir):
    """Two-implementation agreement: the pure-Python XXH64 (functions/xxh64.py,
    written from the public spec) vs Spark's JVM F.xxhash64, over (a) every
    distinct token the simhash oracle embeds as literals and (b) adversarial
    byte lengths spanning the 32-byte stripe loop and the 8/4/1-byte tail
    paths, plus multi-byte UTF-8.  This is the pin that makes oracle_simhash a
    genuine cross-engine oracle rather than a tautology."""
    import re

    from geojson_utility_spark.functions.xxh64 import xxh64_str

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = set()
    for (text,) in corpus.select("text").collect():
        toks.update(re.sub(r"\s+", " ", text.lower()).strip().split(" "))
    adversarial = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg", "abcdefgh",
        "x" * 31, "y" * 32, "z" * 33, "w" * 40, "q" * 63, "r" * 64, "s" * 65,
        "t" * 100, "héllo wörld", "日本語テキスト", "emoji 🎉 test", "a b  c",
    ]
    cases = sorted(toks) + adversarial
    rows = (
        spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    assert len(rows) == len(cases)
    for r in rows:
        assert xxh64_str(r.s) == r.h, f"xxh64 mismatch on {r.s!r}"


def test_bucketed_shingle_store_results_and_plan(spark, monkeypatch):
    """The doc_id-bucketed shingle store (r6): ngram output equals a python
    brute force, and the verify join's second shingle reference is a bucketed
    scan with NO exchange above it — the physical-bucketing escape from the
    cached self-join attribute re-resolution (BENCH.md round-5 addendum)."""
    import itertools

    release_deferred()
    spark.catalog.clearCache()
    rows = [
        (i, f"some repeated text body number {i % 9} padded out to shingles ok")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {i: _py_shingles(t) for i, t in rows}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.8:
            want.add((a, b, round(j, 9)))
    assert len(want) > 0
    out = D.ngram_jaccard_pairs_exact(df, "text", "doc_id", 0.8)
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in out.collect()
    }
    assert got == want
    # the materialized table exists, is bucketed on doc_id, and its scans are
    # exchange-free: the executed plan must contain bucketed FileScans and the
    # string "SelectedBucketsCount"
    made = _shingle_tables(spark)
    assert len(made) == 1, "bucketed table not registered"
    tbl = made.pop()
    ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").collect()[0][0]
    assert "CLUSTERED BY (doc_id)" in ddl and "SORTED BY (doc_id" in ddl, ddl
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan[:4000]
    # minhash pipeline: the bucketed verify plan (forced by a 0 cutover) gives
    # the pairs the brute force finds
    spark.catalog.clearCache()
    monkeypatch.setattr(D, "_SMALL_CANDS_MAX", 0)
    mh_got = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_near_dups(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert len(_shingle_tables(spark)) == 2
    assert mh_got == {(a, b) for a, b, _ in want}
    # the deferred release drops every materialized table (managed -> files too)
    release_deferred()
    assert not _shingle_tables(spark)


def test_sweep_stale_shingle_tables(spark):
    """The janitor removes warehouse dirs of DEAD pids only: live-pid (this
    process's) tables and non-shingle dirs survive (a killed 4M-doc run strands
    ~3 GB — measured 19 GB of accumulation before this existed)."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
    os.makedirs(wh, exist_ok=True)
    # a dead pid: spawn-and-reap a child so the pid is guaranteed unused
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    stale = os.path.join(wh, f"gjus_shingles_{pid}_0")
    live = os.path.join(wh, f"gjus_shingles_{os.getpid()}_999")
    other = os.path.join(wh, "some_other_table")
    for d in (stale, live, other):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    try:
        removed = D.sweep_stale_shingle_tables(spark)
        assert f"gjus_shingles_{pid}_0" in removed
        assert not os.path.exists(stale)
        assert os.path.exists(live) and os.path.exists(other)
    finally:
        import shutil

        for d in (live, other):
            shutil.rmtree(d, ignore_errors=True)


def test_stage_checkpoint_reliable_mode(spark, tmp_path):
    """With a session checkpoint dir set, the dedup checkpoints become RELIABLE
    disk checkpoints (the low-heap / resumable mode) and every pipeline result
    is unchanged."""
    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    rows = [(i, f"some repeated text body number {i % 9} padded out to shingles")
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_near_dups(df, "text", "doc_id", threshold=0.8).collect()
    }
    pairs_df = spark.createDataFrame(
        sorted(want_pairs), "doc_a long, doc_b long"
    )
    want_comps = {
        (r["doc_id"], r["component"])
        for r in D.dedup_components(pairs_df).collect()
    }
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got_pairs = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_near_dups(df, "text", "doc_id", threshold=0.8).collect()
        }
        got_comps = {
            (r["doc_id"], r["component"])
            for r in D.dedup_components(pairs_df).collect()
        }
        # reliable checkpoint files actually landed in the dir
        import os as _os

        files = [
            _os.path.join(dp, f)
            for dp, _, fs in _os.walk(str(tmp_path / "ckpt"))
            for f in fs
        ]
        assert files, "no reliable checkpoint files written"
    finally:
        # clear the dir so later tests see the default localCheckpoint mode
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert got_pairs == want_pairs and len(want_pairs) > 0
    assert got_comps == want_comps and len(want_comps) > 0
