"""Deduplication operators for large-scale training-data pipelines.

All set-oriented, shuffle-minimal designs:
- exact:      hash-groupBy on content (map-side partial agg; one shuffle on the hash)
- minhash+LSH: shingles -> minhash signature -> banded bucket join -> exact-Jaccard
               verify restricted to candidates (never an O(N^2) compare); the
               verify plan follows the counted pair volume (see jaccard_pairs)
- ngram-jaccard: EXACT all-pairs Jaccard via the shingle inverted-index join
               (complete for any threshold > 0) over a doc_id-bucketed shingle table
- simhash:    weighted-feature bit-majority hash (xxhash64 production family, or the
              SQL-reproducible md5 family for cross-engine oracles)
- hamming_pairs: GUARANTEED-recall near-dup pairs by hamming distance — pigeonhole
              chunks (n_chunks = d + 2) with a chunk-PAIR path for hot buckets;
              simhash/phash near-dups ride it
- hamming_pairs_probed: the large-N variant — wide chunks + 1-bit multi-probe
              (d <= 2c - 1), candidate volume linear in N

Every operator keeps the big table distributed; only per-row feature computation runs
in (vectorized) expressions or Arrow batches.
"""

from __future__ import annotations

import math
import os
from functools import partial, reduce
from itertools import count
from operator import and_

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geojson_utility_spark.session import defer, release_staged, stage

# Upper bound on the over-cap bucket list the driver will hold: beyond this the
# machinery falls back to keeping the list distributed (broadcast of the agg).
# 100k keys of 2-3 longs is a few MB — far below any broadcast-side concern.
_HOT_COLLECT_MAX = 100_000


def _capped_self_pairs(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    carry: list[str],
    bucket_cap: int | None,
    n_ids: int | None = None,
) -> tuple[DataFrame, int | None]:
    """Bucket-cap candidate machinery shared by every capped blocking operator
    (minhash bands, hamming chunks, sign-LSH tables, IVF lists).

    Input: a (id, key..., carry...) frame where rows sharing a full key tuple are
    candidate partners.  Output: (pairs, n_hot) — pairs has columns
    ``id_a, id_b`` (+ ``{c}_a, {c}_b`` per carry column) with ``id_a < id_b``
    and MAY contain duplicates (callers dedup); ``n_hot`` is the number of
    over-cap buckets, or None when the list exceeded ``_HOT_COLLECT_MAX``.

    ADAPTIVE tiers (the r3 fixed pipeline scheduled the anti/semi splits and the
    three-join pair-key path even when no bucket was hot, which roughly doubled
    the operator's wall time at bench scale — measured in BENCH.md r4):

    1. The over-cap bucket list is computed ONCE (map-side-combined groupBy over
       the lazily-checkpointed banded frame) and collected — it is provably tiny
       (<= N * keys_per_id / bucket_cap entries).
    2. EMPTY (the common case): plain single-bucket self-join, nothing else —
       no anti/semi scans, no pair-key joins, no broadcast exchanges.
    3. Non-empty and <= _HOT_COLLECT_MAX: the collected keys become a driver-local
       broadcast frame (no recompute of the agg); under-cap rows join on their
       bucket, over-cap rows re-key on PAIRS of their over-cap buckets (ordered by
       the first key column, which is unique per id by construction in every
       caller) — the same recall contract as before, cheaper to schedule.
    4. Larger (degenerate corpus at extreme N): identical plan but the hot list
       stays a distributed frame broadcast from the agg.

    Recall contract for capped buckets is unchanged from r3 and documented at
    each caller: a pair whose ONLY agreement is a single over-cap bucket is not
    a candidate.

    NOTE: the collect makes the capped operators EAGER — the banding scan +
    bucket count run at call time, not first action (the price of adaptive
    planning; the uncapped ``bucket_cap=None`` paths stay fully lazy).  Errors
    in the input surface at the operator call site accordingly.

    ``n_ids``: pass the distinct-id count when the caller knows it cheaply
    (checkpointed frame, a count already paid for training).  Every caller
    emits AT MOST ONE row per (id, bucket), so bucket membership is bounded by
    the id count — ``n_ids <= bucket_cap`` PROVES no bucket can be hot and the
    count job itself is skipped (identical output, zero cap overhead, stays
    lazy).
    """
    spark = banded.sparkSession
    # lazy checkpoint: the bucket-count job materializes it; the join branches
    # then read the materialized partitions instead of re-evaluating the
    # banding/assignment subtree (measured at sf0.1: recompute 4.4 s vs
    # checkpoint 2.8 s for the full minhash near-dup pipeline)
    banded = stage(banded, eager=False)
    defer(partial(release_staged, banded))

    def pair_sel(joined: DataFrame) -> DataFrame:
        sel = [
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        ]
        for c in carry:
            sel.append(F.col(f"a.{c}").alias(f"{c}_a"))
            sel.append(F.col(f"b.{c}").alias(f"{c}_b"))
        return joined.select(*sel)

    def eq(x: str, y: str, cols: list[str]):
        return reduce(and_, [F.col(f"{x}.{c}") == F.col(f"{y}.{c}") for c in cols])

    lt = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_cap is None or (n_ids is not None and n_ids <= bucket_cap):
        # uncapped, or the id count proves no bucket can be hot: no count job
        collected, hot_agg = [], None
    else:
        hot_agg = (
            banded.groupBy(*key_cols)
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > bucket_cap)
            .select(*key_cols)
        )
        collected = hot_agg.limit(_HOT_COLLECT_MAX + 1).collect()
    if not collected:
        a, b = banded.alias("a"), banded.alias("b")
        return pair_sel(a.join(b, eq("a", "b", key_cols) & lt)), 0
    if len(collected) > _HOT_COLLECT_MAX:
        hot, n_hot = hot_agg, None
    else:
        hot = spark.createDataFrame(collected, banded.select(*key_cols).schema)
        n_hot = len(collected)
    small = banded.join(F.broadcast(hot), key_cols, "left_anti")
    hot_rows = banded.join(F.broadcast(hot), key_cols, "left_semi")
    a, b = small.alias("a"), small.alias("b")
    cand_small = pair_sel(a.join(b, eq("a", "b", key_cols) & lt))
    # over-cap rows re-keyed on PAIRS of their over-cap buckets
    hx, hy = hot_rows.alias("x"), hot_rows.alias("y")
    key_sel = (
        [F.col(f"x.{id_col}").alias(id_col)]
        + [F.col(f"x.{c}").alias(c) for c in carry]
        + [F.col(f"x.{c}").alias(f"_p1_{c}") for c in key_cols]
        + [F.col(f"y.{c}").alias(f"_p2_{c}") for c in key_cols]
    )
    hot_keys = hx.join(
        hy,
        (F.col(f"x.{id_col}") == F.col(f"y.{id_col}"))
        & (F.col(f"x.{key_cols[0]}") < F.col(f"y.{key_cols[0]}")),
    ).select(*key_sel)
    pair_key_cols = [f"_p1_{c}" for c in key_cols] + [f"_p2_{c}" for c in key_cols]
    ha, hb = hot_keys.alias("a"), hot_keys.alias("b")
    cand_hot = pair_sel(ha.join(hb, eq("a", "b", pair_key_cols) & lt))
    return cand_small.unionByName(cand_hot), n_hot


_BUCKETED_SEQ = count()  # every bucketed shingle table gets a fresh name


def _materialize_shingles(sh: DataFrame, n_buckets: int, bucketed: bool = True):
    """Materialize the distinct-shingle frame and return a REF FACTORY.

    bucketed=False: one frame persisted at MEMORY_AND_DISK, every consumer
    shares the object — but Catalyst re-resolves the cached frame's attributes
    at the second self-join reference, severing the output-partitioning link,
    so the b-side of the verify join gets re-exchanged (measured, BENCH.md
    round-5 addendum; the subset co-partitioning fix is impossible for cached
    self-joins in current Catalyst).  Only :func:`jaccard_pairs` uses it, for
    small counted pair sets where that exchange is cluster-trivial.

    bucketed=True: write the frame ONCE as a parquet table bucketed+sorted
    by doc_id (EAGER — same documented trade as the adaptive cap), then hand
    every consumer its OWN ``spark.table()`` read.  Each scan carries bucket
    partitioning on its own attribute ids, so per-doc aggregates and the
    verify join's shingle side need NO exchange — physical bucketing is the
    standard escape from the cached-self-join re-resolution.  The write lands
    in ``spark.sql.warehouse.dir``; corpus-scale clusters must point that at
    durable shared storage (the same contract as any Spark managed table).

    The bucket count equals the pre-write hash partitioning's count, so every
    write task holds exactly one bucket — no per-task file explosion.  Either
    store is released by ``session.release_deferred``."""
    if not bucketed:
        # explicit level, not cache(): cache() picks MEMORY_AND_DISK_DESER
        p = sh.persist(StorageLevel.MEMORY_AND_DISK)
        defer(p.unpersist)
        return lambda: p
    spark = sh.sparkSession
    # pid in the name: a killed session leaves its warehouse dir behind, and a
    # managed CREATE over a stale non-empty location fails — fresh pid, no clash
    tbl = f"gjus_shingles_{os.getpid()}_{next(_BUCKETED_SEQ)}"
    (
        sh.write.mode("errorifexists")
        .format("parquet")
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id", "shingle")
        .saveAsTable(tbl)
    )
    defer(lambda: spark.sql(f"DROP TABLE IF EXISTS {tbl}"))
    return lambda: spark.table(tbl)


def sweep_stale_shingle_tables(spark) -> list[str]:
    """Remove warehouse directories of ``gjus_shingles_<pid>_*`` tables whose
    owning process is DEAD (a killed session runs no deferred release — a
    single interrupted 4M-doc run strands ~3 GB; five of them filled 19 GB of
    this host before this janitor existed).  Returns the removed dir names.

    Local-filesystem warehouses only: pid liveness is only meaningful on the
    machine that created the table, and a shared-storage warehouse's retention
    policy belongs to the orchestrator, not this process."""
    import re
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    else:
        if "://" in wh:  # non-local warehouse (hdfs://, s3a://, ...)
            return []
    if not os.path.isdir(wh):
        return []
    removed = []
    for d in os.listdir(wh):
        m = re.fullmatch(r"gjus_shingles_(\d+)_\d+", d)
        if not m:
            continue
        pid = int(m.group(1))  # own pid is alive -> own tables always survive
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
            removed.append(d)
        except PermissionError:
            pass  # pid alive under another uid — leave it
    return removed


def _parallel_target(df: DataFrame) -> int:
    """The partition count :func:`_spread_keyed` shuffles to (and the bucket
    count :func:`_materialize_shingles` must match)."""
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        df.rdd.getNumPartitions(),
    )


def _spread_keyed(df: DataFrame, key: str, n: int | None = None) -> DataFrame:
    """Hash-partition the narrow pre-explode frame by ``key`` — unlike
    :func:`_spread` this ALWAYS shuffles, and shuffles the CHEAP side: the frame
    before the ~10x row-exploding shingle stage.  The explode preserves the
    partitioning, so the distinct-shingle aggregate and every per-doc
    window/aggregate downstream fuse with ZERO additional exchange — Catalyst's
    ``HashPartitioning(key)`` satisfies ``ClusteredDistribution(key, shingle)``.
    Measured at 1M docs (BENCH.md round-5 addendum): trading this corpus-sized
    shuffle for the shingle-frame distinct exchange is a large net win; partition
    count never shrinks below the input's (no parallelism loss at scale).

    ``n`` overrides the width — the bucketed shingle store passes
    :func:`_bucket_target` so the spread width equals the bucket count and
    every bucketed-table write task holds exactly one bucket."""
    return df.repartition(n or _parallel_target(df), key)


def _bucket_target(corpus: DataFrame) -> int:
    """Bucket count for the materialized shingle table: ~8 buckets per CORPUS
    partition, floored at the session's parallel target.

    A bucketed scan runs ONE task per bucket with no intra-bucket split, so
    per-task reader memory is bounded by bucket size — the bucket count must
    grow with the data, not with the core count.  Measured failure mode
    (BENCH.md round-6): at 10M docs a corpus-independent 32-bucket table put
    ~40M shingle rows (~225 MB compressed, GBs decompressed) in every bucket
    and 32 concurrent bucket reads OOM'd a 24 GB heap.  Corpus partitions
    scale with input bytes (~128 MB splits on real file sources), and the
    distinct-shingle frame is a roughly constant multiple of the corpus, so
    8x input partitions keeps per-bucket size roughly flat as the corpus
    grows; the floor keeps toy corpora at full session parallelism."""
    return max(_parallel_target(corpus), corpus.rdd.getNumPartitions() * 8)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Fan a narrow input out to cluster parallelism BEFORE a row-exploding stage.

    The shingle/token explodes amplify rows ~300x, but a narrow map cannot re-split
    a stage: a source with fewer partitions than cores (one small parquet file, a
    driver-created frame) serializes the whole explode+hash pipeline on one task.
    Repartition ONLY in that case — a trillion-row input already carries thousands
    of partitions and must not pay a gratuitous full shuffle."""
    spark = df.sparkSession
    target = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content value (deterministic winner).

    One shuffle, partial-agg friendly: semantically
    ``row_number() OVER (PARTITION BY content ORDER BY id) = 1`` but implemented as
    min-id groupBy + semi join so the heavy content column shuffles once as a key.
    """
    winners = df.groupBy(content_col).agg(F.min(id_col).alias(id_col))
    # dropDuplicates on id: a semi join keeps BOTH physical copies of an identical row
    return df.join(winners, [content_col, id_col], "left_semi").dropDuplicates([id_col])


def _normalized(text_col: str):
    """The one text normalization every shingle producer shares: lowercase,
    whitespace runs collapsed to one space."""
    return F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("_norm")


def _shingle_stream(norm: DataFrame, shingle_n: int) -> DataFrame:
    """(doc_id, _norm) -> (doc_id, shingle), one row per character-shingle
    position (not distinct; a text shorter than ``shingle_n`` is its own single
    shingle).  Explodes a position sequence and slices with a codegen
    substring — no per-row array-of-strings, no interpreted higher-order
    lambda, no re-evaluated regexp per shingle (exploding an
    interpreted-transform ARRAY costs ~20 ms/row; this is ~100x faster).
    Callers pick their own spread and normalize first."""
    return norm.select(
        "doc_id",
        "_norm",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("_norm") - (shingle_n - 1), F.lit(1))
            )
        ).alias("_i"),
    ).select(
        "doc_id",
        F.substring(F.col("_norm"), F.col("_i"), F.lit(shingle_n)).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 32, shingle_n: int = 8
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — minhash over character shingles.

    Physical shape (same pattern as simhash64): explode shingles -> ``n_hashes``
    flat xxhash64 columns (whole-stage codegen) -> ONE groupBy(doc_id) with
    ``n_hashes`` min() aggregates (map-side partial agg) -> assemble the signature
    array.  The naive nested-lambda formulation (transform over seeds x array_min
    over shingles) allocates 32 intermediate arrays per row outside codegen and is
    ~100x slower — do not regress to it.
    """
    # normalize ONCE per doc, AFTER _spread (same bytes shuffled either way): a
    # narrow source (one parquet file = 2 scan tasks at bench scale) would
    # otherwise evaluate the whole corpus' regex on those few tasks while the
    # other cores idle
    norm = _spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")),
        "doc_id",
    ).select("doc_id", _normalized("_t"))
    exploded = _shingle_stream(norm, shingle_n)
    # hash the shingle STRING once; derive the hash family from the resulting long
    # (xxhash64 over 8 bytes per member instead of re-traversing the string n times).
    # selectExpr + one array-of-mins aggregate, NOT stacked Column objects (r7,
    # measured): each Column method is a py4j round trip, and the old
    # 32-column/32-agg/32-array construction spent ~0.27 s of driver time
    # BUILDING the frame before Spark saw it.  The SQL texts parse to the same
    # expressions (int literals hash identically to F.lit ints), so signatures
    # are bit-identical.
    hashed = exploded.withColumn("_h0", F.xxhash64("shingle")).selectExpr(
        "doc_id", *[f"xxhash64(_h0, {i}) AS h{i}" for i in range(n_hashes)]
    )
    return hashed.groupBy("doc_id").agg(
        F.expr(
            "array(" + ", ".join(f"min(h{i})" for i in range(n_hashes)) + ") AS sig"
        )
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 8,
    bucket_cap: int | None = 20_000,
    n_docs: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into bands, bucket-join on (band, band-hash).

    Returns distinct (doc_a, doc_b) candidate pairs (doc_a < doc_b).  The only shuffle
    is the equi-join on the banded bucket key — never an all-pairs compare.

    Hot-bucket cap (the boilerplate defense, same treatment as hamming_pairs): a band
    bucket shared by f docs contributes f^2 rows to the self-join, and web corpora
    routinely put millions of near-identical template docs in ONE bucket.  Buckets
    over ``bucket_cap`` are excluded from the single-band join; their rows are
    re-keyed on PAIRS of that doc's over-cap bands ((band_i, bucket_i, band_j,
    bucket_j), i < j), which drops the collision volume by another band-hash factor.

    Candidate semantics with the cap (documented recall contract):
    - a pair sharing any UNDER-cap band bucket is always a candidate (normal LSH);
    - a pair sharing >= 2 over-cap band buckets is a candidate via the pair key;
    - a pair whose ONLY agreement is a single over-cap bucket is NOT a candidate.
      That pair is one borderline match inside a >bucket_cap-member template cluster;
      high-similarity pairs agree on many bands (P[agree] = jaccard^rows_per_band per
      band), so the ones the cap can drop are concentrated at the low-similarity edge
      the verify stage would mostly reject anyway.  Pass ``bucket_cap=None`` for the
      uncapped exact-LSH candidate set.

    The over-cap bucket list is provably tiny (<= N * n_bands / bucket_cap rows)
    and handled adaptively by :func:`_capped_self_pairs`: when EMPTY (the common
    case) the plan is exactly the plain single-band join plus one
    map-side-combined count — none of the split/pair-key machinery is scheduled.

    ``n_docs``: pass the signature-frame row count when it is cheap to know
    (e.g. the frame is checkpointed).  Each doc contributes EXACTLY ONE bucket
    row per band, so a bucket's membership is bounded by n_docs —
    ``n_docs <= bucket_cap`` PROVES no bucket can be hot and even the bucket
    count is skipped (identical output, zero cap overhead).
    """
    n_hashes_col = F.size(F.col("sig"))
    rows_per_band = (n_hashes_col / n_bands).cast("int")
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    pairs, _ = _capped_self_pairs(
        banded, ["band", "bucket"], "doc_id", [], bucket_cap, n_ids=n_docs
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    ).distinct()


#: Verify-plan cutover of :func:`jaccard_pairs`, in counted candidate pairs
#: (r7, measured).  At or under it the needed-doc shingle frame is
#: cluster-trivial (<= ~60M rows at the default bucket cap).
_SMALL_CANDS_MAX = 100_000


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pairs: DataFrame,
    shingle_n: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate (doc_a, doc_b) pairs.

    Plan: explode DISTINCT shingles for docs appearing in a pair (semi join first —
    the verify stage touches the candidate set, never the corpus), then intersection
    sizes via two codegen equi-joins + a count.  Never ``array_intersect``: Spark's
    array set ops on large string arrays are interpreted per-element and cost ~15 ms
    per 600x600 pair — orders of magnitude slower than the join plan.

    The pair set is cached and counted (one job; the verify consumes it twice),
    and the count picks the physical plan — by DATA SIZE, not a caller's string:

    - at or under ``_SMALL_CANDS_MAX`` pairs: the shingle frame is persisted
      and the pair join carries NO hint.  The counted pairs frame has accurate
      statistics, so the planner broadcasts the small pairs side and the verify
      runs with zero shingle-frame shuffle (measured at 50k docs / 2.6k pairs:
      verify 2.6 s bucketed -> ~1 s persisted+unhinted).
    - above it: the verify side is corpus-like.  The shingle frame becomes a
      doc_id-bucketed parquet table (see :func:`_materialize_shingles`) and
      the pair join is hinted ``merge``: the second (~10x-corpus) shingle
      reference joins sort-free with no exchange (requires the session's
      subset-co-partition conf — session.py).  Measured at 1M docs, ABAB
      probe-bracketed: minhash pipeline 76.9 -> 47.3 s, identical pair
      outputs.  The write is EAGER.

    ``session.release_deferred`` frees the shingle store and the pairs (a cache,
    not a checkpoint: only a counted cache gives the small plan its statistics).
    """
    # the count materializes the cache AND gives the planner accurate pairs
    # statistics for the unhinted small plan
    pairs = pairs.cache()
    defer(pairs.unpersist)
    bucketed = pairs.count() > _SMALL_CANDS_MAX
    needed = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # _spread_keyed: the doc_id hash partitioning FUSES the distinct below and the
    # sizes aggregate with zero exchange of the ~10x shingle frame (same measured
    # trade as ngram_jaccard_pairs_exact — BENCH.md round-5 addendum)
    # bucket/spread width from the CORPUS frame, before the semi join collapses
    # partitioning to the shuffle width (per-bucket size must track the data —
    # see _bucket_target)
    tgt = _bucket_target(df)
    # regexp AFTER the spread shuffle (see minhash_signatures): the semi-joined
    # corpus side often sits on few scan tasks; same bytes shuffled either way
    norm = _spread_keyed(
        df.join(needed, id_col, "left_semi").select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
        ),
        "doc_id",
        tgt,
    ).select("doc_id", _normalized("_t"))
    sh = _shingle_stream(norm, shingle_n).distinct()
    ref = _materialize_shingles(sh, tgt, bucketed)
    sizes = ref().groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    ex_a = ref().select(F.col("doc_id").alias("doc_a"), "shingle")
    ex_b = ref().select(F.col("doc_id").alias("doc_b"), "shingle")
    # merge hint on the exploded (pairs x shingles) intermediate of the large
    # plan: Catalyst sizes it from the pairs side and statically planned the
    # second join as a broadcast of the intermediate — |pairs| * |doc| rows,
    # measured 13.4 GiB attempted at 1M docs vs the 8 GiB hard limit.  The
    # bucketed+sorted ex_b side joins with zero exchange AND zero sort, and SMJ
    # spills gracefully on the intermediate side at any scale.
    joined_a = pairs.join(ex_a, "doc_a")
    if bucketed:
        joined_a = joined_a.hint("merge")
    inter = (
        joined_a.join(ex_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard"),
        )
    )


def _sig_prefilter_cut(threshold: float, n_hashes: int, n_bands: int) -> int:
    """Largest match-count cut whose Binomial lower tail AT the threshold point
    stays within the banding miss probability there:
    ``max cut: P[Bin(n_hashes, threshold) <= cut-1] <= (1 - t^r)^n_bands``
    (r = rows per band).  For j > threshold the prefilter tail shrinks
    exponentially in (j - cut/n)^2 while banding's shrinks slower, so the
    boundary point is the binding constraint — see minhash_near_dups.
    Driver-side arithmetic over n_hashes+1 terms; exact (math.comb)."""
    if threshold <= 0:
        # jaccard >= 0 admits every pair — filtering would be semantically wrong
        return 0
    r = max(1, n_hashes // n_bands)
    miss_band = (1.0 - threshold**r) ** n_bands
    cdf = 0.0
    cut = 0
    for k in range(n_hashes + 1):
        cdf += (
            math.comb(n_hashes, k)
            * threshold**k
            * (1.0 - threshold) ** (n_hashes - k)
        )
        if cdf <= miss_band:
            cut = k + 1
        else:
            break
    # degenerate thresholds (t -> 0 makes miss_band -> 1, letting the loop
    # run past the last bucket): never demand more matches than exist
    return min(cut, n_hashes)


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 8,
    bucket_cap: int | None = 20_000,
    sig_prefilter_margin: str | None = "auto",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    signature-agreement prefilter -> exact Jaccard verify -> pairs over
    threshold.  ``bucket_cap`` bounds degenerate band buckets (see
    :func:`minhash_candidate_pairs` for the recall contract); the verify
    plan follows the counted surviving-candidate volume (see
    :func:`jaccard_pairs`).

    ``sig_prefilter_margin`` (r7, measured): banding admits any pair agreeing
    on ONE band (``rows_per_band`` consecutive hashes), so most candidates are
    low-similarity band flukes — at 50k docs, 44,796 candidates of which only
    2,544 verify at threshold 0.5, with the signature match-count distribution
    bimodal (flukes <= 14/32 matching hashes, true pairs >= 25/32).  Before the
    (expensive, shingle-exploding) exact verify, drop candidates whose FULL
    signature agreement is below a cut of matching components — a
    2-long-arrays comparison per pair, no shingles touched.  Verify volume
    shrinks ~17x at the bench corpus.

    Recall contract: a true pair at jaccard j has match-count ~
    Binomial(n_hashes, j), so the prefilter's miss probability is the lower
    Binomial tail below the cut.  ``'auto'`` (the only mode) picks the LARGEST
    cut whose tail at j=threshold stays within the banding miss the pipeline
    already accepts at that same point (``P[Bin(n, t) <= cut-1] <=
    (1 - t^rows_per_band)^n_bands``) — self-calibrating across thresholds:
    at threshold 0.5 banding misses ~60% at the boundary, so the cut is an
    aggressive 17/32 (P[miss] ~5e-6 at the corpus' true-pair j>=0.83); at
    threshold 0.8 banding misses only 1.5%, so the cut backs off to 20/32
    (P[miss at j=0.82] ~0.1% vs banding's 0.8%).  At 1M docs and threshold
    0.8 it keeps 499,992 true pairs, equal to the prefilter-off result.
    ``None`` disables the prefilter and restores the verify-every-candidate
    plan; any other value raises ``ValueError``."""
    if sig_prefilter_margin not in ("auto", None):
        raise ValueError(
            f"sig_prefilter_margin must be 'auto' or None, got {sig_prefilter_margin!r}"
        )
    # materialize signatures once (tiny: one row of n_hashes longs per doc) — the
    # banding SELF-join would otherwise evaluate the whole shingle+hash subtree
    # twice.  In the capped mode the count below follows immediately, so the
    # checkpoint stays LAZY and the count job materializes it — one job for the
    # whole signature pipeline instead of an eager-checkpoint job plus a count
    # job (r7; the uncapped mode keeps the eager checkpoint because its first
    # consumer is the banding SELF-join, which would race two materializations)
    sigs = stage(
        minhash_signatures(df, text_col, id_col, n_hashes, shingle_n),
        eager=bucket_cap is None,
    )
    defer(partial(release_staged, sigs))
    # the count is near-free on the checkpointed frame and lets the banding skip
    # the whole cap machinery when n_docs <= bucket_cap (no bucket CAN be hot);
    # not needed at all in the uncapped mode
    n_docs = sigs.count() if bucket_cap is not None else None
    cands = minhash_candidate_pairs(sigs, n_bands, bucket_cap=bucket_cap, n_docs=n_docs)
    min_match = (
        _sig_prefilter_cut(threshold, n_hashes, n_bands)
        if sig_prefilter_margin == "auto"
        else 0
    )
    if min_match > 0:
        # two narrow equi-joins attach the checkpointed signatures to the
        # pair list (plain joins — sigs is corpus-sized at scale, never
        # broadcast); the agreement count is one codegen'd 2-array pass per
        # pair.  Shuffle volume is O(|cands|) rows of 2 ids + one
        # n_hashes-long array — bounded by the candidate volume LSH already
        # bounds, and repaid ~10x by the shrunken shingle verify.
        sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
        sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
        n_match = F.size(
            F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v)
        )
        cands = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(n_match >= F.lit(min_match))
            .select("doc_a", "doc_b")
        )
    return jaccard_pairs(df, text_col, id_col, cands, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the near-dup pair graph -> (doc_id, component)
    where ``component`` is the MINIMUM id reachable from the node — the cluster
    representative a dedup pipeline keeps.

    This is the missing last step after any pair operator (minhash / simhash /
    cosine / ivf near-dups): a mega-cluster of k near-identical docs has k^2/2
    pairs but only ONE representative — collapsing pairs to components turns the
    quadratic pair list into a linear keep/drop decision.

    Physical shape: min-label propagation over symmetrized edges — per round ONE
    shuffle (groupBy node over label messages), labels checkpointed each
    round (an (id, component) pair per node — never a wide table), early exit
    via a per-round count of changed labels.  Rounds needed = graph diameter; near-dup clusters are
    clique-ish (diameter 1-3).  For adversarially long chain graphs at extreme
    scale, swap in alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce") — same join/agg primitives, O(log n) rounds;
    raises after ``max_iter`` rounds rather than looping forever.

    Output covers every node that appears in a pair (singletons never enter the
    pair list and need no dedup decision).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    edges = stage(edges, eager=False)
    labels = stage(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component")),
        eager=False,
    )
    try:
        for _ in range(max_iter):
            msgs = edges.join(
                labels.withColumnRenamed("node", "src"), "src"
            ).select(F.col("dst").alias("node"), "component")
            new_labels = (
                msgs.unionByName(labels)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            new_labels = stage(new_labels)
            changed = (
                new_labels.join(labels.withColumnRenamed("component", "_old"), "node")
                .filter(F.col("component") != F.col("_old"))
                .count()
            )
            # the superseded round's checkpoint is dead once `changed` is
            # computed — release it or a high-diameter graph pins one
            # label-set copy per round
            release_staged(labels)
            labels = new_labels
            if changed == 0:
                # the result reads this checkpoint: it lives until the caller is done
                defer(partial(release_staged, labels))
                return labels.select(F.col("node").alias("doc_id"), "component")
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — graph "
            "diameter exceeds the bound; use a larger max_iter or a star-contraction "
            "variant for pathological chain graphs"
        )
    except BaseException:
        # a long-lived session that catches the error must not keep it pinned
        release_staged(labels)
        raise
    finally:
        release_staged(edges)


def simhash64(
    df: DataFrame, text_col: str, id_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """(doc_id, simhash bigint): weighted-bit majority over token hash features.

    Physical shape: explode tokens -> token hash (JVM) -> ONE groupBy(doc_id) carrying
    one sum aggregate per bit (per-bit +1/-1 votes, map-side partial agg) -> sign
    bitmap assembled with bitwise ORs.  Single shuffle on doc_id; no Python anywhere.

    hash_family:
      'xxhash64' (default, 64 bits) — the production family, fastest JVM hash.
      'md5'      (60 bits: first 15 hex chars of md5 via conv) — slower but
        reproducible in ANSI SQL engines; the oracle entry ``simhash_md5`` verifies
        the ENTIRE vote/assembly pipeline cross-engine with this family.
    """
    exploded = _spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")), "doc_id").select(
        "doc_id", F.explode(F.split(F.trim(F.regexp_replace(F.lower(F.col("_t")), r"\s+", " ")), " ")).alias("tok")
    )
    if hash_family == "xxhash64":
        n_bits = 64
        th = F.xxhash64("tok")
    elif hash_family == "md5":
        n_bits = 60
        th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    hashed = exploded.withColumn("th", th)
    # expression TEXT, not stacked Column objects (r7, measured): every Column
    # method is a py4j round trip, and 64 aggs x ~6 calls + a 64-term
    # projection put ~0.75 s of DRIVER-side DataFrame construction in front of
    # a 0.23 s query.  One F.expr per aggregate (and one for the assembly) is
    # ~65 py4j calls total; the parsed plans are semantically identical —
    # sum(CASE ...) over int literals and shiftleft(1L, bit) reproduce the old
    # Column tree's types and values bit-for-bit (shiftleft(1L, 63) wraps to
    # the negative min long exactly like the old bit-63 literal).
    aggs = [
        F.expr(
            "sum(CASE WHEN (shiftrightunsigned(th, {b}) & CAST(1 AS BIGINT)) = 1 "
            "THEN 1 ELSE -1 END) AS v{b}".format(b=bit)
        )
        for bit in range(n_bits)
    ]
    votes = hashed.groupBy("doc_id").agg(*aggs)
    assembly = " | ".join(
        "(CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)".format(b=bit)
        for bit in range(n_bits)
    )
    return votes.select("doc_id", F.expr(assembly).alias("simhash"))


def hamming_expr(a, b):
    """bit_count(a XOR b) — Spark's bit_count is JVM-side."""
    return F.bit_count(a.bitwiseXOR(b))


def _chunk_bounds(n_bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split ``n_bits`` into ``n_chunks`` contiguous (offset, width) spans.

    Widths differ by at most 1; the pigeonhole guarantee needs only the COUNT of
    chunks, not equal widths, so a 60-bit hash splits into 8 chunks as 4x8+4x7."""
    base, rem = divmod(n_bits, n_chunks)
    bounds, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        bounds.append((off, w))
        off += w
    return bounds


def hamming_pairs_probed(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int,
    n_bits: int = 64,
    n_chunks: int | None = None,
) -> DataFrame:
    """Large-N variant of :func:`hamming_pairs`: WIDE chunks + 1-bit multi-probe.

    The exact-chunk scheme needs n_chunks >= max_distance + 2, so at small
    max_distance the chunks are ~n_bits/(d+2) wide and buckets hold N/2^width rows —
    at N=10^6 and d=4 that is ~650 rows/bucket and the self-join materializes ~10^9
    candidate pairs.  Generalized pigeonhole fixes the selectivity: with ``c`` chunks
    some chunk carries <= floor(d/c) of the d errors, so probing every 1-bit flip of
    each chunk guarantees recall for d <= 2c - 1 with chunks TWICE as wide
    (e.g. d=4: c=3 chunks of ~21 bits -> buckets of N/2^21).  Probe volume is
    n_chunks x (width+1) keys per row on one side of an equi-join — linear in N,
    never quadratic.  XOR flips are symmetric, so joining probe(a) x exact(b) with
    a < b is complete.

    No hot-bucket refinement here: a hot 21-bit bucket means >=cap rows share a
    21-bit span — with real hash-like inputs that is a data-degeneracy signal;
    use :func:`hamming_pairs` (exact chunks + chunk-pair hot path) for adversarial
    corpora at moderate N.
    """
    if n_chunks is None:
        n_chunks = max(2, (max_distance + 2) // 2)
    if max_distance > 2 * n_chunks - 1:
        raise ValueError(
            f"1-bit-probe recall guarantee needs max_distance <= 2*n_chunks - 1 "
            f"(got n_chunks={n_chunks}, max_distance={max_distance})"
        )
    if n_chunks > n_bits:
        # zero-width chunks would bucket EVERY row together -> O(N^2) join
        raise ValueError(f"n_chunks={n_chunks} exceeds n_bits={n_bits}")
    bounds = _chunk_bounds(n_bits, n_chunks)
    ids = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    exact = ids.select(
        "_id",
        "_h",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_h"), off).bitwiseAND(
                        F.lit((1 << w) - 1)
                    )
                    for off, w in bounds
                ]
            )
        ).alias("_ci", "_cv"),
    )
    # probe side: exact value plus every 1-bit flip of the chunk
    probes = exact.select(
        "_id",
        "_h",
        "_ci",
        F.explode(
            F.array(
                F.col("_cv"),
                *[
                    F.col("_cv").bitwiseXOR(F.lit(1 << j))
                    for j in range(max(w for _, w in bounds))
                ],
            )
        ).alias("_cv"),
    )
    a, b = probes.alias("a"), exact.alias("b")
    cand = a.join(
        b,
        (F.col("a._ci") == F.col("b._ci"))
        & (F.col("a._cv") == F.col("b._cv"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a._h").alias("_ha"),
        F.col("b._h").alias("_hb"),
    )
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b", hamming_expr(F.col("_ha"), F.col("_hb")).alias("hamming")
        )
        .filter(F.col("hamming") <= max_distance)
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int,
    n_bits: int = 64,
    n_chunks: int | None = None,
    bucket_cap: int = 20_000,
) -> DataFrame:
    """EXACT near-dup pairs by hamming distance: all (id_a, id_b, hamming) with
    ``popcount(hash_a XOR hash_b) <= max_distance`` — guaranteed recall, never O(N^2).

    Recall guarantee (pigeonhole): with ``n_chunks`` chunks, a pair within distance d
    agrees on >= n_chunks - d chunks, so d <= n_chunks - 1 guarantees ONE shared
    chunk and d <= n_chunks - 2 guarantees TWO.  The default
    ``n_chunks = max_distance + 2`` keeps both margins, so:

    - normal buckets: self-join on (chunk_idx, chunk_value) finds every pair via its
      shared chunk;
    - HOT buckets (> ``bucket_cap`` members — e.g. a constant byte across the corpus
      that would make the single-chunk self-join |bucket|^2): their rows are excluded
      from the single-chunk join and instead joined on PAIRS of chunks
      (chunk_i, chunk_j, value_i, value_j).  Any qualifying pair shares >= 2 chunks;
      if any shared chunk's bucket is small the normal path finds it, and if all its
      shared chunks are hot, both rows carry the same hot chunk-pair key.  Random
      collisions in the pair join drop by another chunk-width factor, bounding the
      blowup a degenerate corpus can cause.

    One shuffle on the bucket key; bucket sizes come from a map-side-combined
    groupBy handled adaptively by :func:`_capped_self_pairs` — when no bucket is
    hot (the common case for hash-like inputs) the plan is the plain chunk join
    plus one count, and the pair-key path only activates on data that would
    otherwise be quadratic.  Raises if the requested ``n_chunks`` cannot honor
    the guarantee.
    """
    if n_chunks is None:
        n_chunks = max_distance + 2
    if max_distance > n_chunks - 2:
        raise ValueError(
            f"recall guarantee needs n_chunks >= max_distance + 2 "
            f"(got n_chunks={n_chunks}, max_distance={max_distance})"
        )
    if n_chunks > n_bits:
        raise ValueError(f"n_chunks={n_chunks} exceeds n_bits={n_bits}")
    bounds = _chunk_bounds(n_bits, n_chunks)
    ids = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    chunks = ids.select(
        "_id",
        "_h",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_h"), off).bitwiseAND(
                        F.lit((1 << w) - 1)
                    )
                    for off, w in bounds
                ]
            )
        ).alias("_ci", "_cv"),
    )
    pairs, _ = _capped_self_pairs(chunks, ["_ci", "_cv"], "_id", ["_h"], bucket_cap)
    return (
        pairs.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b", hamming_expr(F.col("_h_a"), F.col("_h_b")).alias("hamming")
        )
        .filter(F.col("hamming") <= max_distance)
    )


def phash_near_dups(images: DataFrame, max_distance: int = 8) -> DataFrame:
    """Image near-dups on the input table's phash column — EXACT recall via
    :func:`hamming_pairs` (guaranteed chunk scheme, hot-bucket safe)."""
    return hamming_pairs(images, "image_id", "phash", max_distance).select(
        F.col("id_a").alias("image_a"), F.col("id_b").alias("image_b"), "hamming"
    )


def _prefix_candidates(
    sh: DataFrame,
    threshold: float,
    doc_freq: str = "exact",
    hh_sample_inv: int = 20,
    hh_top_m: int = 1_000_000,
) -> DataFrame:
    """PPJoin/All-Pairs prefix-filtered candidate pairs from a distinct
    (doc_id, shingle) frame — EXACT for jaccard >= threshold.

    Lemma (Bayardo et al., All-Pairs; Xiao et al., PPJoin): order every doc's
    shingles by one GLOBAL total order; if |A ∩ B| >= α then the (|A| - α + 1)-prefix
    of A and the (|B| - α + 1)-prefix of B share an element.  jaccard >= t implies
    |A ∩ B| >= t·max(|A|, |B|) >= t·|X| for each side X, so joining only on each
    doc's (|X| - ⌈t·|X|⌉ + 1) RAREST shingles (global order = document frequency
    ascending, shingle value tiebreak) is a complete candidate generator.  A
    stop-shingle shared by f docs lands in almost no prefix, so its f² posting-list
    blowup never happens; the ε guard on the ceil keeps float t·|X| from rounding
    the required overlap UP (a longer prefix is always complete).

    The candidate join also applies the All-Pairs LENGTH filter:
    jaccard >= t forces min(|A|,|B|) >= t·max(|A|,|B|) (intersection is bounded
    by the smaller set, union by the larger), so size-mismatched pairs are
    dropped inside the join even when their prefixes overlap — measured 2.07x
    fewer candidates on a varied-length low-entropy 1M corpus at no cost on
    uniform-length corpora (BENCH.md round-6 addendum 8).

    ``doc_freq`` picks how the global frequency order is computed — the
    CANDIDATE SET may differ between modes, the operator's exact output never
    does (completeness holds for ANY deterministic global order; the verify
    stage rejects every impostor):

    - ``'exact'``: true per-shingle document frequency via a window — one full
      exchange of the shingle frame by shingle plus one back by doc_id.  Best
      pruning; the two full-frame exchanges are the pipeline's entire scratch
      footprint at corpus scale (measured: the 10M-doc run's shuffle spill
      exceeded this host's disk — BENCH.md round-6 addendum 5).
    - ``'sampled'``: frequencies estimated from a deterministic
      1/``hh_sample_inv`` hash-sample of the frame, kept only for heavy
      hitters (sample count >= 2, top ``hh_top_m`` by estimate) and
      broadcast-joined back; everything absent estimates 0.  The order is
      still a pure function of the global data (xxhash64 rows + tiebreak on
      the shingle string), so completeness is untouched.  NO full-frame
      exchange remains anywhere before the candidate self-join — per-doc rank
      and size fuse onto the caller's doc_id clustering — so shuffle bytes
      drop from ~2x the shingle frame to ~2x the PREFIX frame (~(1-t) of it).
      Pruning loses only shingles whose df is too small for the sample to
      see (their blowup is bounded by that same small df²) or pushed out of
      ``hh_top_m`` (cap the broadcast at ~16 MB/1M entries).

    Measured candidate inflation at 1M docs on the adversarial LOW-ENTROPY
    corpus (hex bodies; mid-df "tail" shingles df≈8..2000): exact 565k
    candidates vs sampled 10.4M at inv=100, 3.36M at inv=20, 3.07M at inv=10 —
    the default inv=20 catches df >= ~3·inv reliably and the residual junk
    comes from df < ~inv shingles no practical sample can see (each bounded by
    C(0.2·df, 2) pairs).  On high-entropy real text the shingle space is
    ~10^15, chance-shared low-df shingles are rare, and the gap vanishes.
    Rule: 'exact' prunes best and is the default; 'sampled' is the escape when
    the two full-frame exchanges are the binding scratch constraint (they were
    what killed the 10M-doc exact run — BENCH.md round-6 addendum 5).
    """
    if doc_freq not in ("exact", "sampled"):
        raise ValueError(f"unknown doc_freq {doc_freq!r}")
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("_df").asc(), F.col("shingle").asc()
    )
    w_doc = Window.partitionBy("doc_id")
    if doc_freq == "exact":
        # Physical shape (round-5 rework, measured at 1M docs — BENCH.md
        # addendum): document frequency, per-doc rank, and per-doc size are all
        # WINDOW functions instead of the former groupBy(freq)+merge-join /
        # groupBy(sizes)+merge-join pair.  The window-by-shingle pays the same
        # exchange+sort of the shingle frame the old SMJ side paid, but drops
        # the separate freq-frame aggregate and sort and BOTH merge joins; with
        # the caller feeding a doc_id-partitioned frame (see _spread_keyed) the
        # two per-doc windows fuse onto one exchange.  (History: a full freq
        # broadcast exhausted the driver at 1M docs — "Not enough memory to
        # build and broadcast" — and a shuffled hash-join variant OOM'd on 32
        # concurrent multi-million-entry build maps.  The 'sampled' mode
        # broadcast is immune to both: it is CAPPED at hh_top_m entries.)
        base = sh.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
    else:
        # driver-OOM guard (r7, ADVICE r6): the top-M frame is COLLECTED toward
        # the driver (TakeOrderedAndProject) and force-broadcast — ~16 MB per
        # 1M entries, so a runaway hh_top_m is a driver/executor OOM, not a
        # slow query.  10M (~160 MB broadcast) is already past any sensible
        # heavy-hitter list; refuse larger rather than fall over mid-job.
        if hh_top_m > 10_000_000:
            raise ValueError(
                f"hh_top_m={hh_top_m} exceeds the 10M broadcast-safety cap "
                "(~16 MB driver+executor memory per 1M entries; see docstring)"
            )
        inv = max(int(hh_sample_inv), 1)
        samp = (
            sh
            if inv == 1
            else sh.filter(F.pmod(F.xxhash64("shingle", "doc_id"), F.lit(inv)) == 0)
        )
        # >= 2 sampled sightings: a df=1 shingle fakes its way in with
        # p ~ inv^-2, so the noise floor stays ~rows/inv^2 entries; inv == 1
        # degenerates to the exact frequency table (used by tests)
        freq = (
            samp.groupBy(F.xxhash64("shingle").alias("_hh"))
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= (2 if inv > 1 else 1))
            .orderBy(F.col("_c").desc(), F.col("_hh"))
            .limit(hh_top_m)
        )
        # broadcast lookup keeps the probe side's doc_id clustering intact; a
        # hash collision merely hands a shingle the wrong estimate — the order
        # stays a deterministic global total order (string tiebreak), so only
        # the candidate count can change, never completeness
        base = (
            sh.withColumn("_hh", F.xxhash64("shingle"))
            .join(F.broadcast(freq), "_hh", "left")
            .withColumn("_df", F.coalesce(F.col("_c"), F.lit(0)))
            .drop("_hh", "_c")
        )
    ranked = base.withColumn("_rn", F.row_number().over(w_rank)).withColumn(
        "n_sh", F.count("*").over(w_doc)
    )
    alpha = F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    # the self-join keys on xxhash64(shingle), not the string: sorting/shuffling
    # 8-byte longs beats 8-char strings, and a hash COLLISION only ADDS a
    # candidate pair (join on hash ⊇ join on string) — completeness is
    # preserved and the exact verify stage rejects any impostor, so the
    # operator's exactness contract is untouched.  The prefix subtree is
    # referenced twice (both self-join sides) but NOT persisted: each side
    # ends in an isomorphic Exchange(_sh), so ReusedExchange computes the
    # whole rank pipeline once and replays the shuffle files for the second
    # side — a measured DISK_ONLY persist here only ADDED cache write/read
    # cost on top of the reuse Catalyst already performs (BENCH.md round-6).
    prefix = ranked.filter(F.col("_rn") <= F.col("n_sh") - alpha + 1).select(
        "doc_id", F.xxhash64("shingle").alias("_sh"), F.col("n_sh").cast("int").alias("_n")
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), "_sh", F.col("_n").alias("_na"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "_sh", F.col("_n").alias("_nb"))
    # LENGTH filter (All-Pairs/Bayardo): jaccard >= t needs |A∩B| >= t·|A∪B|,
    # and |A∩B| <= min(|A|,|B|), |A∪B| >= max(|A|,|B|), so min >= t·max is
    # NECESSARY — pruning size-mismatched pairs here (before the distinct and
    # the verify join) is complete.  Sizes ride the prefix shuffle as a 4-byte
    # int; the ε guard keeps float t·n from rounding an eligible pair out.
    return (
        a.join(b.hint("merge"), "_sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("_na", "_nb").cast("double")
                >= F.lit(threshold) * F.greatest("_na", "_nb") - F.lit(1e-9)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 8,
    doc_freq: str = "exact",
) -> DataFrame:
    """EXACT all-pairs character n-gram Jaccard >= threshold — prefix-filtered
    inverted-index join (PPJoin-style), never the N^2 cross product.

    ``doc_freq='sampled'`` switches the prefix filter's frequency order to the
    sampled heavy-hitter estimate (see :func:`_prefix_candidates`) — identical
    exact output, no full-frame exchange left in candidate generation; the
    corpus-scale choice when shuffle scratch is the binding constraint.

    Candidates come from :func:`_prefix_candidates` — each doc joins only on its
    (1-t)·|doc|+1 globally-rarest shingles, which is provably complete for
    threshold t and kills the stop-shingle f² blowup the plain inverted index
    suffers on web corpora (common 8-grams shared by a constant fraction of all
    docs would otherwise make the join quadratic in practice).  Intersection sizes
    then come from the FULL shingle sets of candidate docs only; union sizes from
    per-doc distinct-shingle counts.  This is also the oracle-checkable verify
    stage of MinHash-LSH (the probabilistic pipeline's output is a subset of this
    result by construction).

    The distinct-shingle frame is written once as a doc_id-bucketed table (see
    :func:`_materialize_shingles`) and read by each consumer (sizes, frequency
    ranking, and both verify join sides).  It is built before any candidate
    exists, so unlike :func:`jaccard_pairs` there is no pair count to choose a
    plan by.  Measured at 1M docs, ABAB probe-bracketed: 144-158 s persisted ->
    60-66 s bucketed, identical pairs.  EAGER (the write happens at call time);
    ``session.release_deferred`` drops the table.
    """
    # _spread_keyed: the pre-explode corpus shuffles ONCE by doc_id so that the
    # distinct below — whose keys (doc_id, shingle) are clustered by doc_id —
    # and the per-doc windows inside _prefix_candidates need no exchange of the
    # ~10x-larger shingle frame (measured at 1M docs, BENCH.md round-5 addendum)
    tgt = _bucket_target(df)
    norm = _spread_keyed(
        df.select(F.col(id_col).alias("doc_id"), _normalized(text_col)), "doc_id", tgt
    )
    ref = _materialize_shingles(_shingle_stream(norm, shingle_n).distinct(), tgt)
    sh = ref()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    cand = _prefix_candidates(sh, threshold, doc_freq=doc_freq)
    # verify: intersection over the FULL shingle sets, restricted to candidates
    # (merge hints: Catalyst statically broadcast the corpus shingle frame `a`
    # here at 1M docs — same estimate trap as jaccard_pairs; not on the bench
    # path, so SMJ everywhere).  `a` and `b` are INDEPENDENT bucketed table
    # reads, each carrying its own bucket partitioning — the b-side joins with
    # no exchange and no sort.
    a = ref().select(F.col("doc_id").alias("doc_a"), "shingle")
    b = ref().select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a.hint("merge"), "doc_a")
        .hint("merge")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
