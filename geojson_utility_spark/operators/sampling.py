"""Deterministic sampling operators for large-scale training-data pipelines.

A 100 TB pipeline cannot use RNG-state sampling (``df.sample``/``sampleBy`` are
partition-layout- and seed-stream-dependent): held-out splits must be a PURE
FUNCTION of row identity so every run, engine, and backfill selects the same
rows.  These operators key every decision on a hash of the row's id:

- :func:`stratified_sample` — deterministic Bernoulli per stratum: keep iff
  ``bucket(hash(key, seed)) < fraction * 1e6``, the fraction picked by one CASE
  over the stratum; unlisted strata keep fraction 0.  A pure codegen filter:
  zero shuffle, predicate evaluated at the scan, scales embarrassingly.
- :func:`reservoir_k` — EXACT k rows per stratum, deterministically: rank by
  (hash, key) within the stratum and keep rank <= k ("deterministic
  reservoir").  One window shuffle keyed on the stratum; for degenerate
  fat-stratum inputs at extreme N the operator automatically engages a
  two-phase top-k pre-filter (see its docstring) so no stratum ever feeds
  >~10^7 rows to the rank sort.

hash_family:
  'xxhash64' (default) — the production family: fastest JVM hash, whole-stage
    codegen, pinned against the repo's independent pure-Python XXH64 by pytest.
  'md5'      — the SQL-reproducible family (first 15 md5 hex chars -> 60-bit
    int, the ``simhash_md5`` recipe): lets an ANSI-SQL engine reproduce the
    selection bit-for-bit — the ``sample_stratified`` driver entry's oracle.

Both families compose the seed the same way: it is appended to the key string
(``concat(key, ':', seed)``) before hashing.  Spark's ``xxhash64`` algorithm
seed is fixed at 42 (extra arguments are hashed as additional columns, not
used as the xxh seed), so folding the seed into the key is the one composition
rule that an external engine — or the repo's pure-Python XXH64 — can reproduce
by hashing a single string.

Buckets are ``hash mod 1_000_000`` (md5: over a 60-bit non-negative value;
xxhash64: ``pmod`` of the signed 64-bit).  The modulo bias over 2^60 buckets is
~1e-12 — and irrelevant for correctness testing because the oracle reproduces
the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _bucket(key: Column, seed: int, hash_family: str) -> Column:
    """Uniform bucket in [0, 1e6) as a deterministic function of (key, seed).

    One composition rule for both families: hash the single string
    ``key || ':' || seed``.  (Spark's ``xxhash64`` with multiple arguments
    hashes extras as additional columns with the algorithm seed fixed at 42 —
    NOT as the xxh seed — so string-folding is the only composition an
    external engine can reproduce by hashing one string; the pure-Python XXH64
    parity pytest covers exactly that single-string case.)"""
    seeded = F.concat(key.cast("string"), F.lit(f":{seed}"))
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(seeded), F.lit(_BUCKETS))
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5(seeded), 1, 15), 16, 10).cast("long")
        return F.pmod(h, F.lit(_BUCKETS))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(round(fraction * _BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic fractions (unlisted strata are dropped).

    One CASE maps the stratum to its integer threshold, compared against the
    row's hash bucket — a single codegen filter, no shuffle, no per-stratum
    scans (``sampleBy`` semantics, reproducibility ``sampleBy`` lacks)."""
    expr: Column = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(_threshold(frac))
        ).otherwise(expr)
    return df.filter(_bucket(F.col(key_col), seed, hash_family) < expr)


def _temp_col(df: DataFrame, base: str) -> str:
    """A temp column name guaranteed absent from ``df`` (no silent clobber)."""
    name = base
    while name in df.columns:
        name = "_" + name
    return name


#: Engage the two-phase pre-filter when a stratum would feed more rows than
#: this to the per-stratum rank sort (a 10^7-row sort fits one executor; a
#: 10^9-row degenerate stratum does not).
PREFILTER_ROW_THRESHOLD = 10_000_000


def reservoir_k(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    k: int,
    seed: int = 42,
    hash_family: str = "xxhash64",
    n_hint: int | None = None,
) -> DataFrame:
    """EXACT k rows per stratum, deterministic: rank by (hash bucket, key).

    The key tiebreak makes the selection total-order-stable even across bucket
    collisions, so the output is unique and engine-reproducible.

    Extreme-N escape (two-phase top-k): a degenerate fat stratum (worst case a
    single-stratum input) would globally sort its entire row set under the
    rank window.  When the largest stratum exceeds
    :data:`PREFILTER_ROW_THRESHOLD` rows — known either from the caller's
    ``n_hint`` (max rows in any one stratum; pass it to skip the probe) or
    from a cheap map-side-combined ``groupBy(strata).count()`` probe — the
    operator first keeps only rows whose bucket falls below a pre-filter
    threshold sized so each fat stratum retains ``max(2k, k + 10*sqrt(k))``
    expected candidates, then ranks the survivors.  Exactness is preserved:
    the pre-filter keeps EVERY row with bucket < T, so if >= k rows survive in
    a stratum, the k smallest (bucket, key) rows overall are all among the
    survivors.  If a stratum under-fills (< k survivors — probability ~1e-7 at
    the chosen margin), that stratum alone is re-ranked from the full input
    and unioned back, keeping the result identical to the unfiltered rank.

    The probe (and the under-fill check) make the operator EAGER when the
    escape engages — same documented trade as the adaptive hot-bucket cap in
    ``dedup.py``: a provably-tiny collect that prevents an unbounded sort.
    With ``n_hint`` below the threshold, or a probe that comes back small, the
    plan is the original single-window lazy plan, unchanged."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bucket = _bucket(F.col(key_col), seed, hash_family)

    def rank_top_k(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy(strata_col).orderBy(bucket, F.col(key_col))
        rk = _temp_col(frame, "_rk")
        return (
            frame.withColumn(rk, F.row_number().over(w))
            .filter(F.col(rk) <= k)
            .drop(rk)
        )

    max_stratum = n_hint
    if max_stratum is None:
        # Cheap probe: map-side-combined count per stratum, tiny result.  Only
        # the strata column is scanned (column pruning) — at any scale this is
        # orders of magnitude cheaper than the sort it sizes.
        probe = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
        max_stratum = max((r["n"] for r in probe), default=0)
    if max_stratum <= PREFILTER_ROW_THRESHOLD:
        return rank_top_k(df)

    import math

    expected = max(2 * k, k + int(10 * math.sqrt(k)))
    threshold = min(_BUCKETS, max(1, math.ceil(_BUCKETS * expected / max_stratum)))
    survivors = df.filter(bucket < F.lit(threshold))
    counts = survivors.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    # Compare against the strata that exist in the INPUT: a stratum whose
    # survivors all fell above T disappears from `counts` entirely.
    all_strata = {r[strata_col] for r in df.select(strata_col).distinct().collect()}
    filled = {r[strata_col] for r in counts.filter(F.col("n") >= k).collect()}
    underfilled = all_strata - filled

    def member(values: set) -> Column:
        # isin() never matches NULL; a NULL stratum is a legal window group.
        non_null = [v for v in values if v is not None]
        cond = F.col(strata_col).isin(non_null) if non_null else F.lit(False)
        if None in values:
            cond = cond | F.col(strata_col).isNull()
        return cond

    out = rank_top_k(survivors.filter(member(filled)))
    if underfilled:
        out = out.unionByName(rank_top_k(df.filter(member(underfilled))))
    return out
