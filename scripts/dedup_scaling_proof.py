#!/usr/bin/env python
"""Two-parallelism scaling evidence for the DEDUP flagship (VERDICT r5 task 1).

Same methodology as scripts/scaling_proof.py (the spatial-join proof that
answers BASELINE.json's north rule): the IDENTICAL composed dedup job —
MinHash-LSH pair generation -> connected-components collapse -> per-doc
keep/drop table (the `dedup_pipeline` driver entry's exact composition,
entry_queries.q_dedup_pipeline) — at local[N] and local[4N] over the SAME
1M-doc parquet input, with the whole process tree taskset-pinned to each
level's core budget and a per-level CPU probe (hostprobe kernel, pinned to the
same cores) recorded so host phase noise is visible.

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4        target >= 0.8

Correctness gate inside the measurement: both levels must produce IDENTICAL
(rows, representatives, pair_count) — 1,000,000 rows / 500,000 representatives
/ 500,000 pairs on the planted corpus (doc i and doc i+500k share a body and
differ by a one-word suffix, jaccard > 0.8 only for the planted pairs).

Each level runs in a fresh JVM subprocess (GC/thread-pool state cannot leak
between measurements); the timed section is best-of-3 end-to-end pipeline
walls (pairs are re-derived each rep — nothing persisted survives between
reps because dedup_components consumes and unpersists its inputs per round).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS_PATH = "/tmp/dedup_scaling_docs_{n}.parquet"

RUN_ONE = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
cores = int(sys.argv[1])
n_docs = int(sys.argv[2])
docs_path = sys.argv[3]
from pyspark.sql import functions as F
from geojson_utility_spark.session import get_spark
from geojson_utility_spark.hostprobe import cpu_probe_best
from geojson_utility_spark.operators.dedup import dedup_components, minhash_near_dups

spark = get_spark(app_name=f"dedup_scale_{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=cores)
half = n_docs // 2
if not os.path.exists(docs_path + "/_SUCCESS"):
    # planted corpus: doc i and doc i+half share a 128-char body, differ by suffix
    (spark.range(0, n_docs, 1, max(64, cores * 4)).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.pmod(F.col("id"), half).cast("string")),
            F.md5((F.pmod(F.col("id"), half) * 3 + 1).cast("string")),
            F.md5((F.pmod(F.col("id"), half) * 7 + 2).cast("string")),
            F.md5((F.pmod(F.col("id"), half) * 13 + 3).cast("string")),
            F.when(F.col("id") < half, F.lit(" alpha")).otherwise(F.lit(" beta")),
        ).alias("text"),
    ).write.mode("overwrite").parquet(docs_path))
docs = spark.read.parquet(docs_path)
# warm the page cache so the timed section measures compute scaling, not cold I/O
docs.agg(F.count("doc_id"), F.sum(F.length("text"))).collect()

def pipeline():
    # pairs checkpointed once (tiny frame) so the identical-outputs gate gets
    # the pair count from the SAME timed pass — components reads the
    # checkpoint, exactly one verify execution either way
    pairs = minhash_near_dups(docs, "text", "doc_id", threshold=0.8).localCheckpoint()
    n_pairs = pairs.count()
    comps = dedup_components(pairs)
    keep = F.coalesce(F.col("component"), F.col("doc_id"))
    out = docs.select("doc_id").join(comps, "doc_id", "left").select(
        "doc_id", keep.alias("keep_doc_id"),
        (keep == F.col("doc_id")).alias("is_representative"))
    r = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_representative").cast("long")).alias("reps"),
    ).collect()[0]
    return r, n_pairs

from geojson_utility_spark.session import release_deferred
n_reps = int(os.environ.get("DEDUP_SCALING_REPS", "3"))
probe_before = round(cpu_probe_best(spark, cores), 3)
best, stats = None, None
for rep in range(n_reps):
    release_deferred()
    t0 = time.perf_counter()
    r, n_pairs = pipeline()
    dt = time.perf_counter() - t0
    if best is None or dt < best:
        best = dt
    stats = (r["rows"], r["reps"], n_pairs)
    print(json.dumps({{"rep": rep, "sec": round(dt, 2)}}), file=sys.stderr, flush=True)
probe_after = round(cpu_probe_best(spark, cores), 3)
print(json.dumps({{"cores": cores, "sec": round(best, 2), "rows": stats[0],
                   "reps": stats[1], "pairs": stats[2], "docs_per_sec": n_docs / best,
                   "probe_before": probe_before, "probe_after": probe_after}}))
spark.stop()
"""


def run_level(cores: int, n_docs: int) -> dict:
    script = RUN_ONE.format(repo=REPO)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    # taskset pins JVM + Python workers to the level's core budget — unpinned,
    # the small level silently borrows the machine's idle cores (measured on
    # the spatial proof: 44.9 s unpinned vs 53.4 s pinned at 8 cores).
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", script,
         str(cores), str(n_docs), DOCS_PATH.format(n=n_docs)],
        capture_output=True, text=True, cwd=REPO, timeout=5400, env=env,
    )
    sys.stderr.write(out.stderr[-3000:])
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no result from local[{cores}]: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    n_docs = int(os.environ.get("DEDUP_SCALING_DOCS", "1000000"))
    n_small = int(os.environ.get("SCALING_N", "8"))
    r_small = run_level(n_small, n_docs)
    r_big = run_level(n_small * 4, n_docs)
    eff = (r_big["docs_per_sec"] / r_small["docs_per_sec"]) / 4.0
    # machine ceiling from the SAME runs' probe brackets: the hostprobe is a
    # pure whole-stage-codegen kernel with zero engine code — its own N->4N
    # scaling bounds what ANY job can show on this host (frequency scaling +
    # SMT: 8 active threads run on boosted full cores, 32 share 16 physical).
    p_small = min(r_small["probe_before"], r_small["probe_after"])
    p_big = min(r_big["probe_before"], r_big["probe_after"])
    ceiling = (p_small / p_big) / 4.0
    same = (r_small["rows"], r_small["reps"], r_small["pairs"]) == (
        r_big["rows"], r_big["reps"], r_big["pairs"]
    )
    result = {
        "job": "dedup_pipeline (minhash pairs -> components -> keep/drop)",
        "input_docs": n_docs,
        "small": r_small,
        "big": r_big,
        "outputs_identical": same,
        "scaling_efficiency": round(eff, 3),
        "machine_ceiling": round(ceiling, 3),
        "efficiency_vs_ceiling": round(eff / ceiling, 3),
        "target": 0.8,
        "pass": bool(eff >= 0.8 and same),
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(
            f"\n## Dedup-flagship scaling proof ({time.strftime('%Y-%m-%d %H:%M:%S')})\n\n"
            f"Identical composed dedup job (minhash_near_dups t=0.8 -> "
            f"dedup_components -> keep/drop table; {n_docs:,} docs, {n_docs // 2:,} planted "
            f"near-dup pairs) at two parallelism levels, process tree pinned per "
            f"level, best-of-{os.environ.get('DEDUP_SCALING_REPS', '3')}:\n\n"
            f"| level | wall sec | rows / reps / pairs | docs/sec | probe before/after |\n"
            f"|---|---|---|---|---|\n"
            f"| local[{r_small['cores']}] | {r_small['sec']:.2f} | "
            f"{r_small['rows']:,} / {r_small['reps']:,} / {r_small['pairs']:,} | "
            f"{r_small['docs_per_sec']:.0f} | "
            f"{r_small['probe_before']} / {r_small['probe_after']} |\n"
            f"| local[{r_big['cores']}] | {r_big['sec']:.2f} | "
            f"{r_big['rows']:,} / {r_big['reps']:,} / {r_big['pairs']:,} | "
            f"{r_big['docs_per_sec']:.0f} | "
            f"{r_big['probe_before']} / {r_big['probe_after']} |\n\n"
            f"Outputs identical across levels: **{same}**.  Scaling efficiency "
            f"N->4N: **{eff:.3f}** raw (target >= 0.8: "
            f"{'PASS' if eff >= 0.8 else 'FAIL'}); same-run machine ceiling "
            f"(hostprobe N->4N) **{ceiling:.3f}** -> job-vs-ceiling "
            f"**{eff / ceiling:.3f}**\n"
        )


if __name__ == "__main__":
    main()
