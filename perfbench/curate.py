"""The ``curate`` workload: a seeded ``documents.parquet`` through a
fixed chain of ``talna_spark.pipeline`` operators, each checked against
its ``*_sql`` DuckDB twin.

Chain: exact survivors -> MinHash-LSH near-duplicate pairs -> dedup of a
new split against a reference split with the Bloom prefilter ->
paragraph dedup -> the quality battery (soft quality score, Gopher and
C4 rule batteries).
"""

from __future__ import annotations

import math
import time

import duckdb

from perfbench import gen
from perfbench.trace import contention, median
from perfbench.workloads import (
    CURATE_DOCS, WARMUP_PASSES, Ops, Result, end_loop, log, setup,
    spark_layers,
)

STEP_LAYER = {
    "exact": "dedup.exact_s",
    "lsh": "dedup.lsh_pairs_s",
    "against": "dedup.bloom_against_s",
    "paragraph": "dedup.paragraph_s",
    "quality": "text.quality_s",
    "gopher": "text.quality_s",
    "c4": "text.quality_s",
}


# DuckDB's array_to_string returns NULL for an empty list, so the twin
# reports a NULL clean_hash for a document whose every paragraph was
# removed (a planted exact duplicate), where the reassembled text is ''.
# The check reads that case as md5(''), the engine's answer.
PARAGRAPH_TWIN = (
    "SELECT doc_id, n_paras, removed_paras, CASE WHEN clean_hash IS NULL "
    "AND removed_paras = n_paras THEN md5('') ELSE clean_hash END "
    "AS clean_hash FROM ({twin})"
)


def _steps(spark, docs_dir: str) -> list[tuple[str, object, str]]:
    """(name, DataFrame factory, twin SQL) for each step of the chain."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline import dedup, text

    def against():
        d = spark.read.parquet(f"{docs_dir}/documents.parquet")
        out = dedup.dedup_against_frames(
            new_d=d.filter(F.col("doc_id") % 3 != 0),
            ref_d=d.filter(F.col("doc_id") % 3 == 0),
            bloom_bits=dedup.BLOOM_BITS,
        )
        # the twin folds nullable outputs to sentinels
        return out.select(
            "doc_id", "verdict",
            F.coalesce("ref_doc_id", F.lit(-1)).cast("long").alias("ref_doc_id"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        )

    return [
        ("exact", lambda: dedup.exact_survivors(spark, docs_dir),
         dedup.exact_survivors_sql()),
        ("lsh", lambda: dedup.lsh_near_dup_pairs(spark, docs_dir),
         dedup.lsh_near_dup_pairs_sql()),
        ("against", against, dedup.dedup_against_docs_sql()),
        ("paragraph", lambda: dedup.paragraph_dedup(spark, docs_dir),
         PARAGRAPH_TWIN.format(twin=dedup.paragraph_dedup_sql())),
        ("quality", lambda: text.quality(spark, docs_dir), text.quality_sql()),
        ("gopher", lambda: text.gopher_rules(spark, docs_dir),
         text.gopher_rules_sql()),
        ("c4", lambda: text.c4_rules(spark, docs_dir), text.c4_rules_sql()),
    ]


def _norm(v):
    return round(v, 6) if isinstance(v, float) else v


def same_table(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality of rows; floats agree to one unit in the sixth
    decimal. Both sides round scores to six decimals, and two unrounded
    values that differ in their last bits can straddle a rounding tie
    (0.504688 against 0.504687 on seed 206's documents)."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((v is None, str(_norm(v))) for v in r)  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    x, y, rel_tol=1e-9, abs_tol=1.5e-6
                ):
                    return False
            elif x != y:
                return False
    return True


def curate(ctx) -> Result:
    res = Result()
    ops = Ops(ctx, res)
    setup_s, outs = setup(
        ctx, lambda r: (ctx.path(f"in{r}"),
                        gen.write_documents(ctx.path(f"in{r}"), ctx.seed, CURATE_DOCS)),
    )
    docs_dir, props = outs[-1]
    steps = _steps(ctx.spark, docs_dir)
    results: dict[str, list] = {}

    def chain(passes: list[float], step_s: dict) -> None:
        p0 = time.perf_counter()
        for name, make, _ in steps:
            out, dt = ops.run(
                name, lambda: (lambda df: (df, df.collect()))(make())
            )
            step_s.setdefault(name, []).append(dt)
            if out is not None:
                results.setdefault(name, []).append(
                    ([tuple(r) for r in out[1]], out[0].columns)
                )
        passes.append(time.perf_counter() - p0)
        log(f"pass {len(passes)}: {passes[-1]:.2f}s")
        # a full collection between passes, outside their timing: with the
        # serial collector the old generation otherwise keeps what every
        # pass promoted, and peak memory grows with the passes that fit
        # the loop rather than with what one pass needs
        ctx.spark.sparkContext._jvm.System.gc()

    # untimed passes warm the JVM; their wall counts toward set-up time,
    # so work moved into them shows there too
    warm: list[float] = []
    for _ in range(WARMUP_PASSES):
        chain(warm, {})
    setup_s += sum(warm)
    setup_traces = len(ops.traces)
    passes: list[float] = []
    step_s: dict[str, list[float]] = {}
    host0 = contention()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds:
        chain(passes, step_s)
    host = end_loop(ctx, host0)

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_dir}/documents.parquet')"
    )
    for name, _, sql in steps:
        rel = con.sql(sql)
        want, cols = rel.fetchall(), rel.columns
        for rows, got_cols in results.get(name, []):
            idx = [got_cols.index(c) for c in cols]
            if not same_table([tuple(r[i] for i in idx) for r in rows], want):
                ops.fail(f"curate step {name}")
    log("checked")

    pairs = results.get("lsh", [([], [])])[0][0]
    planted = props["planted_exact"] + props["planted_near"]
    removed_per_planted = len({r[1] for r in pairs}) / max(1, planted)
    docs_per_s = CURATE_DOCS * len(passes) / sum(passes)
    res.record = {
        "setup_s": setup_s,
        "passes": len(passes),
        "pass_p50_ms": median(passes) * 1e3,
        "docs_per_s": docs_per_s,
        "removed_per_planted": removed_per_planted,
        "inputs": props,
        **host,
    }
    res.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": median(passes) * 1e3,
        "throughput_per_s": docs_per_s,
    }
    if ctx.tracer is not None:
        layers = dict.fromkeys(set(STEP_LAYER.values()), 0.0)
        for name, xs in step_s.items():
            layers[STEP_LAYER[name]] += median(xs)
        layers["dedup.bloom_fp_estimate"] = _bloom_fp(ctx.spark, docs_dir)
        layers["dedup.removed_per_planted"] = removed_per_planted
        res.layers = {**layers, **spark_layers(ops.traces[setup_traces:])}
    return res


def _bloom_fp(spark, docs_dir: str) -> float:
    """Expected false-positive rate of the reference split's bitmap."""
    from pyspark.sql import functions as F

    from talna_spark.pipeline.dedup import BLOOM_BITS, bloom_build, bloom_fp_estimate

    ref = spark.read.parquet(f"{docs_dir}/documents.parquet").filter(
        F.col("doc_id") % 3 == 0
    )
    bm = bloom_build(ref.select(F.md5("text").alias("_h")), "_h", m=BLOOM_BITS)
    return bloom_fp_estimate(bm, BLOOM_BITS)
