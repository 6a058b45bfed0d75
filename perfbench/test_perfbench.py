"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

None of them starts Spark: the generator, the percentile rule, the
metric names and the oracle checks are plain Python and DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import gen, queries, run
from perfbench.curate import PARAGRAPH_TWIN, same_table
from perfbench.trace import tail
from perfbench.workloads import Ctx, Ops, QueryLog, Result

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _md5(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        gen.write_events(d, seed, 2000, 2)
        gen.write_documents(d, seed, 120)
    for name in ("events.parquet", "documents.parquet"):
        assert _md5(f"{a}/{name}") == _md5(f"{b}/{name}")
        assert _md5(f"{a}/{name}") != _md5(f"{c}/{name}")


def test_generator_plants_what_it_reports(tmp_path):
    props = gen.write_documents(str(tmp_path), 1, 400)
    texts = pq.read_table(f"{tmp_path}/documents.parquet").column("text").to_pylist()
    # docs built only from shared pool paragraphs can also coincide
    assert len(texts) - len(set(texts)) >= props["planted_exact"]
    assert props["planted_near"] > 0
    # events have distinct timestamps, so no (series, ts) key repeats
    props = gen.write_events(str(tmp_path), 1, 3000, 2)
    ts = pq.read_table(f"{tmp_path}/events.parquet").column("ts").to_pylist()
    assert len(set(ts)) == len(ts) == props["points"]
    assert props["days"] == 2 and 0 < props["series"] <= props["points"]


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    assert e2e.keys() == run.END_TO_END.keys()
    assert layers.keys() == run.PER_LAYER.keys()
    for name, unit in {**run.END_TO_END, **run.PER_LAYER, **run.RECORD_UNITS}.items():
        assert NAME.fullmatch(name) and len(name) <= 64, name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
    for m in {**e2e, **layers}.values():
        assert m["unit"] == {**run.END_TO_END, **run.PER_LAYER}[m["name"]]
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize(
    "n, value, pct, beyond",
    [
        (100, 90, 90.0, 10),
        (1000, 990, 99.0, 10),
        (11, 1, 100 / 11, 10),
        (20, 10, 50.0, 10),
        (10, 10, 100.0, 0),
    ],
)
def test_tail_reports_percentile_and_samples_beyond(n, value, pct, beyond):
    xs = list(range(n, 0, -1))  # order must not matter
    got = tail(xs)
    assert got[0] == value and got[1] == pytest.approx(pct) and got[2] == beyond
    assert sum(x > got[0] for x in xs) == got[2]


def _query_log(work: str) -> tuple[QueryLog, Result]:
    res = Result()
    ctx = Ctx(spark=None, seed=0, seconds=0, work=work, session_s=0.0)
    return QueryLog(ctx, Ops(ctx, res)), res


@pytest.mark.parametrize("mode", ["aligned", "greedy"])
def test_query_oracle_check_fails_on_perturbed_result(tmp_path, mode):
    d = str(tmp_path)
    gen.write_events(d, 2, 3000, 2)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    sig = dict(queries.dashboard_panels(2)[2], mode=mode)
    want = queries.oracle_rows(con, d, sig)
    assert want
    g, s, e, v, n = want[0]
    perturbed = [
        [(g, s, e, v + 1e-3, n)] + want[1:],   # a value
        [(g, s, e, v, n + 1)] + want[1:],      # a bucket length
        want[1:],                              # a missing row
    ]
    ql, res = _query_log(d)
    ql.checks = [(sig, want, d)] + [(sig, rows, d) for rows in perturbed]
    assert ql.verify(con) == len(perturbed)
    assert res.failed == len(perturbed)


def test_curate_check_fails_on_perturbed_result():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 0.25)]
    assert same_table(list(reversed(rows)), rows)
    assert not same_table([(1, "a", 0.5001)] + rows[1:], rows)
    # a score rounded to six decimals may differ by one unit, not two
    assert same_table([(1, "a", 0.504688)], [(1, "a", 0.504687)])
    assert not same_table([(1, "a", 0.504689)], [(1, "a", 0.504687)])
    assert not same_table([(1, "x", 0.5)] + rows[1:], rows)
    assert not same_table(rows[:2], rows)


def test_paragraph_twin_reads_an_emptied_document_as_md5_of_empty():
    con = duckdb.connect()
    twin = (
        "SELECT * FROM (VALUES (1, 2, 2, NULL), (2, 2, 1, NULL), "
        "(3, 1, 0, 'h')) t(doc_id, n_paras, removed_paras, clean_hash)"
    )
    got = dict((r[0], r[3]) for r in con.sql(PARAGRAPH_TWIN.format(twin=twin)).fetchall())
    assert got == {1: hashlib.md5(b"").hexdigest(), 2: None, 3: "h"}


def test_fails_without_printing_where_the_engine_is_missing(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout == ""
