"""Checks of the benchmark itself; no Spark session is started.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pipebench import inputs  # noqa: E402
from pipebench.trace import TAIL_MIN_BEYOND, tail  # noqa: E402
from pipebench.workloads import WORKLOADS, Op, check_counts, failed_frac, sink_rows  # noqa: E402
from watchman_spark.config import GrokPattern, load_config  # noqa: E402
from watchman_spark.sources.warehouse import ParquetWarehouse  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
    assert len(spec["command"]) <= 32 and all(len(c) <= 200 for c in spec["command"])
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert len(json.dumps(spec)) <= 64 * 1024


def test_metric_names_and_caps(spec):
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in spec["workloads"] + e2e + layers]
    assert len(names) == len(set(names))
    for m in e2e + layers:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_tail_keeps_ten_samples_beyond():
    rng = random.Random(7)
    for n in list(range(TAIL_MIN_BEYOND + 1, 60)) + [100, 1000]:
        xs = [rng.random() for _ in range(n)]
        value, pct, count = tail(xs)
        assert count == n
        assert sum(1 for x in xs if x > value) >= TAIL_MIN_BEYOND
        assert pct == pytest.approx(100.0 * (n - TAIL_MIN_BEYOND) / n)
    # ties: ten ranks stay above the reported one
    xs = [1.0] * 30 + [2.0] * 10
    assert tail(xs)[0] == 1.0
    with pytest.raises(ValueError):
        tail([1.0] * TAIL_MIN_BEYOND)


def _tables(inp: inputs.InputSet) -> list[pa.Table]:
    return [pq.read_table(f) for f in inp.files]


@pytest.mark.parametrize(
    "make",
    [
        lambda work, seed: inputs.wide_corpus(work, seed, n_convs=20),
        lambda work, seed: inputs.stream_files(work, seed, n_files=3),
    ],
    ids=["wide", "stream"],
)
def test_inputs_are_a_function_of_the_seed(tmp_path, make):
    a = make(str(tmp_path / "a"), 5)
    b = make(str(tmp_path / "b"), 5)
    c = make(str(tmp_path / "c"), 6)
    assert a.gen_s > 0 and b.gen_s > 0  # both generated, nothing shared
    assert [t.equals(u) for t, u in zip(_tables(a), _tables(b))] == [True] * len(a.files)
    assert (a.per_sink, a.file_sinks, a.file_convs) == (b.per_sink, b.file_sinks, b.file_convs)
    assert not all(t.equals(u) for t, u in zip(_tables(a), _tables(c)))
    assert sum(t.num_rows for t in _tables(a)) == a.turns
    again = make(str(tmp_path / "a"), 5)  # served from the cache
    assert again.gen_s == 0.0 and again.per_sink == a.per_sink


def test_wide_lines_match_exactly_their_family(tmp_path):
    """Ground truth assumes each family line matches its own pattern and
    no other, and free text matches none."""
    patterns, routes, default = load_config(inputs.write_wide_config(str(tmp_path)))
    assert len(patterns) == 20 and sum(len(p.groups) for p in patterns) >= 60
    sink_of = {name: sink for name, sink, *_ in inputs.FAMILIES}
    compiled = [(p.name, GrokPattern.compiled(p)) for p in patterns]
    seen = {}
    for i in range(5000):
        text, sink = inputs._wide_line(inputs.stable_hash(11, i))
        if text is None:
            continue
        hits = [name for name, rx in compiled if rx.search(text)]
        if sink == default:
            assert hits == [], text
        else:
            assert len(hits) == 1 and sink_of[hits[0]] == sink, (text, hits)
        seen[sink] = seen.get(sink, 0) + 1
    assert set(seen) == {r[0] for r in routes} | {default}
    assert 0.35 < 1 - seen[default] / sum(seen.values()) < 0.45


def _sink_table(n: int, sink: str) -> pa.Table:
    return pa.table({"conv_id": [f"c{i}" for i in range(n)], "sink": [sink] * n})


def test_deleted_sink_file_fails_the_operation(tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    truth = {"errors": 3, "conversational": 5}
    for sink, n in truth.items():
        wh.write_append_arrow(f"sink_{sink}", _sink_table(n, sink), lineage={"epoch": 0})
    wh.write_append_arrow(
        "agg_sink_counts", pa.table({"sink": list(truth), "n": pa.array(list(truth.values()), pa.int64())})
    )
    sinks = list(truth)

    def op() -> Op:
        problems = check_counts(wh, sinks, truth)
        return Op(1.0, 8, [1.0], 1, int(bool(problems)), 0, (0.0, 1.0), problems=problems)

    assert failed_frac([op()]) == 0.0
    assert sink_rows(wh, sinks, {"epoch": 0}) == truth
    commit = wh.commits("sink_errors")[0]
    data_dir = os.path.join(wh.root, commit["data_dir"])
    os.remove(os.path.join(data_dir, os.listdir(data_dir)[0]))
    assert failed_frac([op()]) == 1.0
    assert sink_rows(wh, sinks, {"epoch": 0})["errors"] == 0
