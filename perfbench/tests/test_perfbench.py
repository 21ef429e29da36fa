"""Tests of the benchmark's own machinery; none of them starts Spark.

Run with: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import stats
import tracing
from workloads import ALL_QUERIES

# the benchmark contract's charsets for metric and workload names, and units
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")

BENCH_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def _rows(root: str) -> dict[str, int]:
    return {t: pq.read_table(os.path.join(root, t)).num_rows for t in gen.TABLES}


def test_same_seed_same_input_hashes(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), 7)
    assert gen.table_hashes(a) == gen.table_hashes(b)


def test_other_seed_other_content_same_row_counts(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), 8)
    ha, hb = gen.table_hashes(a), gen.table_hashes(b)
    for t in gen.TABLES:
        if t in ("region", "nation"):
            assert ha[t] == hb[t]  # fixed dimensions
        else:
            assert ha[t] != hb[t], t
    assert _rows(a) == _rows(b)


def test_inputs_are_reused(tmp_path):
    a = gen.ensure_inputs(str(tmp_path), 7)
    mtime = os.path.getmtime(os.path.join(a, "DONE"))
    assert gen.ensure_inputs(str(tmp_path), 7) == a
    assert os.path.getmtime(os.path.join(a, "DONE")) == mtime


def test_replicas_are_perturbed_not_copied():
    base = gen.base_tables(7)
    rep = gen.replicate(base, 7)
    n = base["documents"].num_rows
    texts = rep["documents"].column("text").to_pylist()
    originals = set(texts[:n])
    copies = sum(t in originals for t in texts[n:])
    assert copies == 0
    vecs = rep["embeddings"].column("embedding").to_pylist()
    m = base["embeddings"].num_rows
    assert all(vecs[i] != vecs[i + m] for i in range(m))


@pytest.mark.parametrize(
    "column",
    [
        pa.array([], pa.int64()),
        pa.array(["1", "2"], pa.string()),
        pa.array([None, None], pa.int64()),
    ],
)
def test_bad_key_column_raises_named_error(column):
    tables = gen.base_tables(7)
    tables["supplier"] = pa.table({"s_suppkey": column})
    with pytest.raises(gen.KeyColumnError, match="supplier.s_suppkey"):
        gen.shift_bases(tables)


def test_metric_names_and_units_fit_the_charset():
    with open(BENCH_JSON) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]), m


def test_benchmark_json_lists_what_the_runner_prints():
    import run

    with open(BENCH_JSON) as fh:
        bench = json.load(fh)
    per_layer = tracing.per_layer_names(ALL_QUERIES)
    assert len(per_layer) <= 128
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    from workloads import WORKLOADS

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


def test_untraced_runner_does_not_load_the_tracer():
    sys.modules.pop("tracing", None)
    sys.modules.pop("storage", None)
    sys.modules.pop("run", None)
    import run  # noqa: F401

    assert "tracing" not in sys.modules
    assert "storage" not in sys.modules


@pytest.mark.parametrize(
    "values, expected",
    [
        (list(range(1, 101)), (90.0, 90)),
        (list(range(1, 21)), (50.0, 10)),
        (list(range(1, 20)), None),
        ([1] * 30, None),
        (list(range(1, 1001)), (99.0, 990)),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(values, expected):
    assert stats.tail_percentile(values) == expected


def test_every_failure_is_counted():
    tally = stats.Tally()

    def boom():
        raise RuntimeError("op failed")

    def wrong(_result):
        raise AssertionError("bad output")

    _, ok1 = tally.run(lambda: 1, lambda r: None)
    _, ok2 = tally.run(boom, lambda r: None)
    _, ok3 = tally.run(lambda: 1, wrong)
    assert (ok1, ok2, ok3) == (True, False, False)
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.failed_frac == pytest.approx(2 / 3)
    assert len(tally.errors) == 2


def test_self_time_subtracts_covered_child_time():
    spans = [
        tracing.Span(0, "a", "io", 0.0, 1, None, end=10.0, children=[1, 2]),
        tracing.Span(1, "b", "io", 1.0, 1, 0, end=4.0),
        tracing.Span(2, "c", "io", 3.0, 1, 0, end=6.0),
    ]
    assert tracing.self_times(spans) == [5.0, 3.0, 3.0]
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_digest_ignores_order_and_int_width_but_not_values():
    import decimal

    from oracle import digest

    a = pa.table({"k": pa.array([1, 2], pa.int32()), "v": [0.5, None]})
    b = pa.table(
        {"v": [None, 0.5], "k": pa.array([decimal.Decimal(2), decimal.Decimal(1)])}
    )
    assert digest(a) == digest(b)
    c = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.25, None]})
    assert digest(a) != digest(c)
