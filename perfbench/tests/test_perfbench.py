"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import re

import pyarrow.parquet as pq
import pytest

import datagen
import run
import tracing
from workloads import WORKLOADS

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def tables():
    """Seed -> relabelled tables, built once for the module."""
    base = datagen.base_tables()
    return {seed: datagen.relabel(base, seed) for seed in (1, 2)}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    stats = datagen.write_inputs(str(a), 7)
    assert datagen.write_inputs(str(b), 7) == stats
    for name in datagen.TABLES:
        path = f"{name}.parquet"
        assert (a / path).read_bytes() == (b / path).read_bytes(), name
        meta = pq.ParquetFile(a / path).metadata
        assert meta.num_row_groups == 1
        assert meta.num_rows == stats[name]["rows"] > 0


def _histogram(table, column):
    return collections.Counter(map(repr, table.column(column).to_pylist()))


def test_other_seed_keeps_histograms_and_moves_keys(tables):
    """Every column keeps its histogram.  A column that references a key
    keeps it up to the relabelling: the same counts, on other key values."""
    refs = {ref for _, cols in datagen.KEY_DOMAINS.values() for ref in cols}
    one, two = tables[1], tables[2]
    for name in datagen.TABLES:
        assert one[name].num_rows == two[name].num_rows, name
        assert one[name].schema == two[name].schema, name
        for column in one[name].column_names:
            h1, h2 = _histogram(one[name], column), _histogram(two[name], column)
            if (name, column) in refs:
                h1, h2 = sorted(h1.values()), sorted(h2.values())
            assert h1 == h2, (name, column)
    # the same customer ids hold different orders under the two seeds
    orders = {s: list(zip(t["orders"]["o_orderkey"].to_pylist(),
                          t["orders"]["o_custkey"].to_pylist()))
              for s, t in tables.items()}
    assert orders[1] != orders[2]
    for seed in (1, 2):
        assert [r[0] for r in orders[seed]] == sorted(r[0] for r in orders[seed])


def test_relabelling_keeps_join_structure(tables):
    """Lines per order, orders per customer and dangling keys are the same
    under every seed: the bijection is applied to every referencing
    column."""
    def shape(t):
        lines = collections.Counter(t["lineitem"]["l_orderkey"].to_pylist())
        per_cust = collections.Counter(t["orders"]["o_custkey"].to_pylist())
        orderkeys = set(t["orders"]["o_orderkey"].to_pylist())
        custkeys = set(t["customer"]["c_custkey"].to_pylist())
        assert set(lines) <= orderkeys
        assert set(per_cust) <= custkeys
        return (sorted(lines.values()), sorted(per_cust.values()),
                len(custkeys - set(per_cust)))

    assert shape(tables[1]) == shape(tables[2])


def test_metric_names_are_well_formed_and_declared():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    end_to_end = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert per_layer == tracing.layer_metric_names()
    for name in end_to_end + per_layer + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name), name
    assert len(set(end_to_end + per_layer)) == len(end_to_end) + len(per_layer)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert all(units[n] == tracing.unit_of(n) for n in per_layer)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


class _Frame:
    """The part of a DataFrame the oracle comparison reads."""

    def __init__(self, rows):
        self.columns = ["r_name", "r_regionkey"]
        self.dtypes = [("r_name", "string"), ("r_regionkey", "int")]
        self._rows = rows

    def collect(self):
        return self._rows


def test_injected_oracle_mismatch_counts_in_error_rate(tmp_path, monkeypatch):
    import __spark_entry__

    sf_dir = str(tmp_path)
    datagen.write_inputs(sf_dir, 3)
    sql = "SELECT r_regionkey, r_name FROM region"
    monkeypatch.setattr(__spark_entry__, "oracle_sql",
                        lambda: {"q_ok": sql, "q_bad": sql})
    good = [(name, key) for key, name in enumerate(datagen.REGIONS)][::-1]
    bad = [("ATLANTIS", 0)] + good[1:]
    last = run.Pass()
    last.frames = {"q_ok": _Frame(good), "q_bad": _Frame(bad)}

    failures = run.check_outputs(None, last, sf_dir, ["q_ok", "q_bad"])
    assert list(failures) == ["q_bad"]
    assert run.tally(["q_ok", "q_bad"], 3, failures) == (6, 3)
    assert run.tally(["q_ok", "q_bad"], 3, {}) == (6, 0)


def test_artifact_build_needs_rows_in_every_artifact():
    last = run.Pass()
    last.frames = {"mat_pq_build": _Frame([("pq_codes", 500), ("pq_codebook", 0)])}
    failures = run.check_outputs(None, last, "unused", ["mat_pq_build"])
    assert "pq_codebook" in failures["mat_pq_build"]


def test_sql_metric_text_is_parsed():
    assert tracing.parse_sql_metric("321 ms") == pytest.approx(0.321)
    assert tracing.parse_sql_metric("53.5 KiB") == pytest.approx(53.5 * 1024)
    assert tracing.parse_sql_metric("60,000") == 60000
    assert tracing.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 5 ms, 1.1 s "
        "(stage 3.0: task 5))") == pytest.approx(1.2)


def test_self_time_subtracts_covered_child_time():
    assert tracing._covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert tracing._covered([(-1, 2)], 0, 1) == 1
