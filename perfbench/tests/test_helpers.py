"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import threading
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import report  # noqa: E402
from spans import TargetProxy, Tracer  # noqa: E402
from stats import Ops, self_time, spread, tail, union_length  # noqa: E402
from workloads import compare_rows, rows_fingerprint  # noqa: E402

# ------------------------------------------------------------------ stats


def test_tail_needs_ten_samples_beyond_it():
    assert tail(range(10)) is None
    assert tail(range(11)) == {"value": 0, "percentile": 9.09, "n": 11}


def test_tail_of_a_hundred_is_the_ninetieth_percentile():
    t = tail(reversed(range(1, 101)))
    assert t == {"value": 90, "percentile": 90.0, "n": 100}
    assert sum(v > t["value"] for v in range(1, 101)) == 10


def test_union_counts_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_is_span_minus_union_of_children():
    # two children on parallel threads overlap; one sticks out of the span
    assert self_time((0, 10), [(1, 4), (2, 5), (8, 12)]) == pytest.approx(4)
    assert self_time((0, 10), []) == 10


def test_spread_is_quartile_distance_over_median():
    assert spread([1, 1, 1, 1]) == 0
    assert spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def test_failures_are_counted_not_hidden():
    ops = Ops()
    ops.record(True)
    ops.record(False, "hudi live set differs")
    ops.skip("sync_foreign_table", "fixtures missing")
    assert (ops.attempted, ops.failed) == (2, 1)
    assert ops.failure_ratio == 0.5
    assert ops.reasons == ["hudi live set differs"]
    assert ops.skipped == {"sync_foreign_table": "fixtures missing"}
    assert Ops().failure_ratio == 0.0


# ------------------------------------------------------------- generators


def test_same_seed_same_inventory():
    assert gen.inventory_rows(7, "/t", 20, 3) == gen.inventory_rows(7, "/t", 20, 3)


def test_other_seed_same_layout_other_stats():
    a, b = gen.inventory_rows(7, "/t", 20, 3), gen.inventory_rows(8, "/t", 20, 3)
    assert len(a) == len(b) == 60
    assert [r[0] for r in a] == [r[0] for r in b]
    assert {r[2]["p"] for r in a} == {r[2]["p"] for r in b} == {str(i) for i in range(20)}
    assert [r[3] for r in a] != [r[3] for r in b]
    assert [r[4] for r in a] != [r[4] for r in b]
    assert [r[6] for r in a] != [r[6] for r in b]


def test_commits_draw_distinct_files():
    assert rows_fingerprint(gen.inventory_rows(7, "/t", 5, 1, commit=1)) != rows_fingerprint(
        gen.inventory_rows(7, "/t", 5, 1, commit=2)
    )


def test_corpus_is_seeded():
    a, b, c = gen.corpus_tables(3, 0.001), gen.corpus_tables(3, 0.001), gen.corpus_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}
    assert not a["lineitem"].equals(c["lineitem"])


# ----------------------------------------------------------------- checks


def test_compare_rows_uses_the_oracle_normalisation():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.1::DOUBLE + 0.2::DOUBLE), (2, 1.0::DOUBLE)) t(k, v)"
    rows = [{"v": 1.0, "k": 2}, {"v": 0.30000000000000004, "k": 1}]
    assert compare_rows(["v", "k"], rows, sql, con) is None
    assert compare_rows(["v", "k"], rows[:1], sql, con).startswith("rowcount")
    assert compare_rows(["k"], rows, sql, con).startswith("schema mismatch")
    assert "differing rows" in compare_rows(["v", "k"], [{"v": 1.0, "k": 2}, {"v": 0.5, "k": 1}], sql, con)


# ------------------------------------------------------------------ spans


def test_spans_nest_and_worker_threads_hang_off_the_main_span():
    t = Tracer(enabled=True)
    with t.span("sync"):
        with t.span("sync.watermark"):
            pass
        worker = threading.Thread(target=lambda: t.timed("sync.target.x.apply", lambda: None))
        worker.start()
        worker.join(timeout=10)
    assert not worker.is_alive()
    by_name = {s.name: s for s in t.spans}
    root = by_name["sync"]
    assert root.parent is None
    assert by_name["sync.watermark"].parent == root.id
    assert by_name["sync.target.x.apply"].parent == root.id


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("sync"):
        pass
    assert t.spans == []


def test_target_proxy_names_its_span_after_the_format():
    class Fmt:
        value = "HUDI"

    class Target:
        table_format = Fmt()

        def sync_change(self, change, metadata):
            return (change, metadata)

    t = Tracer(enabled=True)
    proxy = TargetProxy(Target(), t)
    assert proxy.table_format is Target.table_format
    assert proxy.sync_change(1, 2) == (1, 2)
    assert [s.name for s in t.spans] == ["sync.target.hudi.apply"]


# -------------------------------------------------------------- contract


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(report.PER_LAYER)
    assert len(spec["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert report.FAMILIES == tuple(workloads.FAMILIES)


def test_run_refuses_a_tree_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync_incremental", "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
