"""Unit tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import textwrap

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, run, stats, workloads
from perfbench.trace import (
    MERGE_STATEMENTS, UNATTRIBUTED, Job, SourceIndex, attribute,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------- tail percentile rule ----------


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert stats.tail([1.0] * n) is None


@pytest.mark.parametrize("n", [11, 15, 20, 37, 100, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in np.random.default_rng(n).permutation(n)]
    pct, value = stats.tail(values)
    assert sum(v > value for v in values) >= 10
    # the highest whole percentile whose nearest rank leaves ten beyond
    assert pct == np.floor(100 * (n - 10) / n)


def test_tail_known_points():
    assert stats.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    assert stats.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert stats.tail([float(i) for i in range(1, 12)]) == (9.0, 1.0)


# ---------- N→4N pair label ----------


def test_pair_label_only_marks_exact_quadruple():
    assert stats.pair_label(1, 4).endswith("(N→4N)")
    assert stats.pair_label(4, 16).endswith("(N→4N)")
    assert "not N→4N" in stats.pair_label(2, 4)
    assert "not N→4N" in stats.pair_label(1, 1)
    assert "not N→4N" in stats.pair_label(8, 16)


def test_pair_label_rejects_bad_pairs():
    with pytest.raises(ValueError):
        stats.pair_label(0, 4)
    with pytest.raises(ValueError):
        stats.pair_label(4, 2)


def test_scaling_efficiency_is_speedup_over_core_ratio():
    assert stats.scaling_efficiency(8.0, 2.0, 1, 4) == pytest.approx(1.0)
    assert stats.scaling_efficiency(8.0, 4.0, 1, 4) == pytest.approx(0.5)


# ---------- call-site attribution ----------

FAKE_LAKE = textwrap.dedent('''\
    class LakeTable:
        def _merge_batch_once(self, events):
            max_sv_row = events.agg().first()
            has_moves = good.filter().count() > 0
            touched = {
                r[0]
                for r in bregs.select().collect()
            }
            lin_rows = batch_lineage(normalized).collect()
            dl_count = dead.count()
            (
                dead.coalesce(1)
                .write.parquet(dl_path)
            )
            other = events.count()

        def _write_register_files(self, regs):
            regs.write.parquet(out)

        def lookup(self, spark, conv_id):
            return spark.first()

        def vacuum(self):
            return self.count()
''')

FAKE_RUNNER = textwrap.dedent('''\
    def batch_move_runs(df):
        return df.collect()

    def make_apply_fn():
        def apply_epoch(df, epoch_id):
            df.count()
        return apply_epoch
''')


@pytest.fixture
def fake_pkg(tmp_path):
    pkg = tmp_path / "engine"
    (pkg / "table").mkdir(parents=True)
    (pkg / "streaming").mkdir()
    (pkg / "table" / "lake.py").write_text(FAKE_LAKE)
    (pkg / "streaming" / "runner.py").write_text(FAKE_RUNNER)
    return pkg


def _line(text: str, needle: str) -> int:
    return next(i for i, ln in enumerate(text.splitlines(), 1) if needle in ln)


@pytest.mark.parametrize("needle,phase", [
    ("max_sv_row =", "lake.schema_probe"),
    ("has_moves =", "lake.move_probe"),
    ("for r in bregs", "lake.fold"),
    ("lin_rows =", "lake.lineage"),
    ("dl_count =", "lake.deadletter"),
    (".write.parquet(dl_path)", "lake.deadletter"),
    ("other =", UNATTRIBUTED),
    ("regs.write.parquet(out)", "lake.rewrite"),
    ("return spark.first()", "lake.lookup"),
    ("return self.count()", UNATTRIBUTED),
])
def test_lake_call_sites_map_to_phases(fake_pkg, needle, phase):
    path = fake_pkg / "table" / "lake.py"
    line = _line(FAKE_LAKE, needle)
    idx = SourceIndex(str(fake_pkg))
    assert attribute(f"{path}:{line}", ["lake.merge_batch"], idx) == phase


def test_rewrite_inside_optimize_is_the_optimize_phase(fake_pkg):
    path = fake_pkg / "table" / "lake.py"
    site = f"{path}:{_line(FAKE_LAKE, 'regs.write.parquet(out)')}"
    idx = SourceIndex(str(fake_pkg))
    assert attribute(site, ["lake.optimize_layout", "lake._write_register_files"], idx) \
        == "lake.optimize"


def test_runner_call_sites(fake_pkg):
    path = fake_pkg / "streaming" / "runner.py"
    idx = SourceIndex(str(fake_pkg))
    assert attribute(f"{path}:{_line(FAKE_RUNNER, 'df.collect()')}", [], idx) \
        == "runner.move_detect"
    assert attribute(f"{path}:{_line(FAKE_RUNNER, 'df.count()')}", [], idx) == "runner.epoch"


def test_sites_outside_the_engine_fall_back_to_spans(fake_pkg, tmp_path):
    idx = SourceIndex(str(fake_pkg))
    bench = tmp_path / "bench.py"
    bench.write_text("x = 1\n")
    assert attribute(f"{bench}:1", ["reads.lookup", "lake.lookup"], idx) == "reads.lookup"
    assert attribute(None, ["catalog.pq_topk.exec"], idx) == "catalog.pq_topk.exec"
    assert attribute(None, ["runner.epoch"], idx) == "runner.epoch"
    assert attribute(None, ["runner.epoch", "lake.merge_batch"], idx) == UNATTRIBUTED
    assert attribute(None, [], idx) == UNATTRIBUTED
    assert attribute("garbage", [], idx) == UNATTRIBUTED


def test_every_merge_rule_names_a_statement_of_the_real_commit_path():
    """A rename inside LakeTable._merge_batch_once must fail here rather
    than silently move its jobs to lake.unattributed."""
    import ast

    src = os.path.join(ROOT, "nifi_tekst_bundle_spark", "table", "lake.py")
    tree = ast.parse(open(src).read())
    fn = next(n for n in ast.walk(tree)
              if isinstance(n, ast.FunctionDef) and n.name == "_merge_batch_once")
    names = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
    for name, _phase in MERGE_STATEMENTS:
        assert name in names, name


def test_busy_counts_overlapping_jobs_once():
    jobs = [Job(1, 0.0, 2.0, None, []), Job(2, 1.0, 3.0, None, []),
            Job(3, 5.0, 6.0, None, [])]
    assert workloads.busy(jobs) == pytest.approx(4.0)
    assert workloads.busy([]) == 0.0


# ---------- references ----------


def test_duckdb_lww_replay_matches_the_python_oracle():
    """The bulk_backfill reference agrees with ``oracle.replay`` on a
    move-free log with keyless inserts, partial updates and deletes."""
    import duckdb

    from nifi_tekst_bundle_spark import oracle

    seed = gen.seed_table(3, 40)
    log = gen.bulk_log(4, 2000, seed)
    con = duckdb.connect()
    con.register("seed", seed)
    con.register("log", log)
    payload = ["role", "text", "tool", "ts"]
    got = con.execute(workloads.duckdb_lww_sql(payload, 1500)).df()
    ev = log.to_pandas()
    ev = ev[ev["lsn"] <= 1500]
    want = oracle.replay(seed.to_pandas(), [ev], max_schema_version=1).state

    def norm(df):
        df = df[["conv_id", "turn_idx", *payload]].sort_values(["conv_id", "turn_idx"])
        df = df.reset_index(drop=True)
        df["ts"] = pd.to_datetime(df["ts"])
        df["turn_idx"] = df["turn_idx"].astype(int)
        return df.astype(object).where(pd.notnull(df), None)

    assert len(got) > 0
    pd.testing.assert_frame_equal(norm(got), norm(want))


def test_bulk_log_is_a_function_of_its_seed():
    seed = gen.seed_table(1, 10)
    assert gen.bulk_log(9, 500, seed).equals(gen.bulk_log(9, 500, seed))
    assert not gen.bulk_log(9, 500, seed).equals(gen.bulk_log(10, 500, seed))


def test_bulk_log_follows_the_fixture_mix():
    """Op shares of ``gen.MIX`` plus the duplicate inserts, and the
    fixture's partial-update column subsets."""
    log = gen.bulk_log(2, 200_000, gen.seed_table(2, 500)).to_pandas()
    keyless = log["conv_id"].isna()
    base = len(log) / (1 + gen.MIX["insert"] * gen.DUP_INSERT)
    assert keyless.sum() / base == pytest.approx(gen.MIX["keyless"], abs=0.01)
    for op in ("update", "delete"):
        assert (log["op"] == op).sum() / base == pytest.approx(gen.MIX[op], abs=0.01)
    upd = log[log["op"] == "update"]
    subsets = set(zip(upd["text"].notna(), upd["tool"].notna(), upd["role"].notna()))
    assert subsets == {(True, False, False), (True, True, False),
                       (False, True, False), (False, False, True)}
    assert (log.loc[log["op"] == "delete", ["role", "text", "tool"]].isna()).all().all()
    assert log["lsn"].tolist() == list(range(1, len(log) + 1))


# ---------- contract ----------


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert run.metric_units("end_to_end")["setup_s"] == "s"


def test_result_line_refuses_an_unmeasured_metric():
    units = {"a_s": "s", "b": "count"}
    line = json.loads(run.result_line(True, 3, 0, {"a_s": 1.5, "b": 2, "extra": 9}, units))
    assert line["metrics"] == {"a_s": {"value": 1.5, "unit": "s"},
                               "b": {"value": 2.0, "unit": "count"}}
    with pytest.raises(KeyError, match="b"):
        run.result_line(True, 3, 0, {"a_s": 1.5}, units)


def test_driver_memory_fits_the_host():
    assert run.driver_memory(15 * 2**30) == "3g"
    assert run.driver_memory(2 * 2**30) == "1g"
    assert run.driver_memory(256 * 2**30) == "4g"
