"""The benchmark workloads: inputs, measured loop, correctness gate and
per-layer metrics of each.

Every workload drives the engine through its public API only
(``LakeTable``, ``streaming.runner``, ``plans.catalog``). A workload's
``setup`` builds its inputs and table from the seed; ``measure`` runs the
timed loop and consumes every result inside the timed region; ``check``
compares the outputs against an independent reference outside it.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .stats import median, pair_label, scaling_efficiency, tail
from .trace import (
    UNATTRIBUTED, Job, SourceIndex, Tracer, _patch, _restore, attribute, open_spans,
)


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory inside the checkout
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer
    nproc: int
    new_session: object  # (cores) -> SparkSession, for the scaling pair


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)  # name -> value (BENCHMARK.json end_to_end)
    report: dict = field(default_factory=dict)  # workload-specific metrics and counts
    problems: list = field(default_factory=list)


def _t() -> float:
    return time.perf_counter()


def work_units(seconds: float) -> int:
    """Units of fixed work a run does: one per ten seconds asked for, at
    least one. A unit takes about ten seconds on a 4-core host. The work
    is fixed rather than time-boxed because commits take several seconds
    each: stopping on the clock would let host speed decide how many
    commits, and so which ones, the median is taken over."""
    return max(1, round(seconds / 10))


def _manifest_diff(before, after) -> dict:
    """Storage counts of one commit: files and bytes added and removed,
    buckets touched. Pure functions of the manifests, so they repeat."""
    old = {f["path"]: f for f in before.files}
    new = {f["path"]: f for f in after.files}
    added = [f for p, f in new.items() if p not in old]
    removed = [f for p, f in old.items() if p not in new]
    buckets = {f["bucket"] for f in added} | {f["bucket"] for f in removed}
    return {
        "files_added": len(added),
        "files_removed": len(removed),
        "bytes_added": sum(f.get("bytes", 0) for f in added),
        "bytes_removed": sum(f.get("bytes", 0) for f in removed),
        "buckets_touched": len(buckets),
        "n_buckets": after.n_buckets,
    }


# ---------- layer metrics from the traced run ----------


def busy(jobs: list[Job]) -> float:
    """Wall time covered by at least one of ``jobs``: adaptive execution
    runs some jobs concurrently, so their durations do not add."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.start):
        if j.end > end:
            total += j.end - max(j.start, end)
            end = j.end
    return total


class Layers:
    """Attributes the traced run's Spark jobs to layer phases and sums
    them per enclosing span."""

    def __init__(self, tracer: Tracer, jobs: list[Job], package_dir: str,
                 t0: float, t1: float) -> None:
        self.tracer = tracer
        self.index = SourceIndex(package_dir)
        self.jobs = [j for j in jobs if t0 <= j.start <= t1]
        self.phase: dict[int, str] = {}
        for j in self.jobs:
            names = [s.name for s in open_spans(tracer.spans, j.start)]
            self.phase[j.id] = attribute(j.site, names, self.index)

    def within(self, span) -> list[Job]:
        return [j for j in self.jobs if span.start <= j.start <= span.end]

    def phase_s(self, span, phase: str) -> float:
        return busy([j for j in self.within(span) if self.phase[j.id] == phase])

    def child_s(self, span, name: str) -> float:
        return sum(
            s.dur for s in self.tracer.named(name)
            if span.start <= s.start and s.end <= span.end
        )

    def totals(self) -> dict:
        job_s = busy(self.jobs)
        unattributed = busy([j for j in self.jobs if self.phase[j.id] == UNATTRIBUTED])
        return {
            "spark.task_s": sum(j.task_s for j in self.jobs),
            "spark.gc_s": sum(j.gc_s for j in self.jobs),
            "spark.jobs": len(self.jobs),
            "spark.job_s": job_s,
            "lake.unattributed_s": unattributed,
            "lake.unattributed_share": unattributed / job_s if job_s else 0.0,
        }

    def commit_metrics(self, commits) -> dict:
        """Medians over ``merge_batch`` spans of per-commit phase costs."""
        if not commits:
            return {}
        per = {
            "lake.jobs_per_commit": [len(self.within(c)) for c in commits],
            "lake.shuffle_bytes_per_commit": [
                sum(j.shuffle_write for j in self.within(c)) for c in commits
            ],
            # commit time in no Spark job: planning, py4j and driver-side Python
            "lake.outside_jobs_s": [c.dur - busy(self.within(c)) for c in commits],
            "lake.manifest_cas_s": [self.child_s(c, "lake._write_manifest") for c in commits],
            "lake.footer_stats_s": [self.child_s(c, "lake._file_stats") for c in commits],
            "lake.lineage_s": [
                self.phase_s(c, "lake.lineage") + self.child_s(c, "lake._append_lineage")
                for c in commits
            ],
        }
        for phase in ("schema_probe", "move_probe", "deadletter", "fold", "rewrite"):
            per[f"lake.{phase}_s"] = [self.phase_s(c, f"lake.{phase}") for c in commits]
        return {k: median(v) for k, v in per.items()}


# ---------- read phase (both workloads) ----------

CATALOG_MIX = (
    "cdc_lww_final_state", "cdc_moves_final_state", "cdc_pruned_scan",
    "docs_bpe_encode", "docs_bpe_pack", "docs_pack_sequences", "pq_topk",
    "docs_minhash_pairs", "conv_document", "cdc_debezium_roundtrip",
)
WARM_SCANS, SCANS = 4, 17
LOOKUPS = 5


def _scan(table, spark, **prune):
    """A full read of the visible state that touches every payload byte
    of ``text``: row count and total text length."""
    from pyspark.sql import functions as F

    r = table.visible(spark, **prune).agg(F.count("*"), F.sum(F.length("text"))).first()
    return int(r[0]), int(r[1] or 0)


def read_phase(ctx: Ctx, table, out: Outcome) -> dict:
    """Full scans of the table the workload just committed, so a
    commit-path change that hurts file layout or manifest size shows in
    ``scan_p50_s``. Untimed scans first let the read path's JIT settle
    (scan times fall for the first few in a fresh JVM). Results are
    consumed inside the timed region and kept for the check. Garbage left
    by the drain is collected first, in Python and in the JVM, where it
    also lets Spark's context cleaner drop the drain's shuffle state,
    so neither lands inside the timed scans."""
    spark, tr = ctx.spark, ctx.tracer
    gc.collect()
    spark._jvm.System.gc()
    for _ in range(WARM_SCANS):
        _scan(table, spark)
    res = {"scans": [], "scan_s": []}
    for _ in range(SCANS):
        t0 = _t()
        with tr.span("reads.full_scan"):
            res["scans"].append(_scan(table, spark))
        res["scan_s"].append(_t() - t0)
    out.attempted += SCANS
    out.e2e["scan_p50_s"] = median(res["scan_s"])
    out.report.update(scan_p50_s=median(res["scan_s"]), scan_samples_s=res["scan_s"])
    return res


def traced_reads(ctx: Ctx, table, convs: list[str], out: Outcome) -> dict:
    """The traced run's point ``lookup``s and ``visible(prune=...)``
    range scan, for the read path's per-layer metrics."""
    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed + 7)
    picks = rng.choice(convs, LOOKUPS + 1, replace=False)
    table.lookup(spark, str(picks[0])).collect()  # untimed: loads the lookup path
    res = {"lookups": [], "lookup_s": []}
    for conv in picks[1:]:
        t0 = _t()
        with tr.span("reads.lookup"):
            rows = table.lookup(spark, str(conv)).collect()
        res["lookup_s"].append(_t() - t0)
        res["lookups"].append((str(conv), rows))
    lo = int(rng.integers(1, 4))
    t0 = _t()
    with tr.span("reads.range_scan"):
        res["range"] = (lo, *_scan(table, spark, prune={"turn_idx": (lo, lo)}))
    range_s = _t() - t0
    out.attempted += LOOKUPS + 1
    out.report.update(lookup_p50_s=median(res["lookup_s"]), lookup_n=LOOKUPS,
                      range_scan_s=range_s)
    return res


def check_reads(res: dict, ref, out: Outcome) -> None:
    """Each read against the reference visible state (a pandas frame
    with conv_id, turn_idx and text), filtered the same way."""
    want_scan = (len(ref), int(ref["text"].dropna().str.len().sum()))
    for got in res.get("scans", []):
        if got != want_scan:
            out.failed += 1
            out.problems.append(f"full scan {got} vs reference {want_scan} (rows, text chars)")
    by_conv = dict(tuple(ref.groupby("conv_id")))
    for conv, rows in res.get("lookups", []):
        want = by_conv.get(conv)
        want = [] if want is None else sorted(
            (int(t), x) for t, x in zip(want["turn_idx"], want["text"]))
        got = sorted((int(r["turn_idx"]), r["text"]) for r in rows)
        if got != want:
            out.failed += 1
            out.problems.append(f"lookup({conv}) differs from the reference state")
    if "range" in res:
        lo, n, chars = res["range"]
        sel = ref[ref["turn_idx"] == lo]
        want = (len(sel), int(sel["text"].dropna().str.len().sum()))
        if (n, chars) != want:
            out.failed += 1
            out.problems.append(f"range scan turn_idx={lo}: {(n, chars)} vs {want}")


# ---------- bulk_backfill ----------

DUCKDB_LWW = """
WITH ev AS (
  SELECT lsn, op,
         coalesce(conv_id, 'conv-auto-' || lpad(upper(to_hex(lsn)), 16, '0')) AS conv_id,
         turn_idx, role, text, tool, ts
  FROM log WHERE lsn <= {max_lsn}
  UNION ALL
  SELECT 0, 'insert', conv_id, turn_idx, role, text, tool, ts FROM seed
),
agg AS (
  SELECT conv_id, turn_idx,
    coalesce(max(lsn) FILTER (WHERE op <> 'delete'), -1) AS lup,
    coalesce(max(lsn) FILTER (WHERE op = 'delete'), -1) AS ldel,
    {cols}
  FROM ev GROUP BY conv_id, turn_idx
)
SELECT conv_id, turn_idx, {vis} FROM agg WHERE lup > ldel
"""


def duckdb_lww_sql(payload: list[str], max_lsn: int) -> str:
    """Last-writer-wins replay of ``seed`` (lsn 0) plus ``log`` up to
    ``max_lsn``: per key, each column takes its highest-lsn non-null
    upsert value and shows only when that lsn beats the last delete."""
    cols = ",\n    ".join(
        f"arg_max({c}, lsn) FILTER (WHERE op <> 'delete' AND {c} IS NOT NULL) AS {c}, "
        f"coalesce(max(lsn) FILTER (WHERE op <> 'delete' AND {c} IS NOT NULL), -1) AS l_{c}"
        for c in payload
    )
    vis = ", ".join(f"CASE WHEN l_{c} > ldel THEN {c} END AS {c}" for c in payload)
    return DUCKDB_LWW.format(max_lsn=max_lsn, cols=cols, vis=vis)


def _diff_rows(con, got: pa.Table, want_sql: str) -> int:
    """Rows in either side but not the other (multiset difference)."""
    con.register("got", got)
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {want_sql}")
    n = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
        " + (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
    ).fetchone()[0]
    con.unregister("got")
    return int(n)


def _seed_ddl() -> str:
    return ("conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")


def _events(spark, *paths):
    from nifi_tekst_bundle_spark.schemas import CHANGE_EVENT_SCHEMA

    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)


PRUNE_RANGES = ((1, 2), (20, 21))  # turn_idx ranges of the pruned scans


class Workload:
    """A seeded table and a staged change log that ``measure`` drains into
    it with ``runner.run_to_completion``. A subclass's ``setup`` sets
    ``dir``, ``seed_path``, ``table``, ``staged`` (log files in commit
    order), ``events`` (their event count), ``expected_batches`` and
    ``lookup_convs``; ``files_per_trigger`` files make one epoch."""

    name: str
    files_per_trigger: int

    def measure(self, ctx: Ctx, out: Outcome) -> None:
        t_start, st = _t(), drain(ctx, self)
        drain_s = _t() - t_start
        out.attempted += self.expected_batches
        if st.batches_applied != self.expected_batches:
            out.failed += self.expected_batches - st.batches_applied
            out.problems.append(
                f"drain applied {st.batches_applied} of {self.expected_batches} batches")
        times = [s.dur for s in self.commits]
        out.e2e.update(commit_p50_s=median(times), events_per_s=self.events / drain_s)
        tl = tail(times)
        diffs = [_manifest_diff(self.table.manifest_at(v), self.table.manifest_at(v + 1))
                 for v in range(self.v0, self.table.manifest().version)]
        input_bytes = sum(os.path.getsize(p) for p in self.staged)
        out.report.update(
            events_per_s=self.events / drain_s, commit_p50_s=median(times),
            commit_tail_s=None if tl is None else tl[1],
            commit_tail_pct=None if tl is None else tl[0],
            commit_samples_s=times, epochs=len(ctx.tracer.named("runner.epoch")),
            events=self.events, drain_s=drain_s,
            write_amplification=sum(d["bytes_added"] for d in diffs) / input_bytes,
            write_amplification_base_bytes=input_bytes,
            storage_per_commit=diffs,
        )
        self.reads = read_phase(ctx, self.table, out)
        if ctx.traced:
            self.reads.update(traced_reads(ctx, self.table, self.lookup_convs, out))

    def layers(self, ctx: Ctx, lay: Layers, out: Outcome) -> dict:
        """The per-layer metrics, from the drain's spans and jobs and from
        probes run after the check: the noop fold over the same log and
        pruned scans after ``optimize_layout``. Last, ``probe`` runs the
        workload's own, longer probe, which reports into ``out.report``."""
        m = lay.commit_metrics(self.commits)
        epochs = ctx.tracer.named("runner.epoch")
        m["runner.move_detect_s"] = median(
            [lay.phase_s(e, "runner.move_detect") for e in epochs])
        m["runner.epoch_overhead_s"] = median(
            [e.dur - lay.child_s(e, "lake.merge_batch") for e in epochs])
        m["lake.write_amplification"] = out.report["write_amplification"]
        m["lake.buckets_touched_ratio"] = median(
            [d["buckets_touched"] / d["n_buckets"] for d in out.report["storage_per_commit"]])
        m.update(read_layers(ctx, lay))
        m.update(self._fold_rate(ctx))
        m.update(self._pruned_scans(ctx, out))
        self.probe(ctx, out)
        return m

    def _fold_rate(self, ctx: Ctx) -> dict:
        """The LWW fold alone over the drained log's upserts and deletes,
        into a noop sink."""
        from nifi_tekst_bundle_spark.operators import lww, resolve
        from nifi_tekst_bundle_spark.schemas import PAYLOAD_COLUMNS
        from pyspark.sql import functions as F

        good, _dead = resolve.validate(_events(ctx.spark, *self.staged), [])
        regs = lww.batch_registers(good.filter(F.col("op") != "move"), list(PAYLOAD_COLUMNS))
        t0 = _t()
        regs.write.format("noop").mode("overwrite").save()
        return {"lww.fold_events_per_s": self.events / (_t() - t0)}

    def _pruned_scans(self, ctx: Ctx, out: Outcome) -> dict:
        """``optimize_layout(files_per_bucket=k)`` then range scans that
        skip files on the manifest's turn_idx stats; each scan's result is
        checked against the same filter over an unpruned read."""
        from pyspark.sql import functions as F

        spark, table = ctx.spark, self.table
        t0 = _t()
        table.optimize_layout(spark, sort_cols=("turn_idx",), files_per_bucket=4)
        optimize_s = _t() - t0
        ratios, times = [], []
        for lo, hi in PRUNE_RANGES:
            out.attempted += 1
            t0 = _t()
            got = table.visible(spark, prune={"turn_idx": (lo, hi)}).count()
            times.append(_t() - t0)
            scan = table.last_scan
            ratios.append(scan["files_read"] / scan["files_candidate"])
            want = table.visible(spark).filter(F.col("turn_idx").between(lo, hi)).count()
            if got != want:
                out.failed += 1
                out.problems.append(f"pruned scan turn_idx {lo}..{hi}: {got} vs {want}")
        out.report.update(optimize_s=optimize_s, pruned_range_scan_p50_s=median(times))
        return {"lake.files_read_ratio": median(ratios), "lake.optimize_s": optimize_s,
                "lake.pruned_range_scan_s": median(times)}


def drain(ctx: Ctx, wl: Workload):
    """Copy the staged log into a fresh source directory and drain it with
    ``runner.run_to_completion``, each epoch body inside a
    ``runner.epoch`` span. Commits are the ``lake.merge_batch`` spans
    that start during the drain."""
    from nifi_tekst_bundle_spark.streaming import runner

    tr = ctx.tracer
    live = os.path.join(wl.dir, "live")
    os.makedirs(live)
    # the file source orders files by modification time
    mtime0 = int(time.time()) - len(wl.staged)
    for k, p in enumerate(wl.staged):
        dst = os.path.join(live, os.path.basename(p))
        shutil.copy(p, dst)
        os.utime(dst, (mtime0 + k, mtime0 + k))
    make_apply_fn = runner.make_apply_fn

    def make_spanned(*a, **k):
        fn = make_apply_fn(*a, **k)

        def epoch(df, epoch_id):
            with tr.span("runner.epoch"):
                return fn(df, epoch_id)

        return epoch

    saved: list = []
    _patch(runner, "make_apply_fn", make_spanned, saved)
    wl.v0 = wl.table.manifest().version
    w0 = time.time()
    try:
        st = runner.run_to_completion(ctx.spark, live, wl.table,
                                      os.path.join(wl.dir, "ckpt"), run_id=wl.name,
                                      max_files_per_trigger=wl.files_per_trigger)
    finally:
        _restore(saved)
    wl.commits = [s for s in tr.named("lake.merge_batch") if s.start >= w0]
    return st


class BulkBackfill(Workload):
    """Few large move-free commits into a seeded table: one epoch of
    ``LOG_FILES`` segment files per commit."""

    name = "bulk_backfill"
    SEED_CONVS = 3_000  # about 19.5k seed rows
    COMMIT_EVENTS, LOG_FILES = 80_000, 8  # one commit per work unit
    SLICE_EVENTS = 20_000  # scaling pair (traced run)
    files_per_trigger = LOG_FILES

    def setup(self, ctx: Ctx) -> None:
        from nifi_tekst_bundle_spark.table.lake import LakeTable

        d = os.path.join(ctx.work, "bulk")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.dir = d
        self.seed_arrow = gen.seed_table(ctx.seed, self.SEED_CONVS)
        commits = work_units(ctx.seconds)
        log = gen.bulk_log(ctx.seed + 1, self.COMMIT_EVENTS * commits, self.seed_arrow)
        # one producer batch per commit
        batch = np.repeat([f"b{i:05d}" for i in range(commits)], self.COMMIT_EVENTS)
        self.log = log.set_column(1, "batch_id", pa.array(batch.astype(object), pa.string()))
        self.events = self.log.num_rows
        self.expected_batches = commits
        self.seed_path = os.path.join(d, "seed.parquet")
        pq.write_table(self.seed_arrow, self.seed_path)
        staged = os.path.join(d, "staged")
        self.staged = []
        for i in range(commits):
            part = self.log.slice(i * self.COMMIT_EVENTS, self.COMMIT_EVENTS)
            self.staged += _write_segments(staged, f"c{i:05d}", part, self.LOG_FILES)
        self.lookup_convs = sorted(set(self.seed_arrow.column("conv_id").to_pylist()))
        self.table = LakeTable.create(
            ctx.spark, os.path.join(d, "table"),
            ctx.spark.read.schema(_seed_ddl()).parquet(self.seed_path),
        )

    def _slice_commit(self, spark, tag: str, events_dir: str) -> float:
        """One ``merge_batch`` of ``events_dir`` into a fresh copy of the
        seeded table, timed."""
        from nifi_tekst_bundle_spark.table.lake import LakeTable

        t = LakeTable.create(spark, os.path.join(self.dir, f"slice-{tag}"),
                             spark.read.schema(_seed_ddl()).parquet(self.seed_path),
                             n_buckets=self.table.manifest().n_buckets)
        t0 = _t()
        t.merge_batch(spark, _events(spark, events_dir), fence_key="slice", epoch_id=0)
        return _t() - t0

    def probe(self, ctx: Ctx, out: Outcome) -> None:
        """The scaling pair: the first SLICE_EVENTS events committed at
        ``nproc`` cores in this session, already warm, and at 1 core in a
        fresh ``local[1]`` session, warmed by a commit of a tenth of them."""
        lo, hi = 1, ctx.nproc
        src = os.path.join(self.dir, "slice-log")
        _write_segments(src, "s", self.log.slice(0, self.SLICE_EVENTS), self.LOG_FILES)
        warm = os.path.join(self.dir, "slice-warm-log")
        _write_segments(warm, "w", self.log.slice(0, self.SLICE_EVENTS // 10), self.LOG_FILES)
        t_hi = self._slice_commit(ctx.spark, "hi", src)
        spark_lo = ctx.new_session(lo)
        self._slice_commit(spark_lo, "warm", warm)
        t_lo = self._slice_commit(spark_lo, "lo", src)
        out.report.update(scaling_pair=pair_label(lo, hi),
                          scaling_eff=scaling_efficiency(t_lo, t_hi, lo, hi),
                          scaling_lo_s=t_lo, scaling_hi_s=t_hi)

    def check(self, ctx: Ctx, out: Outcome) -> None:
        from nifi_tekst_bundle_spark.schemas import PAYLOAD_COLUMNS

        got = self.table.visible(ctx.spark).toArrow()
        con = duckdb.connect()
        con.register("seed", self.seed_arrow)
        con.register("log", self.log)
        want_sql = duckdb_lww_sql(list(PAYLOAD_COLUMNS), self.events)
        bad = _diff_rows(con, got.select(["conv_id", "turn_idx", *PAYLOAD_COLUMNS]), want_sql)
        ref = con.execute(want_sql).df()
        con.close()
        if bad:
            out.failed += 1
            out.problems.append(f"visible state differs from the DuckDB LWW replay in {bad} rows")
        check_reads(self.reads, ref, out)


def _write_segments(d: str, prefix: str, events: pa.Table, n: int) -> list[str]:
    """``events`` as ``n`` segment files, so the scan that feeds the fold
    is split across cores as a real multi-segment log is."""
    os.makedirs(d, exist_ok=True)
    step = -(-events.num_rows // n)
    paths = [os.path.join(d, f"{prefix}-{k}.parquet") for k in range(n)]
    for k, p in enumerate(paths):
        pq.write_table(events.slice(k * step, step), p)
    return paths


# ---------- live_tail ----------


class LiveTail(Workload):
    """Small producer batches, one file and one epoch each, drained into a
    table far larger than one epoch, with the fixture's full event mix."""

    name = "live_tail"
    SEED_CONVS, BATCH_EVENTS = 1000, 300
    BATCHES_PER_UNIT = 3  # each batch is one commit: it holds moves
    files_per_trigger = 1

    def setup(self, ctx: Ctx) -> None:
        from nifi_tekst_bundle_spark import fixtures
        from nifi_tekst_bundle_spark.table.lake import LakeTable

        d = os.path.join(ctx.work, "tail")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.dir = d
        self.seed_pdf = fixtures.make_seed_transcripts(n_convs=self.SEED_CONVS, seed=ctx.seed)
        self.log = fixtures.make_event_log(
            self.seed_pdf,
            fixtures.EventLogConfig(n_batches=self.BATCHES_PER_UNIT * work_units(ctx.seconds),
                                    events_per_batch=self.BATCH_EVENTS, seed=ctx.seed),
        )
        self.staged = fixtures.write_event_log_parquet(self.log, os.path.join(d, "staged"))
        self.events = sum(len(b) for b in self.log.batches)
        self.expected_batches = len(self.staged)
        self.lookup_convs = sorted(set(self.seed_pdf["conv_id"]))
        self.seed_path = os.path.join(d, "seed.parquet")
        pq.write_table(pa.Table.from_pandas(self.seed_pdf, schema=gen.SEED_ARROW,
                                            preserve_index=False), self.seed_path)
        self.table = LakeTable.create(ctx.spark, os.path.join(d, "table"),
                                      ctx.spark.read.schema(_seed_ddl()).parquet(self.seed_path))

    def probe(self, ctx: Ctx, out: Outcome) -> None:
        catalog_mix(ctx, os.path.join(self.dir, "catalog"), out)

    def check(self, ctx: Ctx, out: Outcome) -> None:
        import pandas as pd

        from nifi_tekst_bundle_spark import oracle

        want = oracle.replay(self.seed_pdf, self.log.batches)
        got = self.table.visible(ctx.spark).toPandas()
        cols = list(got.columns)
        extra = [c for c in want.state.columns if c not in cols]
        if any(want.state[c].notna().any() for c in extra):
            out.failed += 1
            out.problems.append(f"oracle has values in columns the table lacks: {extra}")

        def norm(df):
            df = df[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            df["ts"] = pd.to_datetime(df["ts"])
            return df.astype(object).where(pd.notnull(df), None)

        g, w = norm(got), norm(want.state)
        if len(g) != len(w) or not g.equals(w):
            out.failed += 1
            out.problems.append(f"final state differs from oracle.replay ({len(g)} vs {len(w)} rows)")
        check_reads(self.reads, want.state, out)
        n_dead = self.table.dead_letters(ctx.spark).count()
        if n_dead != len(want.dead_letters):
            out.failed += 1
            out.problems.append(f"dead letters {n_dead} vs oracle {len(want.dead_letters)}")
        out.report["dead_letters"] = n_dead


CATALOG_ROWS = {"n_events": 5_000, "n_docs": 500, "n_vecs": 500}


def catalog_mix(ctx: Ctx, d: str, out: Outcome) -> None:
    """The catalog queries the roadmap targets, on generated source
    tables: each query's construction timed apart from its execution,
    Catalyst phase times read from the executed plan, and every result
    checked against the query's DuckDB oracle."""
    from nifi_tekst_bundle_spark.plans import catalog

    spark, tr = ctx.spark, ctx.tracer
    os.makedirs(d, exist_ok=True)
    con = duckdb.connect()
    for name, t in gen.catalog_tables(ctx.seed, **CATALOG_ROWS).items():
        p = os.path.join(d, f"{name}.parquet")
        pq.write_table(t, p)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    m, total = {}, 0.0
    for q in CATALOG_MIX:
        out.attempted += 1
        t0 = _t()
        with tr.span(f"catalog.{q}.build"):
            df = catalog.QUERIES[q](spark, d)
        t1 = _t()
        with tr.span(f"catalog.{q}.exec"):
            got = df.toPandas()
        t2 = _t()
        m[f"catalog.{q}.build_s"] = t1 - t0
        m[f"catalog.{q}.exec_s"] = t2 - t1
        m[f"catalog.{q}.plan_s"] = _plan_seconds(df)
        total += t2 - t0
        problem = _frames_differ(got, con.execute(catalog.ORACLES[q]).df())
        if problem:
            out.failed += 1
            out.problems.append(f"catalog {q}: {problem}")
    con.close()
    out.report.update(catalog_total_s=total, catalog=m)


def read_layers(ctx: Ctx, lay: Layers) -> dict:
    tr = ctx.tracer
    return {
        "lake.lookup_jobs": median([len(lay.within(s)) for s in tr.named("reads.lookup")]),
        "lake.manifest_parse_s": median([s.dur for s in tr.named("lake.manifest")]),
    }


def _plan_seconds(df) -> float:
    """Catalyst time of the executed plan: the sum of the query
    execution tracker's phases (analysis, optimization, planning)."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms / 1000


def _frames_differ(got, want) -> str | None:
    """Same columns, same row count, same multiset of cells; floats are
    compared at 9 significant digits."""
    def cells(df):
        def fmt(v):
            if v is None or (isinstance(v, float) and v != v):
                return "None"
            if isinstance(v, float):
                return f"{v:.9g}"
            if hasattr(v, "tolist"):
                v = v.tolist()
            return str(v)

        df = df[sorted(df.columns)]
        return sorted(tuple(fmt(v) for v in row) for row in df.itertuples(index=False))

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if cells(got) != cells(want):
        return "values differ"
    return None


WORKLOADS = {w.name: w for w in (BulkBackfill, LiveTail)}
