"""The driver captures only the last ~2000 bytes of bench stdout and
json-parses the FINAL line; round 4's line outgrew that window and the
official artifact landed with "parsed": null (VERDICT r4 item 1). These
tests pin the emission contract without running Spark: the final line
must parse, carry the spec-required keys, and fit LINE_BUDGET even with
a realistically large query set; diagnostics must land in the sidecar.
The timing helper's warm-plus-best-of-n loop is pinned the same way,
with a stub frame and a stub status reader.
"""

from __future__ import annotations

import io
import json
import os
import sys

import bench


def _emit(out, detail, tmp_path):
    sidecar = tmp_path / "BENCH_detail.json"
    old_sidecar, old_stdout = bench.DETAIL_SIDECAR, sys.stdout
    bench.DETAIL_SIDECAR = str(sidecar)
    sys.stdout = io.StringIO()
    try:
        bench._emit_final_line(out, detail)
        captured = sys.stdout.getvalue()
    finally:
        bench.DETAIL_SIDECAR = old_sidecar
        sys.stdout = old_stdout
    return captured, sidecar


def _r4_shaped_out():
    # 25 headline queries with realistic name lengths + values
    queries = {name: round(0.3 + i * 0.017, 4) for i, name in enumerate(bench.HEADLINE)}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpu_s": 21.4837,
        "host_load_avg_1m_prerun": 3.83,
        "noisy": False,
        "reference_corpus_mb_per_sec": 36.16,
        "reference_corpus_8x_mb_per_sec": 54.57,
    }


def _r4_shaped_detail():
    return {
        "executor_cpu_s": {name: 0.8593 for name in bench.HEADLINE},
        "reference_corpus_breakdown_sec": {
            "total": 0.4242, "empty_job_floor": 0.0165, "scan_only": 0.0731,
        },
        "reference_corpus_8x_distinct_bytes": 122712176,
    }


def test_final_line_fits_driver_tail_buffer(tmp_path):
    captured, sidecar = _emit(_r4_shaped_out(), _r4_shaped_detail(), tmp_path)
    lines = [ln for ln in captured.splitlines() if ln.strip()]
    final = lines[-1]
    assert len(final) <= bench.LINE_BUDGET
    parsed = json.loads(final)
    # spec-required keys survive intact
    for key in ("metric", "value", "unit", "queries", "sf", "cpu_s"):
        assert key in parsed, key
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    # full diagnostics live in the committed sidecar
    side = json.loads(sidecar.read_text())
    assert set(side["detail"]["executor_cpu_s"]) == set(bench.HEADLINE)


def test_oversized_payload_sheds_diagnostics_not_queries(tmp_path):
    out = _r4_shaped_out()
    # simulate a future 80-query headline list: the budget must hold by
    # shedding optional fields first, then trimming to the slowest 25
    out["queries"] = {
        f"very_long_query_name_for_budget_stress_{i:03d}": 0.1 + i * 0.01
        for i in range(80)
    }
    captured, sidecar = _emit(out, _r4_shaped_detail(), tmp_path)
    final = [ln for ln in captured.splitlines() if ln.strip()][-1]
    assert len(final) <= bench.LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["queries"], "queries must never be shed entirely"
    # run-validity flags are UN-SHEDDABLE (ADVICE r5): a consumer parsing
    # only the headline line must never read a noisy run as clean
    assert "noisy" in parsed
    assert "host_load_avg_1m_prerun" in parsed
    if parsed.get("queries_truncated"):
        # the kept subset is the slowest (signal-bearing) tail
        kept = set(parsed["queries"])
        assert all(int(k.rsplit("_", 1)[1]) >= 55 for k in kept)
    # the sidecar always holds the full pre-shed record
    side = json.loads(sidecar.read_text())
    assert len(side["queries"]) >= 25


def test_committed_bench_detail_sidecar_parses():
    # the sidecar is committed per-round; a stale/corrupt one would
    # silently undermine the judge's cross-check
    if os.path.exists(bench.DETAIL_SIDECAR):
        side = json.load(open(bench.DETAIL_SIDECAR))
        assert side["metric"] == "headline_queries_total"


def test_8x_corpus_manifest_invalidation(tmp_path):
    """The 8x bench corpus regenerates on SOURCE change and reuses
    otherwise (r4 keyed the cache on total bytes, which Caesar rotation
    preserves — a content change could silently reuse stale variants;
    the fix keys on a per-file (path, size, mtime) manifest)."""
    src = tmp_path / "src.txt"
    src.write_text("hello world\n" * 10)
    scratch = str(tmp_path / "scratch")

    out1 = bench._materialize_8x_corpus([str(src)], scratch)
    assert len(out1) == 8  # original + 7 rotated variants
    variants = sorted(p for p in out1 if p.startswith(scratch))
    stamps1 = {p: os.path.getmtime(p) for p in variants}

    # unchanged source -> reuse (no rewrite)
    out2 = bench._materialize_8x_corpus([str(src)], scratch)
    assert sorted(p for p in out2 if p.startswith(scratch)) == variants
    assert {p: os.path.getmtime(p) for p in variants} == stamps1

    # content change (same byte count, bumped mtime) -> regenerate
    import time as _t
    _t.sleep(1.1)  # mtime granularity
    src.write_text("jelly xorld\n" * 10)
    out3 = bench._materialize_8x_corpus([str(src)], scratch)
    new_variants = sorted(p for p in out3 if p.startswith(scratch))
    assert {p: os.path.getmtime(p) for p in new_variants} != stamps1
    # and the rotated bytes actually reflect the new content
    assert b"jelly" not in open(new_variants[0], "rb").read()  # rotated away
    assert open(new_variants[0], "rb").read() != b""


class _Sink:
    """Stands in for ``df.write.format(...).mode(...)``: each save advances
    the fake clock by the next of ``walls``."""

    def __init__(self, clock, walls):
        self.clock, self.walls = clock, walls

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.clock[0] += self.walls.pop(0)


class _Status:
    """Stands in for ``perfbench.probe.StatusReader``: each run's stage
    figures derive from its mark's index, so the kept run is
    identifiable."""

    def __init__(self):
        self.marks = 0

    def mark(self):
        self.marks += 1
        return {"job": self.marks}

    def stages_since(self, mark):
        job = float(mark["job"])
        return {"executor_cpu_s": job, "shuffle_write_mb": 10 * job, "spill_mb": 0.0}


def test_timed_rebuilds_inside_every_run(monkeypatch):
    """One warm run plus n timed runs, each building its own frame, so
    build-time work is part of the measurement; the result is the
    fastest timed run's wall time and that run's whole stage record."""
    clock = [0.0]
    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    # warm, then three timed runs: the second timed run is fastest
    sink = _Sink(clock, [9.0, 3.0, 1.5, 2.0])
    builds = 0

    class _Frame:
        write = sink

    def build():  # a 0.25 s build: it must land inside the timed wall
        nonlocal builds
        builds += 1
        clock[0] += 0.25
        return _Frame()

    status = _Status()
    wall, stages = bench.timed(build, 3, status)
    assert builds == 1 + 3
    assert sink.walls == []
    assert status.marks == 3  # the warm run is not measured
    assert wall == 0.25 + 1.5
    assert stages == {"executor_cpu_s": 2.0, "shuffle_write_mb": 20.0, "spill_mb": 0.0}
