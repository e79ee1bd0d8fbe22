"""The driver captures only the last ~2000 bytes of bench stdout and
json-parses the FINAL line; round 4's line outgrew that window and the
official artifact landed with "parsed": null (VERDICT r4 item 1). These
tests pin the emission contract without running Spark: the final line
must parse, carry the spec-required keys, and fit LINE_BUDGET with the
25 headline queries; each query's stage record and the corpus phase's
figures must land in the sidecar. The timing helper's warm-plus-best-of-n
loop and the corpus phase are pinned the same way, with stub frames and
a stub status reader.
"""

from __future__ import annotations

import io
import json
import os
import sys
from types import SimpleNamespace

import bench


def _capture(tmp_path, run):
    """Run ``run()`` with the sidecar redirected into ``tmp_path``; return
    its stdout and the sidecar path."""
    sidecar = tmp_path / "BENCH_detail.json"
    old_sidecar, old_stdout = bench.DETAIL_SIDECAR, sys.stdout
    bench.DETAIL_SIDECAR = str(sidecar)
    sys.stdout = io.StringIO()
    try:
        run()
        captured = sys.stdout.getvalue()
    finally:
        bench.DETAIL_SIDECAR = old_sidecar
        sys.stdout = old_stdout
    return captured, sidecar


def _shaped_out():
    # the 25 headline queries with realistic values
    queries = {name: round(10.3 + i * 0.017, 4) for i, name in enumerate(bench.HEADLINE)}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpu_s": 123.4837,
        "synthetic_corpus_mb_per_sec": 113.16,
    }


def test_final_line_fits_driver_tail_buffer(tmp_path):
    detail = {"stages": {name: {"executor_cpu_s": 0.8593} for name in bench.HEADLINE}}
    captured, sidecar = _capture(
        tmp_path, lambda: bench._emit_final_line(_shaped_out(), detail)
    )
    lines = [ln for ln in captured.splitlines() if ln.strip()]
    final = lines[-1]
    assert len(final) <= bench.LINE_BUDGET
    parsed = json.loads(final)
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "sf", "cpu_s",
        "synthetic_corpus_mb_per_sec",
    }
    assert list(parsed["queries"]) == bench.HEADLINE
    # full diagnostics live in the committed sidecar
    side = json.loads(sidecar.read_text())
    assert set(side["detail"]["stages"]) == set(bench.HEADLINE)


def test_committed_bench_detail_sidecar_parses():
    # the sidecar is committed per-round; a stale/corrupt one would
    # silently undermine the judge's cross-check
    if os.path.exists(bench.DETAIL_SIDECAR):
        side = json.load(open(bench.DETAIL_SIDECAR))
        assert side["metric"] == "headline_queries_total"


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


#: every figure ``StatusReader.stages_since`` sums
_STAGE_KEYS = ("jobs", "count", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


class _RecordStatus(_Status):
    def stages_since(self, mark):
        return {k: mark["job"] + i / 10 for i, k in enumerate(_STAGE_KEYS)}


class _Session:
    stopped = False

    def stop(self):
        self.stopped = True


def test_sidecar_carries_each_headline_stage_record(monkeypatch, tmp_path):
    """main() writes the kept run's whole stage record of every headline
    query to the sidecar, and sums their executor CPU into ``cpu_s``."""
    import perfbench.probe
    import wordcount_spark.registry
    import wordcount_spark.session

    clock = [0.0]
    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    session, status = _Session(), _RecordStatus()
    built = []

    def query(name):
        def build(spark, sf_dir):
            assert (spark, sf_dir) == (session, "/data/sf0.1")
            built.append(name)

            class _Frame:  # every run takes 1 s: the first timed run is kept
                write = _Sink(clock, [1.0])
            return _Frame()
        return build

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setattr(wordcount_spark.session, "get_spark", lambda app: session)
    monkeypatch.setattr(perfbench.probe, "StatusReader", lambda spark: status)
    monkeypatch.setattr(
        wordcount_spark.registry, "get_queries",
        lambda: {name: query(name) for name in bench.HEADLINE},
    )
    monkeypatch.setattr(
        bench, "_corpus_phase",
        lambda spark, st, out, detail: out.update(synthetic_corpus_mb_per_sec=1.0),
    )
    captured, sidecar = _capture(tmp_path, bench.main)

    assert built == [name for name in bench.HEADLINE for _ in range(4)]
    assert session.stopped
    side = json.loads(sidecar.read_text())
    stages = side["detail"]["stages"]
    assert list(stages) == sorted(bench.HEADLINE)
    for i, name in enumerate(bench.HEADLINE):
        first_timed_mark = 3 * i + 1  # three marks per query
        assert stages[name] == {
            k: round(first_timed_mark + j / 10, 4) for j, k in enumerate(_STAGE_KEYS)
        }
    line = json.loads(captured.splitlines()[-1])
    assert line["cpu_s"] == round(sum(s["executor_cpu_s"] for s in stages.values()), 4)
    assert line["queries"] == {name: 1.0 for name in bench.HEADLINE}


def test_corpus_phase_times_shipped_count(monkeypatch):
    """The corpus phase times the CLI's ``count_words(load_text_corpus(...))``
    over the generated files inside ``timed``, and reports bytes / wall as
    MB/s with the kept run's executor CPU beside it in the sidecar."""
    import perfbench.gen
    import wordcount_spark.operators.wordcount
    import wordcount_spark.sources.readers

    clock = [0.0]
    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    sink = _Sink(clock, [9.0, 3.0, 1.5, 2.0])  # warm, then the kept 1.5 s run
    session, files, calls = object(), ["part-00.txt", "part-01.txt"], []

    def corpus(spec, seed, cache_root):
        calls.append(("corpus", spec, seed, cache_root))
        return SimpleNamespace(files=files, n_bytes=12_000_000)

    def load_text_corpus(spark, paths):
        calls.append(("load", spark, paths))
        return "lines"

    def count_words(df):
        calls.append(("count", df))

        class _Frame:
            write = sink
        return _Frame()

    monkeypatch.setattr(perfbench.gen, "corpus", corpus)
    monkeypatch.setattr(wordcount_spark.sources.readers, "load_text_corpus", load_text_corpus)
    monkeypatch.setattr(wordcount_spark.operators.wordcount, "count_words", count_words)
    out, detail = {}, {}
    bench._corpus_phase(session, _Status(), out, detail)

    (_, spec, seed, root), *runs = calls
    assert spec == perfbench.gen.CorpusSpec(n_tokens=2_658_525, vocab=57_467, files=29)
    assert seed == 1 and root.parts[-2:] == (".bench_scratch", "corpus")
    assert runs == [("load", session, files), ("count", "lines")] * 4
    assert sink.walls == []
    assert out == {"synthetic_corpus_mb_per_sec": 8.0}  # 12 MB / 1.5 s
    assert detail == {"synthetic_corpus": {
        "spec": bench.CORPUS_SPEC, "seed": 1, "bytes": 12_000_000,
        "wall_s": 1.5, "executor_cpu_s": 2.0,
    }}
