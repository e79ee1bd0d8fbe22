"""The two workloads. Each drives the program only through its public
entry points and returns per-operation samples plus per-layer figures.

An *operation* is the unit a workload times and checks:

- ``corpus_zipf``: one ``wordcount_spark.__main__.main([...files, "--out",
  dir])`` over a seeded Zipf corpus: the reference binary's whole job, the
  count stage (scan, tokenize, normalize, aggregate) and the output stage
  (sort, rank, write one file);
- ``headline_sf0.01``: one headline query, rebuilt and run to a noop sink.
  A *pass* runs every query once, in an order fixed by the seed; the timed
  phase repeats passes, each over a fresh copy of the tables.
"""

from __future__ import annotations

import contextlib
import io
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import gen
from probe import PLAN_FIELDS, STAGE_FIELDS, ProcessTree, StatusReader, Tracer, analysis_s

#: Three of the 25 headline queries ``bench.py`` reports, chosen to cover
#: eager driver-side builds (counts, collects, ``localCheckpoint``),
#: ``bounded_cache`` pins, broadcast and shuffle joins, windows and a text
#: pipeline. All 25 cost ~85 s a pass at local[4].
HEADLINE = "q9_pseudo_profit events_gapfill_hourly pipeline_pretrain_full".split()

#: ~3.5 MB; ~2.5% distinct words, as in the reference's 57,467 / 2,658,525.
ZIPF = gen.CorpusSpec(n_tokens=800_000, vocab=20_000, zipf_s=1.0)
#: CLI runs before timing (the first, in a cold JVM, takes ~4x longer)
WARM_UP_OPS = 2
#: Scale of the headline tables.
HEADLINE_SF = 0.01
#: Unchecked passes after the checked one, before timing: a pass's CPU
#: time halves over its first four passes while the JIT compiles the
#: planner, then falls slowly.
WARM_PASSES = 3
#: Timed units (CLI runs, or headline passes), at least.
MIN_UNITS = 3
#: Job group of the jobs a headline query runs while it is built.
BUILD_GROUP = "perfbench-build"

#: Per-layer figures that are plain sums over the traced operations.
SUMMED = ("build_s", "build_jobs", "cached_mb", "cached_rdds", "analysis_s",
          "optimization_s", "planning_s", "sink_write_s", "cli_count_s",
          "cli_output_s", *STAGE_FIELDS, *PLAN_FIELDS, "jobs", "count")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Samples:
    """What one phase of a run measured."""

    #: wall times per operation kind: "cli", or one headline query
    walls: dict[str, list[float]] = field(default_factory=dict)
    #: process CPU times, likewise
    cpus: dict[str, list[float]] = field(default_factory=dict)
    #: CLI runs, or headline passes: what the per-layer figures are per
    units: int = 0
    #: the machine's CPU steal during the phase, in percent
    steal_pct: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: per-layer sums over the operations of a traced phase
    layers: dict = field(default_factory=lambda: dict.fromkeys(SUMMED, 0.0))
    detail: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        """Wall time of one unit: the operations' total over the units."""
        return sum(map(sum, self.walls.values())) / self.units

    @property
    def cpu_s(self) -> float:
        """Process CPU of one unit, in the same way."""
        return sum(map(sum, self.cpus.values())) / self.units

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems.extend(f"{what}: {p}" for p in problems)

    def add_layers(self, deltas: dict) -> None:
        for k in SUMMED:
            self.layers[k] += deltas.get(k, 0.0)


class Context:
    """The session and probes shared by every operation of a run."""

    def __init__(self, spark, queries, oracles, tracer: Tracer):
        from pyspark import SparkContext

        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.tracer = tracer
        self.procs = ProcessTree(SparkContext._gateway.proc.pid)
        self.status = StatusReader(spark)
        #: a ``probe.CatalystListener`` while tracing
        self.catalyst = None


def _run_op(ctx: Context, samples: Samples, kind: str, body):
    """Run one operation: wall and process CPU around ``body``, and, while
    tracing, the layer deltas read before and after it, outside the timed
    region. Returns ``body``'s result and the deltas."""
    tracing = ctx.tracer.enabled
    if tracing:
        mark = ctx.status.mark()
        ctx.catalyst.take()  # executions before this operation
    cpu0 = ctx.procs.cpu_s()
    t0 = time.monotonic()
    result = body()
    samples.walls.setdefault(kind, []).append(time.monotonic() - t0)
    samples.cpus.setdefault(kind, []).append(ctx.procs.cpu_s() - cpu0)
    deltas: dict = {}
    if tracing:
        deltas.update(ctx.status.stages_since(mark))  # drains the listener bus
        deltas.update(ctx.status.plans_since(mark))
        deltas["build_jobs"] = ctx.status.jobs_since(mark, BUILD_GROUP)
        deltas["cached_rdds"], deltas["cached_mb"] = ctx.status.cached()
        deltas.update(ctx.catalyst.take())
    return result, deltas


# --- corpus_zipf: the CLI over a Zipf corpus ------------------------------------

_STAGE_LINE = re.compile(r"(Count|Sort & output) stage: ([\d.]+) ms")


class CorpusZipf:
    name = "corpus_zipf"

    def __init__(self, seed: int, cache: Path):
        self.corpus = gen.corpus(ZIPF, seed, cache)
        self.input_bytes = self.corpus.n_bytes
        self.out_root = cache / "cli-out"

    def _op(self, ctx: Context, samples: Samples, i: int) -> None:
        import wordcount_spark.sources.sinks as sinks
        from wordcount_spark.__main__ import main

        tr = ctx.tracer
        out = self.out_root / f"op{i}"
        shutil.rmtree(out, ignore_errors=True)
        out.parent.mkdir(parents=True, exist_ok=True)
        samples.attempted += 1
        err = io.StringIO()
        write = sinks.write_reference_output
        write_s = []

        def timed_write(*args, **kwargs):
            with tr.span("sinks.write_reference_output", op=i):
                t0 = time.monotonic()
                write(*args, **kwargs)
                write_s.append(time.monotonic() - t0)

        def run():
            with tr.span("cli.main", op=i):
                with contextlib.redirect_stderr(err), contextlib.redirect_stdout(io.StringIO()):
                    return main([*self.corpus.files, "--out", str(out)], spark=ctx.spark)

        if tr.enabled:  # the CLI looks the sink up at call time
            sinks.write_reference_output = timed_write
        try:
            code, deltas = _run_op(ctx, samples, "cli", run)
            problems = [f"exit code {code}"] if code else []
            problems += checks.ranked_output(out, self.corpus.files[0], self.corpus)
            if tr.enabled:
                stage = dict(_STAGE_LINE.findall(err.getvalue()))
                deltas["cli_count_s"] = float(stage.get("Count", 0)) / 1e3
                deltas["cli_output_s"] = float(stage.get("Sort & output", 0)) / 1e3
                deltas["sink_write_s"] = sum(write_s)
                samples.add_layers(deltas)
                samples.detail.append({"op": i, "wall_s": samples.walls["cli"][-1], **deltas})
        except Exception as e:  # a failed operation is counted, not fatal
            problems = [f"{type(e).__name__}: {e}"]
        finally:
            sinks.write_reference_output = write
            shutil.rmtree(out, ignore_errors=True)
        if problems:
            samples.fail(f"op {i}", problems)

    def warm_up(self, ctx: Context) -> Samples:
        s = Samples()
        for i in range(-WARM_UP_OPS, 0):
            self._op(ctx, s, i)
        return s

    def measure(self, ctx: Context, seconds: float, phase: str) -> Samples:
        """Closed loop, one client: CLI runs until ``seconds`` have passed,
        at least ``MIN_UNITS``."""
        s = Samples()
        start = time.monotonic()
        while s.units < MIN_UNITS or time.monotonic() - start < seconds:
            self._op(ctx, s, s.units)
            s.units += 1
        return s


# --- headline_sf0.01 -----------------------------------------------------------


class Headline:
    name = "headline_sf0.01"

    def __init__(self, seed: int, cache: Path):
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.main_dir = gen.star_schema(HEADLINE_SF, seed, cache)
        self.input_bytes = gen.dir_bytes(self.main_dir)
        self.want_rows: dict[str, int] = {}

    def warm_up(self, ctx: Context) -> Samples:
        """One untimed pass over a copy of the tables of its own, in which
        every query's result is collected and checked against its oracle,
        then ``WARM_PASSES`` untimed passes as the timed phase runs them."""
        s = Samples()
        check_dir = gen.copy_of(self.main_dir, "check")
        for name in self.order:
            s.attempted += 1
            sql = ctx.oracles.get(name)
            try:
                df = ctx.queries[name](ctx.spark, str(check_dir))
                rows = df.collect()
                problems = checks.matches_oracle(rows, df.columns, sql, check_dir) if sql else []
            except Exception as e:  # a failed query is counted, not fatal
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                s.fail(name, problems)
        # every copy holds the same bytes
        self.want_rows = {
            name: checks.oracle_rows(ctx.oracles[name], self.main_dir)
            for name in self.order if name in ctx.oracles
        }
        for n_pass in range(WARM_PASSES):
            self._pass(ctx, s, "warm", n_pass)
        return s

    def _query(self, ctx: Context, s: Samples, sf_dir: Path, name: str, n_pass: int) -> int:
        """Build ``name`` and run it to a noop sink; returns its rows out."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        tr = ctx.tracer
        jsc = ctx.spark.sparkContext._jsc
        obs = Observation(name)
        build_s = []

        def run():
            with tr.span("query", query=name, n_pass=n_pass):
                with tr.span("operators.build", query=name):
                    if tr.enabled:
                        jsc.setJobGroup(BUILD_GROUP, name, False)
                    t0 = time.monotonic()
                    try:
                        df = ctx.queries[name](ctx.spark, str(sf_dir))
                    finally:
                        build_s.append(time.monotonic() - t0)
                        if tr.enabled:
                            jsc.clearJobGroup()
                with tr.span("query.noop_write", query=name):
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                        "noop"
                    ).mode("overwrite").save()
            return df

        df, deltas = _run_op(ctx, s, name, run)
        rows = obs.get["rows"]
        if tr.enabled:
            deltas["build_s"] = build_s[0]
            deltas["analysis_s"] += analysis_s(df)
            s.add_layers(deltas)
            s.detail.append({"query": name, "pass": n_pass, "rows_out": rows,
                             "wall_s": s.walls[name][-1], **deltas})
        return rows

    def _pass(self, ctx: Context, s: Samples, phase: str, n_pass: int) -> None:
        """Every query once, over a copy of the tables of its own, after the
        cache is cleared, so it meets no pins of an earlier pass."""
        sf_dir = gen.copy_of(self.main_dir, f"{phase}{n_pass}")
        ctx.spark.catalog.clearCache()
        for name in self.order:
            s.attempted += 1
            try:
                rows = self._query(ctx, s, sf_dir, name, n_pass)
                want = self.want_rows.get(name, rows)
                if rows != want:
                    s.fail(name, [f"{rows} rows out, oracle has {want}"])
            except Exception as e:  # a failed query is counted, not fatal
                s.fail(name, [f"{type(e).__name__}: {e}"])

    def measure(self, ctx: Context, seconds: float, phase: str) -> Samples:
        """Passes until ``seconds`` have passed, at least ``MIN_UNITS``."""
        s = Samples()
        start = time.monotonic()
        while s.units < MIN_UNITS or time.monotonic() - start < seconds:
            self._pass(ctx, s, phase, s.units)
            s.units += 1
        return s


WORKLOADS = {w.name: w for w in (CorpusZipf, Headline)}
