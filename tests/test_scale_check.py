"""The scale sweep measures the shipped registry callables, one timed point
per (query, scale), and its growth figures are ratios of consecutive
points. Pinned without Spark: stub queries, a stub frame and a stub
``timed`` stand in for the session, the registry and ``bench.timed``."""

from __future__ import annotations

from functools import partial

from tools import scale_check


class _Frame:
    pass


def test_sweep_times_each_registered_callable_once_per_scale(monkeypatch):
    spark = object()
    dirs = {0.01: "/t/sf0.01", 0.1: "/t/sf0.1", 1: "/t/sf1"}
    sf_of = {d: sf for sf, d in dirs.items()}
    queries = {name: (lambda s, d: _Frame()) for name in scale_check.SWEEP}
    # figures that grow differently per scale, so every ratio is distinct
    cpu = {0.01: 2.0, 0.1: 5.0, 1: 80.0}
    shuffle = {0.01: 0.0, 0.1: 4.0, 1: 10.0}
    builds = []

    def fake_timed(build, n, status):
        builds.append(build)
        assert n == 2 and status == "status"
        assert isinstance(build(), _Frame)
        sf = sf_of[build.args[1]]
        stages = {"executor_cpu_s": cpu[sf], "shuffle_write_mb": shuffle[sf],
                  "spill_mb": 1.0, "jobs": 3}
        return 0.5, stages

    monkeypatch.setattr(scale_check, "timed", fake_timed)
    results = scale_check.sweep(spark, "status", queries, dirs)

    assert len(builds) == len(scale_check.SWEEP) * len(dirs)
    expected = [(name, d) for name in scale_check.SWEEP for d in dirs.values()]
    for build, (name, d) in zip(builds, expected):
        assert isinstance(build, partial)
        assert build.func is queries[name]
        assert build.args == (spark, d) and not build.keywords

    assert set(results) == set(scale_check.SWEEP)
    for rec in results.values():
        assert rec["points"][0.1] == {
            "wall_s": 0.5, "executor_cpu_s": 5.0, "shuffle_write_mb": 4.0,
            "spill_mb": 1.0,
        }
        assert rec["growth"] == {
            "0.01->0.1": {"executor_cpu": 2.5, "shuffle_write": None},
            "0.1->1": {"executor_cpu": 16.0, "shuffle_write": 2.5},
        }


def test_sweep_names_are_registered():
    from wordcount_spark.registry import QUERIES, _load_all

    _load_all()
    assert len(set(scale_check.SWEEP)) == len(scale_check.SWEEP) == 30
    missing = [n for n in scale_check.SWEEP if n not in QUERIES]
    assert not missing, missing

