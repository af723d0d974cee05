"""Every measurement workload in ``tools/harness.py`` runs end to end at a
tiny size on the shared session and repeats its digest fields."""

from __future__ import annotations

import dataclasses
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import harness  # noqa: E402

# per workload, the smallest input that still gives each job rows to
# digest (a workload missing here fails its test)
TINY = {
    "scaling": 10,
    "scaling_pipeline": 10,
    "scaling_phases": 10,
    "dedup": 10,
    "ppjoin": 40,
    "setjoin": 40,
    "simhash": 40,
    "edjoin": 30,
    "semdedup": 40,
    "training": 40,
    "training_decon": 40,
    "decon_fusion": 40,
    "skew": 1000,
    "skew_adversarial": 1000,
    "lm_skew": 100,
    "metablock": 40,
    "inccc": 100,
    "f1": 10,
    "key_families": 10,
}


def _run_recorded(spark, name):
    """``harness.run`` with each job's outputs recorded: -> (rows,
    {variant: [output per execution]})."""
    wl = harness.WORKLOADS[name]
    outs: dict = {v: [] for v in wl.jobs}

    def recorded(variant, job):
        def run(inputs):
            outs[variant].append(job(inputs))
            return outs[variant][-1]

        return run

    jobs = {v: recorded(v, j) for v, j in wl.jobs.items()}
    harness.WORKLOADS[name] = dataclasses.replace(wl, jobs=jobs, trials=1)
    try:
        return harness.run(name, 1, TINY[name], spark=spark), outs
    finally:
        harness.WORKLOADS[name] = wl


def _each(spark, names):
    """name -> _run_recorded's result, or the exception it raised."""
    out = {}
    for n in names:
        try:
            out[n] = _run_recorded(spark, n)
        except Exception as e:  # reported by that workload's test
            out[n] = e
    return out


@pytest.fixture(scope="module")
def runs(spark):
    """Tiny jobs cost what planning and code generation cost, so
    whole-stage code generation is off and four workloads run at once.
    Those that change session settings run one after another, so each
    restores what it found; the settings they change (AQE, the broadcast
    threshold) leave every result unchanged. The F1 sweep scores two of
    its rules."""
    settings = [n for n, wl in harness.WORKLOADS.items() if wl.conf]
    groups = [[n] for n in harness.WORKLOADS if n not in settings] + [settings]
    codegen = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(harness, "F1_RULES", harness.F1_RULES[:2])
            with ThreadPoolExecutor(4) as pool:
                futures = [pool.submit(_each, spark, g) for g in groups]
            return {n: r for f in futures for n, r in f.result().items()}
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)


@pytest.mark.parametrize("name", sorted(harness.WORKLOADS))
def test_workload_repeats_its_digest(runs, name):
    """``run`` executes every variant twice (warm-up, then one timed run);
    each execution returns every digest field with the same value."""
    if isinstance(runs[name], Exception):
        raise runs[name]
    rows, outs = runs[name]
    wl = harness.WORKLOADS[name]
    assert [r["variant"] for r in rows] == list(wl.jobs)
    for r in rows:
        first, *again = outs[r["variant"]]
        assert again
        for f in wl.digest:
            assert first[f] is not None and r[f] == first[f], (r["variant"], f)
            assert all(o[f] == first[f] for o in again), (r["variant"], f)
        assert r["stages"] == []  # no event log on a session passed in
