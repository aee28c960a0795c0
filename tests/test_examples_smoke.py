"""Smoke-run every examples/*.py at sf0.001 (VERDICT r13 #7).

The round-13 ContinuousAggregate stack overflow was found only because
examples/timeseries_rollup.py happened to be run by hand — the example
had silently broken while every unit test stayed green. This test
pins the whole directory: each example must EXIT 0 against the
smallest testdata scale.

Subprocess-per-example on purpose: six examples call spark.stop() in
main() (correct for a standalone script), which would tear down the
shared test session if imported in-process. The JVM startup cost is
the price of running the scripts exactly as a user would.
"""

import os
import subprocess
import sys

import pytest

EXAMPLES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples")
SF_DIR = "/root/testdata/sf0.001"

# argv per example: most take [sf_dir]; the no-arg scripts synthesize
# their own input; scale_check takes (base, out) and replicates 10x —
# at sf0.001 that is ~sf0.01-sized, small enough for a smoke run.
_ARGV = {
    "wordcount.py": [],
    "streaming_triggers.py": [],
    "scale_check.py": [SF_DIR, "/tmp/beam_spark_scale_smoke/sf"],
}

ALL_EXAMPLES = sorted(
    f for f in os.listdir(EXAMPLES_DIR) if f.endswith(".py"))


def test_every_example_is_covered():
    """Every example runs here (default argv is [SF_DIR]) and every
    argv override names an example that exists."""
    assert ALL_EXAMPLES, EXAMPLES_DIR
    assert set(_ARGV) <= set(ALL_EXAMPLES), set(_ARGV) - set(ALL_EXAMPLES)


def _run_example(name):
    argv = _ARGV.get(name, [SF_DIR])
    return subprocess.run(
        [sys.executable, os.path.join(EXAMPLES_DIR, name), *argv],
        capture_output=True, text=True, timeout=420,
        # a 1g heap per example JVM: at the engine's 8g default eight
        # concurrent examples held ~13 GB between them
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR,
             "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )


@pytest.fixture(scope="module")
def example_procs():
    """Run all examples CONCURRENTLY (bounded pool): each is an
    independent subprocess with its own JVM, and the serial version
    paid ~16 cold JVM startups back-to-back — the single largest
    block of the suite's wall time (VERDICT r15 #1: the driver's
    pytest run cannot finish its time window). Results are keyed by
    example name; the per-example tests below assert exactly what
    the serial version asserted. A run's exception (such as
    TimeoutExpired) is stored and re-raised only in that example's
    test. Four at a time: the host has four cores, and each example
    JVM brings its own Python workers."""
    from concurrent.futures import ThreadPoolExecutor

    def run(name):
        try:
            return _run_example(name)
        except Exception as e:  # stored, re-raised in the test
            return e

    with ThreadPoolExecutor(4) as ex:
        futs = {n: ex.submit(run, n) for n in ALL_EXAMPLES}
        return {n: f.result() for n, f in futs.items()}


@pytest.mark.parametrize("name", ALL_EXAMPLES)
def test_example_exits_zero(name, example_procs):
    proc = example_procs[name]
    if isinstance(proc, Exception):
        raise proc
    assert proc.returncode == 0, (
        f"{name} exited {proc.returncode}\n"
        f"--- stdout tail ---\n{proc.stdout[-2000:]}\n"
        f"--- stderr tail ---\n{proc.stderr[-4000:]}")
