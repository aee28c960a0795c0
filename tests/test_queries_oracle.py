"""Run every registered query against its duckdb oracle — the local mirror
of the driver's t2 correctness gate."""

import pytest

from beam_spark import gates as g
from tests.oracle import oracle_sweep

NAMES = sorted(g.queries())


def test_exactly_fifty_gates():
    """The driver checks only the FIRST 50 dict entries — the registry
    must stay at exactly 50 with at most one oracle-less gate."""
    assert len(g.queries()) == 50
    assert len(g.oracle_sql()) >= 49


@pytest.fixture(scope="module")
def gate_outcomes(spark, duck, sf_dir):
    """Precompute every gate-vs-oracle comparison with ``oracle_sweep``
    (the test_components_oracle posture: the serial sweep was a large
    block of the suite's wall time). Outcomes are stored and re-raised
    per gate, so reporting is identical to the serial version; the
    oracle-less gate gets a rows-only check. Four DuckDB threads: no
    gate oracle peaks above about 0.7 GB, and the dedup-pairs oracle
    alone runs for about two minutes."""
    return oracle_sweep(NAMES, lambda n: g.queries()[n](spark, sf_dir),
                        g.oracle_sql(), duck, duck_threads=4)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, gate_outcomes):
    err = gate_outcomes[name]
    if err is not None:
        raise err


def test_gate_outputs_are_scalar_only(spark):
    """The driver's canonicalizer cannot hash arrays/maps/structs
    (round-1 'unhashable list' errors) — every gate output column must
    be scalar. Schemas only; no data is executed."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as T

    sf = "/root/testdata/sf0.001"

    def schema_of(item):
        name, fn = item
        return name, fn(spark, sf).schema

    with ThreadPoolExecutor(12) as ex:
        schemas = list(ex.map(schema_of, g.queries().items()))
    for name, schema in schemas:
        for f in schema.fields:
            assert not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)), (
                f"{name}.{f.name} is {f.dataType.simpleString()}")


def test_build_members_order_and_errors():
    """build_members runs every member on its own thread, returns the
    results in input order, and re-raises a member's exception only
    after the other members have finished."""
    import threading
    import time

    from beam_spark.queries import build_members

    # all five members must be running at once to pass the barrier;
    # the later ones finish first, yet results keep input order
    barrier = threading.Barrier(5, timeout=10)

    def member(i):
        def build():
            barrier.wait()
            time.sleep(0.05 * (4 - i))
            return i
        return build

    assert build_members([member(i) for i in range(5)]) == [0, 1, 2, 3, 4]

    finished = []

    def slow():
        time.sleep(0.2)
        finished.append("slow")
        return "slow"

    def boom():
        raise KeyError("bad member")

    with pytest.raises(KeyError, match="bad member"):
        build_members([boom, slow])
    assert finished == ["slow"]
