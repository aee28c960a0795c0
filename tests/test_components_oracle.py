"""Per-COMPONENT oracle checks: every member of the consolidated gate
suites (TPC-H q2..q22, set ops, CEP variants, nexmark analogs, ...)
verified individually against DuckDB — the driver sees the 50 composite
gates; this keeps member-level evidence in pytest."""

import pytest

from beam_spark import gates as g
from beam_spark import queries as q
from tests.oracle import oracle_sweep

# components that are NOT themselves gates (suite members + extras)
GATE_NAMES = set(g.queries())
COMPONENT_NAMES = sorted(n for n in q.queries()
                         if n not in GATE_NAMES and q.oracle_sql().get(n))


def test_component_inventory_nonempty():
    assert len(COMPONENT_NAMES) >= 35, COMPONENT_NAMES


@pytest.fixture(scope="module")
def component_outcomes(spark, duck, sf_dir):
    """Precompute every component-vs-oracle comparison with
    ``oracle_sweep`` (Spark on a thread pool, DuckDB on its own
    thread): the ~250 serial build+collect+DuckDB rounds were the
    suite's largest block. The per-component tests below re-raise
    the stored outcome, so reporting is identical to the serial
    version."""
    return oracle_sweep(COMPONENT_NAMES,
                        lambda n: q.queries()[n](spark, sf_dir),
                        q.oracle_sql(), duck)


@pytest.mark.parametrize("name", COMPONENT_NAMES)
def test_component_matches_oracle(name, component_outcomes):
    err = component_outcomes[name]
    if err is not None:
        raise err
