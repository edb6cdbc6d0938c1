"""Mirror of the driver's correctness gate: every registered query
with an oracle must hash-match DuckDB on the same parquet tables."""

from __future__ import annotations

import pytest

from clickstreamtoclickhouse_spark import plans

from .conftest import SF_DIR_MED
from .oracle_utils import assert_query_matches_oracle


# sf0.01 — the SAME scale the driver's correctness gate uses, so this
# parametrization is a true mirror (it also exercises plans on 10x the
# rows of the other tests' sf0.001 fixtures)
@pytest.mark.parametrize("name", sorted(plans.ORACLE))
def test_query_matches_oracle(spark, name):
    assert_query_matches_oracle(spark, name, SF_DIR_MED)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_mirror_sees_identical_registry_as_driver_contract():
    """The driver samples ~50 queries per round; the other ~186 are
    green only via THIS file's parametrization over plans.ORACLE. That
    guarantee holds only if the two surfaces are the same registry —
    pin name-level identity so the adapter in __spark_entry__.py can
    never silently filter/rename what the mirror checks."""
    import __spark_entry__ as entrymod

    driver_q = entrymod.queries()
    driver_o = entrymod.oracle_sql()
    assert set(driver_q) == set(plans.QUERIES)
    assert set(driver_o) == set(plans.ORACLE)
    # every driver-visible query is oracle-checked by the mirror (the
    # repo's zero-rows-only-entries stance), and the SQL is identical
    assert set(driver_o) == set(driver_q)
    for name, sql in driver_o.items():
        assert sql == plans.ORACLE[name], name


def test_coverage_doc_registry_count_is_exact():
    """Round 13 (r12 verdict #4): COVERAGE.md's oracled-query count is
    load-bearing for the 'every query is checked somewhere' provenance
    argument, and it went stale in round 12 (283 vs 284). Derive it
    mechanically: the doc's '(N as of round ...' figure must equal
    len(plans.ORACLE) on every suite run."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(r"\((\d+) as of round", text)
    assert m, "COVERAGE.md lost its '(N as of round' provenance figure"
    assert int(m.group(1)) == len(plans.ORACLE), (
        f"COVERAGE.md says {m.group(1)} oracled queries; registry has "
        f"{len(plans.ORACLE)} — update the provenance paragraph"
    )
