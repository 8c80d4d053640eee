"""Every registered query with an oracle must match DuckDB exactly —
this is the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from dmshadoop_spark import registry

registry.load_all()

from tests.oracle_harness import compare  # noqa: E402

ORACLE_IDS = sorted(registry.ORACLE)
ROWS_ONLY_IDS = sorted(set(registry.QUERIES) - set(registry.ORACLE))


@pytest.mark.parametrize("qid", ORACLE_IDS)
def test_oracle_match(spark, sf_dir, qid):
    problems = compare(spark, sf_dir, registry.QUERIES[qid], registry.ORACLE[qid])
    assert not problems, f"{qid}: " + "; ".join(problems)


@pytest.mark.parametrize("qid", ROWS_ONLY_IDS)
def test_rows_only_runs(spark, sf_dir, qid):
    df = registry.QUERIES[qid](spark, sf_dir)
    # Must execute and produce a stable schema; ≥0 rows per driver contract.
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
    assert list(e.queries()) == list(registry.QUERIES)
