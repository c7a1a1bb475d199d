"""The core correctness gate, run locally: every queries() entry with
an oracle must hash-match DuckDB at sf0.001 (the driver repeats this
at sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR, compare_with_oracle, duck_con

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    compare_with_oracle(df, ORACLES[name], SF_DIR)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_query_listed_has_callable():
    """Every registry entry has an oracle and every oracle a query, so
    an entry added without its oracle SQL fails here, wherever it sits
    in the registry."""
    assert set(QUERIES) == set(ORACLES), (
        f"queries without an oracle: {sorted(set(QUERIES) - set(ORACLES))}"
    )


def test_no_oracle_hugeint_columns():
    """The driver hashes oracle output through pandas, where a DuckDB
    HUGEINT (int128, what ``sum()`` over integers returns) becomes
    float64 and hash-mismatches Spark's int64 even when every value
    agrees (round-2 verdict: q12/token_budget/repetition/pack/variant).
    Our own ``compare_with_oracle`` misses it because ``fetchall()``
    keeps HUGEINT as a Python int.  Guard: bind (not execute) every
    oracle and assert its result schema is HUGEINT-free — integer sums
    must be ``CAST(... AS BIGINT)``."""
    con = duck_con(SF_DIR)
    try:
        bad = {}
        for name, sql in ORACLES.items():
            rel = con.sql(sql)
            hug = [
                c
                for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()
            ]
            if hug:
                bad[name] = hug
    finally:
        con.close()
    assert not bad, f"oracle SQL returns HUGEINT columns (CAST to BIGINT): {bad}"
