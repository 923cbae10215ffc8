"""Fast standalone lint: every DuckDB oracle's result schema is
driver-hash-safe (no HUGEINT/DECIMAL/UHUGEINT columns).

This is the mechanical defense against the round-4 hash-fail class:
DuckDB widens sum(BIGINT) to HUGEINT (int128) and keeps DECIMAL types
un-cast; the driver's value hash canonicalizes those differently from
Spark's int64/float64, so bit-identical values still hash-mismatch.
The fix is always a CAST in the oracle SQL. This test plans each oracle
under DuckDB directly, so it runs in seconds and catches new oracles at
authoring time. Only an oracle that reads a fixture dir its query's
Spark build writes starts a Spark session: that build runs once first,
so no case depends on test order.

(Verified against history: before the round-5 casts, this lint flags
q_udf_grouped, q_window_sessionize, q_embed_quantize — the three r4
hash-fails — and q_sql_tpch_q12, which had never been driver-checked
and would have failed in r5.)
"""

from __future__ import annotations

import pytest

from clickhouse_mergetree_spark.registry import all_queries
from tests.oracle_compare import assert_oracle_types

QUERIES = all_queries()
ORACLED = sorted(n for n, q in QUERIES.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_result_types(name, duck, sf_dir, request):
    q = QUERIES[name]
    try:
        rel = duck.sql(q.oracle)
    except Exception as e:  # oracle depends on a Spark-side persisted table
        msg = str(e)
        if "does not exist" not in msg and "No files found" not in msg:
            raise
        # The oracle reads a fixture dir that the query's own Spark build
        # writes: build it once (only these cases start Spark), then plan
        # again — still missing is a failure, never a skip.
        q.fn(request.getfixturevalue("spark"), sf_dir)
        rel = duck.sql(q.oracle)
    assert_oracle_types(rel)
