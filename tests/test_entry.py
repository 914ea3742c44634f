"""Replicates the driver's correctness gate: every ``queries()`` entry vs
its ``oracle_sql()`` on the same parquet, order-insensitive compare."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as entry_mod  # noqa: E402

from helpers import assert_frames_match  # noqa: E402
from conftest import SF_DIR  # noqa: E402

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, ddb):
    ours = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        assert len(ours) >= 0  # rows-only check for non-SQL-expressible ops
        return
    oracle = ddb.execute(ORACLES[name]).fetchdf()
    assert_frames_match(ours, oracle, name)


def test_prefix_event_time_queries_on_pristine_session():
    """Round-3 regression class: the driver builds its OWN SparkSession
    (none of get_spark's configs). Every event-time query in the
    driver-checked prefix must still run there — _tables/normalize_ntz
    carry the timestamp repairs, not the session factory.  Runs in a
    subprocess: in-process getOrCreate would reuse (and stop) the shared
    fixture session."""
    import subprocess
    import sys as _sys

    prefix = list(QUERIES)[:50]
    event_time = [n for n in prefix if n.startswith(("q28", "q29", "e5", "e6", "e7"))]
    assert event_time  # the prefix must keep covering this family
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]").appName("pristine-sim")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
qs = e.queries()
for name in {event_time!r}:
    assert qs[name](spark, {SF_DIR!r}).count() >= 0, name
print("PRISTINE_OK")
"""
    r = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=420
    )
    assert "PRISTINE_OK" in r.stdout, r.stdout[-2000:] + r.stderr[-2000:]
