"""Every oracle-backed catalog query vs DuckDB on sf0.001 — the same
comparison the driver's correctness gate performs (row count + columns +
order-insensitive values)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import canon, values_match

from dystonse_gtfs_data_spark import queries as Q
from dystonse_gtfs_data_spark.sources.tables import TESTDATA_TABLES

ORACLE_QUERIES = sorted(name for name, spec in Q.REGISTRY.items() if spec.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    from dystonse_gtfs_data_spark.sources.demo_oracle import ensure_demo_oracle_dir

    ensure_demo_oracle_dir()  # the GTFS/ANN twins read_parquet these files
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = Q.REGISTRY[name]
    sdf = canon(spec.fn(spark, sf_dir).toPandas())
    odf = canon(duck.execute(spec.oracle).df())
    ok, msg = values_match(sdf, odf)
    assert ok, f"{name}: {msg}"


# Rows-only by design: the production xxhash64 hash family is
# Spark-private, so no portable SQL twin can exist.  The SAME pipelines
# are hash-verified end-to-end through their md5-fold twins
# (minhash_near_dups / simhash_near_dups); these variants exist to keep
# the hot path visible in the bench.  heat_strip_render packages bytes
# with zlib, which DuckDB lacks — its pixel inputs ARE hash-checked
# (heat_strip_pixels) and the PNG encoder is golden-tested
# byte-for-byte in tests/test_render.py.
# round-4: emptied — the xxhash pipelines gained pure-Python xxHash64
# replicas and the PNG tail a spec-based writer oracle; every catalog
# entry is hash-checked
ROWS_ONLY_BY_DESIGN: set[str] = set()


def test_every_query_has_an_oracle():
    # round-2 milestone, kept tight: every catalog query carries a DuckDB
    # twin or a single-node differential oracle, except the explicitly
    # documented rows-only set — which must not silently grow.
    assert sorted(set(Q.REGISTRY) - set(ORACLE_QUERIES)) == sorted(
        ROWS_ONLY_BY_DESIGN
    )


def test_register_rejects_duplicate_and_missing_oracle(monkeypatch):
    # each catalog entry is declared once, oracle included: a second
    # declaration must raise instead of silently replacing the first,
    # and an entry without oracle SQL must not register at all
    monkeypatch.setattr(Q, "REGISTRY", dict(Q.REGISTRY))
    spec = Q.REGISTRY["pricing_summary"]
    with pytest.raises(ValueError, match="declared twice"):
        Q.register("pricing_summary", "SELECT 1")(lambda spark, sf_dir: None)
    assert Q.REGISTRY["pricing_summary"] is spec
    with pytest.raises(ValueError, match="no oracle"):
        Q.register("no_oracle_entry", None)(spec.fn)
    assert "no_oracle_entry" not in Q.REGISTRY
