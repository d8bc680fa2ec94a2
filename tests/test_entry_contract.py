"""Driver-contract tests for __spark_entry__: entry() produces rows with a
stable schema; every oracle has a query; every query is callable at
sf0.001 and returns a non-degenerate DataFrame."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# a few representative queries are executed; the full set runs in
# tools/check_oracles.py (and in the driver's own gate)
SMOKE = ["rollup_1m", "sliding_stats_w8", "dedup_exact", "ann_topk",
         "text_stats", "events_rollup_1h", "tpch_q1_cents"]


def test_entry_rows_and_schema(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    cols = [f.name for f in df.schema.fields]
    assert cols == ["doc_id", "source", "tier", "bucket", "cnt", "sum_v",
                    "sumsq", "min_v", "max_v", "filled"]
    assert df.count() > 0


def test_registry_consistency():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs), "oracle without a query"
    assert len(qs) >= 40
    assert len(os_) >= 20
    for name, fn in qs.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", SMOKE)
def test_smoke_queries(spark, name):
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF)
    assert df.count() > 0


@pytest.mark.parametrize("name", [
    "image_features", "audio_features", "retention_expiry",
    "retention_expiry_tiers", "retention_compress",
    "checkpoint_rollup_resume", "stream_rollup"])
def test_media_faces_match_oracle(spark, name):
    """The two media faces and the five durable faces (each runs a
    committed store or a checkpointed stream, four of them through a kill
    and a resume) hash-match their DuckDB oracles at sf0.001; every one
    of these oracles reads only the ``documents`` view."""
    import duckdb

    import __spark_entry__ as e
    from tools.check_oracles import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{SF}/documents.parquet')")
    spdf = e.queries()[name](spark, SF).toPandas()
    dpdf = con.execute(e.oracle_sql()[name]).df()
    assert len(spdf) > 0
    assert compare(name, spdf, dpdf) == []
