"""DimensionStore (S7): versioned full-snapshot dimension with as-of reads."""

from __future__ import annotations

from datetime import datetime, timezone

from ocr_platform_spark.sources.dimensions import DimensionStore, normalized_dim_lookup


def _dim(spark, tag):
    return spark.createDataFrame(
        [(1, f"Acme {tag}", "AC"), (2, f"Globex {tag}", "GX")],
        "dim_key int, name string, alias string",
    )


def _ts(y, m, d):
    return datetime(y, m, d, tzinfo=timezone.utc)


def test_latest_and_as_of_pick_one_full_version(spark, tmp_path):
    store = DimensionStore(str(tmp_path / "dim"))
    assert store.latest(spark) is None and store.as_of(spark, _ts(2024, 1, 1)) is None

    store.sync(_dim(spark, "v1"), "v1", effective_ts=_ts(2024, 1, 1))
    store.sync(_dim(spark, "v2"), "v2", effective_ts=_ts(2024, 6, 1))

    latest = {r["dim_key"]: r["name"] for r in store.latest(spark).collect()}
    assert latest == {1: "Acme v2", 2: "Globex v2"}
    # as-of between versions → v1 (never a union of both)
    asof = store.as_of(spark, _ts(2024, 3, 1))
    assert {r["name"] for r in asof.collect()} == {"Acme v1", "Globex v1"}
    assert asof.count() == 2
    # as-of before any version → None
    assert store.as_of(spark, _ts(2023, 1, 1)) is None
    # as-of exactly at a version's effective ts includes it
    assert {r["name"] for r in store.as_of(spark, _ts(2024, 1, 1)).collect()} == {
        "Acme v1",
        "Globex v1",
    }


def test_sync_idempotent_on_run_id(spark, tmp_path):
    store = DimensionStore(str(tmp_path / "dim"))
    m1 = store.sync(_dim(spark, "v1"), "r1", effective_ts=_ts(2024, 1, 1))
    # replay with different payload: committed version wins, no overwrite
    m2 = store.sync(_dim(spark, "OTHER"), "r1", effective_ts=_ts(2025, 1, 1))
    assert m1 == m2
    assert {r["name"] for r in store.latest(spark).collect()} == {"Acme v1", "Globex v1"}


def test_normalized_dim_lookup_or_key(spark, tmp_path):
    store = DimensionStore(str(tmp_path / "dim"))
    store.sync(_dim(spark, "v1"), "v1", effective_ts=_ts(2024, 1, 1))
    dim = store.latest(spark)
    facts = spark.createDataFrame(
        [("ACME V1",), ("  gx ",), ("unknown",)], "probe string"
    )
    out = normalized_dim_lookup(facts, dim, "probe", "name", "alias")
    got = {r["probe"]: r["dim_key"] for r in out.collect()}
    assert got["ACME V1"] == 1  # case-insensitive name
    assert got["  gx "] == 2  # trimmed alias
    assert got["unknown"] is None  # left join keeps unmatched probes
    # broadcast nested loop, never a cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan
