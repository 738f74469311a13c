"""`load_table` reads an events feed within one scan split as ONE partition.

A one-partition scan reports `SinglePartition`, so the dashboard's
aggregates, global sorts and windows plan no exchange; a feed above
`spark.sql.files.maxPartitionBytes` keeps its split scan and its
shuffles, with the same rows. Other tables keep their split scan.
"""

from __future__ import annotations

import os

from __spark_entry__ import queries
from real_time_database_monitoring_system_spark.operators.dashboard import snapshot_dashboard
from real_time_database_monitoring_system_spark.plans import checks
from real_time_database_monitoring_system_spark.sources.registry import load_table

QUERIES = queries()
# dashboard-refresh entries that read only the events feed
ENTRIES = ("tps_per_user", "paginate_keyset", "sql_bucket_panel")
# registry twins of the snapshot_dashboard panels
PANEL_ENTRIES = (
    "slow_sessions",
    "idle_sessions",
    "session_summary",
    "connection_load",
    "threshold_flags",
    "downsample_5min",
    "latest_per_user",
)
# a filter/projection and two top-K reads plan no exchange on any scan
NEVER_SHUFFLE = {"threshold_flags", "top_consumers", "paginate_keyset"}


def _refresh(spark, sf_dir):
    """Every snapshot panel and refresh entry, as (exchanges, rows) by
    name, with the snapshot cache released afterwards."""
    panels = snapshot_dashboard(spark, sf_dir)
    try:
        dfs = {k: v for k, v in panels.items() if k != "_events"}
        dfs.update({name: QUERIES[name](spark, sf_dir) for name in ENTRIES})
        return {
            name: (checks.count_exchanges(df), sorted(df.collect(), key=repr))
            for name, df in dfs.items()
        }
    finally:
        panels["_events"].unpersist()


def test_small_feed_plans_without_shuffles(spark, sf_dir):
    plan = checks.explain_str(load_table(spark, sf_dir, "events"), "simple")
    assert "Coalesce 1" in plan, plan
    one_split = _refresh(spark, sf_dir)
    assert {name: n for name, (n, _) in one_split.items() if n} == {}


def test_only_the_events_feed_is_coalesced(spark, sf_dir):
    for name in ("documents", "embeddings", "orders", "customer"):
        plan = checks.explain_str(load_table(spark, sf_dir, name), "simple")
        assert "Coalesce" not in plan, f"{name}:\n{plan}"


def test_feed_above_split_keeps_shuffles_and_rows(spark, sf_dir):
    one_split = _refresh(spark, sf_dir)
    events_bytes = os.path.getsize(f"{sf_dir}/events.parquet")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(events_bytes // 4))
    try:
        plan = checks.explain_str(load_table(spark, sf_dir, "events"), "simple")
        assert "Coalesce" not in plan, plan
        split = _refresh(spark, sf_dir)
    finally:
        spark.conf.set(key, old)
    assert {name for name, (n, _) in split.items() if n == 0} == NEVER_SHUFFLE
    for name, (_, rows) in one_split.items():
        assert split[name][1] == rows, name


def test_registry_entries_read_the_snapshot_cache(spark, sf_dir):
    """`snapshot_dashboard` and `load_table` build equal plans, so the
    registry entries hit the cached scan while it is held."""
    panels = snapshot_dashboard(spark, sf_dir)
    try:
        panels["_events"].count()
        for name in PANEL_ENTRIES + ENTRIES:
            plan = checks.explain_str(QUERIES[name](spark, sf_dir), "simple")
            assert "InMemoryTableScan" in plan, f"{name}:\n{plan}"
    finally:
        panels["_events"].unpersist()
