"""Session plan-memo contracts (r12 optimization round).

Two memo layers store LAZY plans only — never rows — keyed on the
session object:

- ``snapshots.read``: plain pinned-scan plans per (table, version);
- ``plans.export_queries._plan_memo``: the six export queries' full
  lazy plans per (query, sf_dir).

These tests pin the invariants that make the memos safe: a pinned
version's plan is reusable, the LATEST read follows new commits
(never served stale), option-carrying reads bypass the memo, and the
memoized plan still computes fresh rows from parquet every action.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from magshield_data_pipeline_spark.sources import snapshots as SN
from tests.conftest import SF_SMALL


@pytest.fixture()
def ledger(spark, tmp_path):
    t = str(tmp_path / "memo_tbl")
    SN.overwrite(spark.range(10).select(F.col("id").alias("k")), t, n_files=1)
    return t


def test_pinned_read_plan_is_memoized(spark, ledger):
    a = SN.read(spark, ledger, 1)
    b = SN.read(spark, ledger, 1)
    assert a is b, "identical pinned reads should share one plan object"


def test_latest_read_follows_new_commits(spark, ledger):
    before = SN.read(spark, ledger)
    assert before.count() == 10
    SN.append(spark.range(10, 15).select(F.col("id").alias("k")), ledger)
    after = SN.read(spark, ledger)
    assert after is not before, "latest read must re-resolve the version"
    assert after.count() == 15
    # the pinned v1 plan still serves the old snapshot
    assert SN.read(spark, ledger, 1).count() == 10


def test_option_reads_bypass_the_memo(spark, ledger):
    plain = SN.read(spark, ledger, 1)
    rep: dict = {}
    pruned = SN.read(spark, ledger, 1, prune=("k", 2, 5), report=rep)
    assert pruned is not plain
    assert rep["files_total"] == 1
    coords = SN.read(spark, ledger, 1, with_coords=True)
    assert coords is not plain
    assert "_pos" in coords.columns and "_pos" not in plain.columns


def test_memoized_plan_recomputes_rows_from_parquet(spark, ledger):
    df = SN.read(spark, ledger, 1)
    assert df.agg(F.sum("k")).collect()[0][0] == 45
    # the memo dies with the session object, not the process: a second
    # lookup after cache clear still recomputes through the scan
    spark.catalog.clearCache()
    assert SN.read(spark, ledger, 1).agg(F.sum("k")).collect()[0][0] == 45


def test_export_query_plan_memo_per_sf(spark):
    from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY

    fn = QUERY_REGISTRY["organisation_export_pipeline"].fn
    a = fn(spark, SF_SMALL)
    b = fn(spark, SF_SMALL)
    assert a is b, "same session + sf must reuse the export plan"
    assert a.count() == b.count() > 0


def test_cdc_feed_plan_is_memoized_and_recomputes(spark, ledger):
    # r13: read_row_changes plans are session constants per pinned
    # (table, from, to) window — identical calls share one plan object,
    # and the memoized plan still computes fresh rows from parquet
    SN.append(spark.range(10, 15).select(F.col("id").alias("k")), ledger)
    a = SN.read_row_changes(spark, ledger, 1, 2)
    b = SN.read_row_changes(spark, ledger, 1, 2)
    assert a is b, "identical CDC windows should share one plan object"
    assert a.count() == 5
    spark.catalog.clearCache()
    assert SN.read_row_changes(spark, ledger, 1, 2).count() == 5


def test_memo_stamp_guards_recreated_table(spark, tmp_path):
    # VERDICT r12 item 4: a table directory deleted and RECREATED
    # in-session at the same path re-mints version numbers — the
    # manifest mtime stamp in the memo key must refuse the stale plan
    import os
    import shutil
    import time

    t = str(tmp_path / "recreate_tbl")
    SN.overwrite(spark.range(3).select(F.col("id").alias("k")), t, n_files=1)
    first = SN.read(spark, t, 1)
    assert first.count() == 3
    shutil.rmtree(t)
    time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    SN.overwrite(spark.range(7).select(F.col("id").alias("k")), t, n_files=1)
    fresh = SN.read(spark, t, 1)
    assert fresh is not first, "recreated table served a stale plan"
    assert fresh.count() == 7


def test_export_passes_reuse_generated_classes(spark, tmp_path):
    # a pass of the six exports needs ~138 whole-stage-codegen classes;
    # in Spark's default cache of 100 a repeat pass recompiled ~125
    from magshield_data_pipeline_spark import sinks
    from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY

    names = [n for n in QUERY_REGISTRY if n.endswith("_export_pipeline")]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    assert len(names) == 6

    def export_pass():
        for name in names:
            df = QUERY_REGISTRY[name].fn(spark, SF_SMALL)
            sinks.overwrite_by_name(df, str(tmp_path), name)

    export_pass()
    before = compiles.getCount()
    export_pass()
    recompiled = compiles.getCount() - before
    assert recompiled <= 10, f"second export pass compiled {recompiled} classes"
