"""SparkSession factory.

The reference pipeline hand-tunes its execution envelope (page size 500,
10-way thread fan-out, retry/backoff — /root/reference/modules/quote.py:52-99);
here the equivalent knobs are Spark confs. Defaults are sized for the
local[32] test harness but every setting is the one you would also ship
to a 1000-executor cluster: AQE on (runtime re-plan, skew-join split,
partition coalescing), broadcast threshold generous enough that every
reference dim joins broadcast, Arrow on for the pandas bridges.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}
# Spark's JavaUtils.byteStringAsBytes grammar: digits, optional
# single-letter unit, optional trailing 'b' ('128m', '16KB', plain
# bytes) — a naive last-char unit lookup crashes on the two-letter
# forms (ADVICE r12 medium).
_SIZE_RE = re.compile(r"^(\d+)\s*([kmgtp]?)b?$")


def conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """A byte-sized Spark conf value as an int, accepting every suffix
    form Spark itself accepts."""
    raw = str(spark.conf.get(key, default)).strip().lower()
    m = _SIZE_RE.match(raw)
    if not m:
        raise ValueError(f"cannot parse byte size {raw!r} for {key}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def get_spark(
    app_name: str = "magshield_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    All settings are scale-posture defaults, not local hacks:

    - ``spark.sql.adaptive.enabled`` + skew-join handling: at 100 TB the
      fact-side joins shuffle; AQE re-plans on real stats and splits
      skewed partitions.
    - ``spark.sql.autoBroadcastJoinThreshold=64m``: every reference
      lookup table (orgs/users/products/stages…) is dimension-sized, so
      the dim joins broadcast. The exports still shuffle: opportunity
      round-robins its fact scan (``export_queries._fact``), hash-
      exchanges the ``products_per_opp`` and ``site_names`` aggregates
      and the opportunity rows joining them on the opportunity id, and
      exchanges its formatted rows for the dedup (15.6 of its 20 MB of
      shuffle at sf0.01).
    - ``spark.sql.codegen.cache.maxEntries=1000`` (Spark's default is
      100) keeps the compiled whole-stage-codegen classes resident. One
      exports pass needs 138, one ledger cycle 117 with its table
      set-up, and both in one session 264; at 100, every repeat export
      pass recompiled ~125 of them through Janino. A static conf, read
      when the SparkContext starts: a session from ``getOrCreate`` on an
      already running context keeps that context's cache size.
    - Arrow enabled: the Excel bridge and any pandas_udf path move data
      columnar, never row-at-a-time.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle and are cluster-location-independent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Python-dict last-wins semantics for map_from_entries over
        # CUSTOMFIELDS (the reference builds dicts per record; duplicate
        # FIELD_NAMEs keep the last value)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_caches(spark: SparkSession) -> None:
    """Drop every cached DataFrame in the session.

    Several pair-producing operators (``srp_candidate_pairs``,
    ``jaccard_pairs``, ``contamination_check``) persist an internal
    frame whose lifetime is caller-owned. A long session that runs many
    queries back-to-back (bench.py, the oracle-parity harness) would
    otherwise accumulate those cache entries indefinitely — harmless per
    query, a slow memory leak across 90+. Call this between queries once
    the previous result is fully consumed; CacheManager re-dedups by
    logical plan, so repeat runs of the SAME query still reuse the entry
    built during that query's own first run.
    """
    spark.catalog.clearCache()
