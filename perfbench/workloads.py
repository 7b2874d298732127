"""The benchmark's workloads.

Each workload owns its inputs, yields ops in a fixed order (one pass is
one op of every kind), and checks its outputs after the timed loop.  An
op is a plain callable; the runner times it, and in a traced pass wraps
it in a span and collects Spark counters after it returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import gen


@dataclass
class Op:
    name: str            # op type, e.g. "export.task_export_pipeline"
    kind: str            # latency class: export | commit | feed | read
    fn: Callable[[], dict | None]  # may return per-layer counters
    rows: int            # generated input rows the op consumes
    commit: dict = field(default_factory=dict)  # table, versions, input bytes


_INT_TYPES = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
              "USMALLINT", "UINTEGER", "UBIGINT")


def _canon_sql(con, query: str) -> str:
    """SQL giving one canonical string per row of *query*: columns in name
    order, each value tagged with its kind and floats at 12 significant
    digits, so the comparison is order-insensitive and blind to float
    noise but not to an int/float type change."""
    parts = []
    for name, dtype, *_ in sorted(con.execute(f"DESCRIBE {query}").fetchall()):
        col = '"' + name.replace('"', '""') + '"'
        if dtype in _INT_TYPES:
            v = f"'i:' || CAST({col} AS VARCHAR)"
        elif dtype == "BOOLEAN":
            v = f"'b:' || CAST({col} AS VARCHAR)"
        elif dtype in ("FLOAT", "DOUBLE") or dtype.startswith("DECIMAL"):
            v = f"'f:' || printf('%.12g', CAST({col} AS DOUBLE))"
        else:
            v = f"'s:' || CAST({col} AS VARCHAR)"
        parts.append(f"coalesce({v}, 'null')")
    return f"SELECT concat_ws('|', {', '.join(parts)}) AS r FROM ({query})"


def multiset_diff(con, got: str, want: str) -> tuple[int, int, int, int]:
    """(rows got, rows wanted, rows only in got, rows only in want)."""
    g, w = _canon_sql(con, got), _canon_sql(con, want)
    # materialized, each side runs once rather than once per reference
    return con.execute(
        f"WITH g AS MATERIALIZED ({g}), w AS MATERIALIZED ({w}) SELECT "
        "(SELECT count(*) FROM g), (SELECT count(*) FROM w), "
        "(SELECT count(*) FROM (SELECT r FROM g EXCEPT ALL SELECT r FROM w)), "
        "(SELECT count(*) FROM (SELECT r FROM w EXCEPT ALL SELECT r FROM g))"
    ).fetchone()


# ---------------------------------------------------------------------------
# exports: the six CRM export plans, each written by the export->upsert sink

EXPORT_PLANS = {
    # registry plan -> star-schema tables it reads
    "organisation_export_pipeline": ("customer", "nation", "region", "orders"),
    "quote_export_pipeline": ("orders", "customer", "supplier"),
    "task_export_pipeline": ("orders", "lineitem", "customer", "supplier",
                             "nation", "region", "part"),
    "opportunity_export_pipeline": ("orders", "lineitem", "customer", "supplier",
                                    "nation", "region", "part"),
    "invoice_export_pipeline": ("orders", "customer", "supplier"),
    "equipment_export_pipeline": ("orders", "customer", "supplier"),
}


class Exports:
    """The six registry export plans on a seeded star schema, each result
    written by ``sinks.overwrite_by_name``; checked against the plans'
    oracle SQL."""

    sf = 0.01
    warmup_passes = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.inputs_root, f"exports_s{ctx.seed}_sf{self.sf}")
        self.table_rows = gen.write_star_schema(self.sf_dir, ctx.seed, self.sf)
        self.out_dir = os.path.join(ctx.run_dir, "exports_out")

    def setup(self, spark) -> None:
        from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY

        self.spark = spark
        self.registry = QUERY_REGISTRY

    def pass_ops(self, i: int) -> list[Op]:
        return [Op(f"export.{n}", "export", self._export_fn(n),
                   sum(self.table_rows[t] for t in tables))
                for n, tables in EXPORT_PLANS.items()]

    def _export_fn(self, name: str):
        from magshield_data_pipeline_spark import sinks

        def run():
            df = self.ctx.tracer.span(f"plans.{name}", self.registry[name].fn,
                                      self.spark, self.sf_dir)
            sinks.overwrite_by_name(df, self.out_dir, name)
        return run

    def check(self) -> list[str]:
        import duckdb

        errs = []
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in EXPORT_PLANS:
            path = os.path.join(self.out_dir, name)
            if not os.path.isdir(path):
                errs.append(f"{name}: nothing written")
                continue
            got = f"SELECT * FROM read_parquet('{path}/*.parquet')"
            want = self.registry[name].sql.strip().rstrip(";")
            cols = [sorted(r[0] for r in con.execute(f"DESCRIBE {q}").fetchall())
                    for q in (got, want)]
            if cols[0] != cols[1]:
                errs.append(f"{name}: columns {cols[0]} != oracle {cols[1]}")
                continue
            n_got, n_want, extra, missing = multiset_diff(con, got, want)
            if extra or missing:
                errs.append(f"{name}: {n_got} rows written, oracle has {n_want}; "
                            f"{extra} unexpected, {missing} missing")
        con.close()
        return errs


# ---------------------------------------------------------------------------
# ledger: seeded commits beside the readers of one fresh snapshot table

class Ledger:
    """Commits and readers on one fresh snapshot table, checked against a
    Python replay of the seeded commit list (``rows`` and ``grp_agg``)."""

    # the JVM keeps warming over the first cycles after the table's
    # creation: the second cycle still ran about 10% slower than the third,
    # and the third a few percent slower than the fourth
    warmup_passes = 3
    n_rows = 30_000
    n_groups = 200
    merge_frac = 0.01      # of live rows per cycle; 3/4 updates, 1/4 inserts
    delete_frac = 0.002
    append_frac = 0.005

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.table = os.path.join(ctx.run_dir, "ledger")
        self.view = os.path.join(ctx.run_dir, "ledger_view")
        rng = np.random.default_rng([ctx.seed, 0])
        k = np.arange(self.n_rows, dtype=np.int64)
        self.initial = self._rows(rng, k)
        self.next_key = self.n_rows
        self.rows: dict[int, tuple[int, int, str]] = {}
        self.grp_agg: dict[int, list[int]] = {}
        self._apply_upserts(self.initial)
        self.version = None
        self.cycle_results: list[dict] = []

    def _rows(self, rng, keys):
        import pandas as pd

        val = rng.integers(0, 1_000_000, len(keys))
        return pd.DataFrame({
            "k": keys.astype(np.int64),
            "grp": rng.integers(0, self.n_groups, len(keys)).astype(np.int64),
            "val": val.astype(np.int64),
            "note": [f"n{v % 9973:04d}" for v in val],
        })

    def _apply_upserts(self, pdf) -> None:
        for k, g, v, n in pdf.itertuples(index=False, name=None):
            old = self.rows.get(k)
            if old is not None:
                a = self.grp_agg[old[0]]
                a[0] -= 1
                a[1] -= old[1]
            self.rows[k] = (g, v, n)
            a = self.grp_agg.setdefault(g, [0, 0])
            a[0] += 1
            a[1] += v

    def _apply_deletes(self, keys) -> None:
        for k in keys:
            g, v, _ = self.rows.pop(int(k))
            a = self.grp_agg[g]
            a[0] -= 1
            a[1] -= v

    def _totals(self) -> tuple[int, int]:
        return (len(self.rows), sum(a[1] for a in self.grp_agg.values()))

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.operators import ivm
        from magshield_data_pipeline_spark.sources import cdc_stream
        from magshield_data_pipeline_spark.sources import snapshots as SN

        self.spark = spark
        self.version = SN.overwrite(spark.createDataFrame(self.initial),
                                    self.table, n_files=4)
        ivm.init_agg_view(spark, self.table, self.view, F.col("grp"), "grp",
                          {"val_sum": F.col("val")}, version=self.version)
        cdc_stream.register(spark)

    def pass_ops(self, c: int) -> list[Op]:
        """One cycle: three commits, the four readers, then a compact and
        a vacuum.  Commit inputs are drawn here, before any op of the
        cycle is timed."""
        import pandas as pd
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.operators import ivm
        from magshield_data_pipeline_spark.sources import snapshots as SN
        from magshield_data_pipeline_spark.streaming import windows as W

        spark, ctx = self.spark, self.ctx
        rng = np.random.default_rng([ctx.seed, c + 1])
        live = np.fromiter(self.rows.keys(), np.int64, len(self.rows))
        n_merge = int(len(live) * self.merge_frac)
        n_upd = n_merge * 3 // 4
        picked = rng.choice(live, n_upd + int(len(live) * self.delete_frac),
                            replace=False)
        upd_keys, del_keys = picked[:n_upd], picked[n_upd:]
        upd = self._rows(rng, upd_keys)
        # an update always changes the value, so it is a real row change
        upd["val"] = [self.rows[int(k)][1] + 1 + int(d) for k, d in
                      zip(upd_keys, rng.integers(0, 1000, n_upd))]
        upd["note"] = [f"n{v % 9973:04d}" for v in upd["val"]]
        n_ins = n_merge - n_upd
        ins = self._rows(rng, np.arange(self.next_key, self.next_key + n_ins))
        n_app = int(len(live) * self.append_frac)
        app = self._rows(rng, np.arange(self.next_key + n_ins,
                                        self.next_key + n_ins + n_app))
        self.next_key += n_ins + n_app
        merge_pdf = pd.concat([upd, ins], ignore_index=True)
        merge_df = spark.createDataFrame(merge_pdf)
        del_df = spark.createDataFrame(pd.DataFrame({"k": del_keys.astype(np.int64)}))
        app_df = spark.createDataFrame(app)
        expected = {"insert": n_ins + n_app, "update_preimage": n_upd,
                    "update_postimage": n_upd, "delete": len(del_keys)}
        res = {"cycle": c, "expected": expected}
        self.cycle_results.append(res)
        st = {"v0": self.version, "totals0": self._totals()}

        def commit(name, call, apply, rows=0, input_bytes=0):
            info = {"table": self.table, "input_bytes": input_bytes}

            def run():
                info["v0"] = self.version
                v = call()
                if v is None:
                    raise RuntimeError("commit wrote nothing")
                self.version = info["v1"] = v
                apply()
            return Op(f"commit.{name}", "commit", run, rows, info)

        def merge():
            return SN.merge(merge_df, self.table, key="k")

        def delete():
            return SN.delete(del_df, self.table, key="k")

        def append():
            return SN.append(app_df, self.table, n_files=1)

        def after_commits():
            st["v3"] = self.version
            st["totals3"] = self._totals()
            st["groups3"] = {g: tuple(a) for g, a in self.grp_agg.items() if a[0]}

        def row_changes():
            rows = (SN.read_row_changes(spark, self.table, st["v0"], st["v3"])
                    .groupBy("_change_type").count().collect())
            res["row_changes"] = {r[0]: r[1] for r in rows}

        def ivm_refresh():
            out = ivm.refresh_agg_view(
                spark, self.table, self.view, F.col("grp"), "grp",
                {"val_sum": F.col("val")},
                from_version=st["v0"], to_version=st["v3"])
            res["view_groups"] = st["groups3"]
            return {"ivm.groups_upserted": out["groups_upserted"],
                    "ivm.groups_deleted": out["groups_deleted"]}

        def cdc_drain():
            stream = (spark.readStream.format("ledger_cdc_dist")
                      .option("path", self.table)
                      .option("startversion", st["v0"]).load())
            name = f"pb_cdc_{ctx.seed}_{c}"
            drained = W.run_available_now(stream, name=name, output_mode="append")
            rows = drained.groupBy("_change_type").count().collect()
            spark.catalog.dropTempView(name)
            res["drain"] = {r[0]: r[1] for r in rows}

        def agg(df):
            r = df.agg(F.count(F.lit(1)), F.sum("val")).collect()[0]
            return (r[0], r[1])

        def read_latest():
            res["read_latest"] = (agg(SN.read(spark, self.table)), st["totals3"])

        def read_travel():
            res["read_travel"] = (agg(SN.read(spark, self.table, st["v0"])),
                                  st["totals0"])

        def apply_merge():
            self._apply_upserts(merge_pdf)

        def apply_delete():
            self._apply_deletes(del_keys)

        def apply_append():
            self._apply_upserts(app)
            after_commits()

        def compact():
            return SN.compact(spark, self.table, n_files=4)

        def vacuum():
            SN.vacuum(self.table, keep_versions=1)

        # input bytes are the commit rows in memory, the base of write_amp
        return [
            commit("merge", merge, apply_merge, n_merge,
                   int(merge_pdf.memory_usage(deep=True).sum())),
            commit("delete", delete, apply_delete, len(del_keys), int(del_keys.nbytes)),
            commit("append", append, apply_append, n_app,
                   int(app.memory_usage(deep=True).sum())),
            Op("feed.row_changes", "feed", row_changes, 0),
            Op("feed.ivm_refresh", "feed", ivm_refresh, 0),
            Op("feed.cdc_drain", "feed", cdc_drain, 0),
            Op("read.latest", "read", read_latest, 0),
            Op("read.time_travel", "read", read_travel, 0),
            commit("compact", compact, lambda: None),
            Op("commit.vacuum", "commit", vacuum, 0),
        ]

    def check(self) -> list[str]:
        from magshield_data_pipeline_spark.operators import ivm
        from magshield_data_pipeline_spark.sources import snapshots as SN

        errs = []
        for res in self.cycle_results:
            c, want = res["cycle"], {k: v for k, v in res["expected"].items() if v}
            for key in ("row_changes", "drain"):
                if key in res and res[key] != want:
                    errs.append(f"cycle {c} {key}: {res[key]} != replay {want}")
            for key in ("read_latest", "read_travel"):
                if key in res and tuple(res[key][0]) != tuple(res[key][1]):
                    errs.append(f"cycle {c} {key}: {res[key][0]} != replay {res[key][1]}")
        last_view = next((r["view_groups"] for r in reversed(self.cycle_results)
                          if "view_groups" in r), None)
        if last_view is not None:
            got = {r["grp"]: (r[ivm.COUNT_COL], r["val_sum"])
                   for r in SN.read(self.spark, self.view).collect()}
            if got != last_view:
                bad = sorted(g for g in set(got) | set(last_view)
                             if got.get(g) != last_view.get(g))[:3]
                errs.append(f"IVM view differs from the groupBy recompute "
                            f"in groups {bad}")
        table = SN.read(self.spark, self.table).toPandas().sort_values("k")
        want = sorted((k, *v) for k, v in self.rows.items())
        got = list(table[["k", "grp", "val", "note"]].itertuples(index=False, name=None))
        if [tuple(map(str, r)) for r in got] != [tuple(map(str, r)) for r in want]:
            errs.append(f"final table: {len(got)} rows, replay has {len(want)}")
        return errs


WORKLOADS = {"exports": Exports, "ledger": Ledger}
