"""Query-mix part of ``staged_analytics_mix``: reads with writes beside them.

Set-up writes the seeded TPC-H-shaped tables as parquet and computes the
DuckDB oracle of each registry query (``__spark_entry__.oracle_sql()``).
The full load stages ``lineitem`` (one batch per two ship years, each
range-partitioned on the order key) and ``orders`` (one batch per key range)
into a fresh warehouse.  Ops follow the seeded sequence: registry queries from
``plans.queries`` / ``plans.analytics``, zone-map-prunable
``StagingWarehouse.read`` scans (ship-date ranges, order-key lookups), a
minority of ``delete_rows`` / ``update_rows`` and a periodic
``maintain_table``.  Staged reads are checked against a pyarrow mirror that
applies the same DML.
"""

from __future__ import annotations

import importlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen
import harness
from tracing import BENCH, PKG, plan_counts

ACCOUNT = "qm"
LINEITEM_FILES_PER_BATCH = 4
ORDERS_BATCHES = 2


def canon(pdf):
    """Columns by name, rows sorted by every column."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got, want) -> bool:
    """Row count, column names, exact values; floats to 1e-9 relative."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    g, w = canon(got), canon(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            if not np.allclose(gv.astype(float), wv.astype(float), rtol=1e-9, atol=0, equal_nan=True):
                return False
        elif not (g[c].fillna("<null>") == w[c].fillna("<null>")).all():
            return False
    return True


class StagedQueryMix:
    span = harness.NullSpan

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.files_rewritten = 0
        self.prune: list[float] = []
        self.plan_stats: dict[str, list[int]] = {}

    def tenant_pids(self) -> set[int]:
        return set()

    def release(self) -> None:
        if getattr(self, "duck", None) is not None:
            self.duck.close()
            self.duck = None

    def prepare_inputs(self) -> None:
        """Input generation and the oracle; needs no Spark session."""
        import duckdb

        self.data = os.path.join(self.work, "data")
        harness.reset_dir(self.data)
        harness.reset_dir(os.path.join(self.work, "wh"))
        self.tables = gen.query_tables(self.seed)
        gen.write_parquet_dir(self.tables, self.data)
        self.ops = gen.query_ops(self.seed)
        self.mirror = {"lineitem": self.tables["lineitem"], "orders": self.tables["orders"]}
        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        self.duck = duckdb.connect()
        for t in self.tables:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.expected = {
            name: self.duck.execute(oracle[name]).df() for _, name in gen.REGISTRY_QUERIES
        }

    def prepare(self, spark) -> None:
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse

        self.spark = spark
        self.wh = StagingWarehouse(spark, os.path.join(self.work, "wh"), account_id=ACCOUNT)

    def roots(self) -> list[str]:
        return [os.path.join(self.work, "wh")]

    def full_load(self) -> None:
        from pyspark.sql import functions as F

        li = self.spark.read.parquet(f"{self.data}/lineitem.parquet")
        for first_year in range(1995, 2003, 2):
            part = li.filter(F.year("l_shipdate").between(first_year, first_year + 1))
            self.wh.write(part.repartitionByRange(LINEITEM_FILES_PER_BATCH, "l_orderkey"),
                          "lineitem", incremental=True)
        orders = self.spark.read.parquet(f"{self.data}/orders.parquet")
        step = -(-gen.QM_ORDERS // ORDERS_BATCHES)
        for b in range(ORDERS_BATCHES):
            part = orders.filter((F.col("o_orderkey") >= b * step) & (F.col("o_orderkey") < (b + 1) * step))
            self.wh.write(part.coalesce(1), "orders", incremental=True)

    def after_warmup(self) -> None:
        self.files_rewritten = 0
        self.prune.clear()
        self.plan_stats.clear()

    # -- ops -----------------------------------------------------------------
    def run_op(self, i: int, ctx: dict) -> None:
        op = ctx["op"]
        kind = op["kind"]
        if kind == "query":
            fn = getattr(importlib.import_module(f"{PKG}.{op['layer']}"), op["name"])
            df = fn(self.spark, self.data)
            with self.span(op["layer"], f"execute {op['name']}"):
                ctx["result"] = df.toPandas()
            ctx["df"] = df
        elif kind == "range_read":
            df = self.wh.read("lineitem", where=self._range(op))
            ctx["result"] = df.agg(
                {"l_extendedprice": "sum", "l_orderkey": "count"}
            ).collect()[0]
            ctx["df"] = df
        elif kind == "key_read":
            df = self.wh.read("orders", where=[("o_orderkey", "in", op["keys"])])
            ctx["result"] = df.select("o_orderkey", "o_orderpriority", "o_totalprice").toPandas()
            ctx["df"] = df
        elif kind == "delete":
            ctx["result"] = self.wh.delete_rows("lineitem", [("l_orderkey", "in", op["keys"])])
        elif kind == "update":
            ctx["result"] = self.wh.update_rows(
                "orders", [("o_orderkey", "in", op["keys"])],
                {"o_orderpriority": f"'{op['priority']}'"},
            )
        else:
            ctx["result"] = [self.wh.maintain_table(t) for t in ("lineitem", "orders")]

    @staticmethod
    def _range(op: dict) -> list:
        lo, hi = datetime.fromisoformat(op["lo"]), datetime.fromisoformat(op["hi"])
        return [("l_shipdate", ">=", lo), ("l_shipdate", "<", hi)]

    def check_op(self, i: int, ctx: dict, op_s: float) -> bool:
        op, res = ctx["op"], ctx["result"]
        kind = op["kind"]
        with self.span(BENCH, f"check {kind}"):
            if "df" in ctx and self.span is not harness.NullSpan:
                self._instrument(op, ctx["df"])
            if kind == "query":
                return frames_match(res, self.expected[op["name"]])
            li, orders = self.mirror["lineitem"], self.mirror["orders"]
            if kind == "range_read":
                lo, hi = (pa.scalar(datetime.fromisoformat(v), pa.timestamp("us")) for v in (op["lo"], op["hi"]))
                sel = li.filter(pc.and_(pc.greater_equal(li["l_shipdate"], lo), pc.less(li["l_shipdate"], hi)))
                want_sum = pc.sum(sel["l_extendedprice"]).as_py() or 0.0
                got_sum = res["sum(l_extendedprice)"] or 0.0
                return res["count(l_orderkey)"] == sel.num_rows and abs(got_sum - want_sum) <= 1e-6 * max(1.0, abs(want_sum))
            if kind == "maintain":
                # maintenance must leave the visible rows unchanged
                return (self.wh.read("lineitem").count() == li.num_rows
                        and self.wh.read("orders").count() == orders.num_rows)
            keys = pa.array(op["keys"], pa.int64())
            if kind == "key_read":
                sel = orders.filter(pc.is_in(orders["o_orderkey"], keys)).select(
                    ["o_orderkey", "o_orderpriority", "o_totalprice"]).to_pandas()
                return frames_match(res, sel)
            if kind == "delete":
                hit = pc.is_in(li["l_orderkey"], keys)
                n = pc.sum(hit).as_py() or 0
                self.mirror["lineitem"] = li.filter(pc.invert(hit))
                self.files_rewritten += res.get("files_rewritten", 0)
                return res["rows_deleted"] == n
            if kind == "update":
                hit = pc.is_in(orders["o_orderkey"], keys)
                n = pc.sum(hit).as_py() or 0
                pri = pc.if_else(hit, pa.scalar(op["priority"]), orders["o_orderpriority"])
                idx = orders.schema.get_field_index("o_orderpriority")
                self.mirror["orders"] = orders.set_column(idx, "o_orderpriority", pri)
                self.files_rewritten += res.get("files_rewritten", 0)
                return res["rows_updated"] == n
            raise ValueError(f"unknown op kind {kind!r}")

    def _instrument(self, op: dict, df) -> None:
        """Traced runs only: plan shape of query ops, files scanned per
        staged read against the table's live files."""
        if op["kind"] == "query":
            ex, py = plan_counts(df)
            s = self.plan_stats.setdefault(op["layer"], [0, 0])
            s[0] += ex
            s[1] += py
        else:
            table = "lineitem" if op["kind"] == "range_read" else "orders"
            live = len(self.wh.data_files(table))
            self.prune.append(len(df.inputFiles()) / max(live, 1))

    def final_check(self) -> tuple[bool, int]:
        """Both staged tables equal the pyarrow mirror; also returns the
        rows visible through ``StagingWarehouse.read``."""
        li = self.wh.read("lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice").toPandas()
        want_li = self.mirror["lineitem"].select(["l_orderkey", "l_linenumber", "l_extendedprice"]).to_pandas()
        od = self.wh.read("orders").select("o_orderkey", "o_orderpriority", "o_totalprice").toPandas()
        want_od = self.mirror["orders"].select(["o_orderkey", "o_orderpriority", "o_totalprice"]).to_pandas()
        return frames_match(li, want_li) and frames_match(od, want_od), len(li) + len(od)

    def live_files(self) -> int:
        return len(self.wh.data_files("lineitem")) + len(self.wh.data_files("orders"))

    def prune_ratio(self) -> float:
        return float(np.mean(self.prune)) if self.prune else 0.0

    def fingerprints(self) -> dict:
        return {
            "tables_sha256": gen.fingerprint(self.tables),
            "ops_sha256": gen.fingerprint(self.ops),
        }

    def layer_extras(self, tenant_delta) -> dict:
        out = {}
        for layer in ("plans.queries", "plans.analytics"):
            ex, py = self.plan_stats.get(layer, [0, 0])
            out[f"{layer}.exchanges"] = ex
            out[f"{layer}.python_evals"] = py
        return out

    def report(self) -> dict:
        return {"files_rewritten": self.files_rewritten}
