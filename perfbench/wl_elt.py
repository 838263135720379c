"""elt_odata_refresh: the reference's own job, closed loop, one client.

Set-up starts the seeded tenant process and resolves the schema the way the
reference does: a ``SchemaRegistry`` built from the tenant's ``$metadata``.
The full load is ``EngineApi.initial_data_load()``.  One op is one cycle:
the tenant applies a seeded batch of inserts and updates (untimed), then
``EngineApi.refresh_data("true")`` with ``dedup_append=True`` and one
``availableNow`` trigger of a ``staging_changes`` stream, started after the
full load, that upserts the cycle's changes into a downstream table (timed).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

import gen
import harness

PAGE_SIZE = 2000
ACCOUNT = "bench"
DATASOURCE = "tenant-1"


class EltOdataRefresh:
    trace_ops = 6
    warmup_ops = 1
    round_len = 1
    span = harness.NullSpan

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.tenant = None
        self.known_defect = {"checks": 0, "failed": 0, "child_rows_expected": 0}
        self.child_rows_staged = 0
        self.stream_progress: list[dict] = []
        self.tenant_busy_share: list[float] = []

    # -- tenant ------------------------------------------------------------
    def _start_tenant(self) -> None:
        port_file = os.path.join(self.work, "tenant.port")
        if os.path.exists(port_file):
            os.remove(port_file)
        with open(os.path.join(self.work, "tenant.log"), "ab") as log:
            self.tenant = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "tenant.py"),
                 "--seed", str(self.seed), "--port-file", port_file],
                stdin=subprocess.DEVNULL, stdout=log, stderr=log,
            )
        deadline = time.time() + 60
        while not os.path.exists(port_file):
            if self.tenant.poll() is not None or time.time() > deadline:
                raise RuntimeError("tenant failed to start")
            time.sleep(0.02)
        with open(port_file) as fh:
            self.base = f"http://127.0.0.1:{int(fh.read())}"
        self.uri = self.base + "/odata/"

    def _control(self, path: str, method: str = "GET") -> dict:
        req = urllib.request.Request(self.base + path, method=method)
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def tenant_stats(self) -> dict:
        return self._control("/_bench/stats")

    def tenant_pids(self) -> set[int]:
        return {self.tenant.pid} if self.tenant else set()

    def release(self) -> None:
        if getattr(self, "stream_query", None) is not None:
            self.stream_query.stop()
            self.stream_query = None
        if self.tenant is not None:
            self.tenant.terminate()
            try:
                self.tenant.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.tenant.kill()
                self.tenant.wait(timeout=10)
            self.tenant = None

    # -- set-up ------------------------------------------------------------
    def prepare_inputs(self) -> None:
        """The tenant process generates its rows from the seed."""
        self._start_tenant()

    def prepare(self, spark) -> None:
        from priority_data_pipeline_postgres_db_spark.api import EngineApi
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
        from priority_data_pipeline_postgres_db_spark.plans.pipeline import (
            ODataEntitySource,
            Pipeline,
        )
        from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore
        from priority_data_pipeline_postgres_db_spark.sources.metadata import SchemaRegistry
        from priority_data_pipeline_postgres_db_spark.sources.odata import http_transport

        self.spark = spark
        self.stream_query = None
        for d in ("wh", "downstream", "ckpt"):
            harness.reset_dir(os.path.join(self.work, d))
        registry = SchemaRegistry.from_edmx(http_transport(self.uri + "$metadata", {}))
        control_path = os.path.join(self.work, "control.json")
        if os.path.exists(control_path):
            os.remove(control_path)
        self.control = ControlStore(control_path)
        self.control.insert_config(
            {
                "datasourceName": "bench-tenant",
                "uri": self.uri,
                "accountID": ACCOUNT,
                "systemTimezone": "UTC",
                "sourceSystem": "priority",
                "entities": [
                    {"EntityID": "ORDERS", "filterFlag": True, "filterField": "CURDATE",
                     "expand": ["ORDERITEMS"], "lastRun": None,
                     "dataStartDate": "2000-01-01 00:00:00"},
                    {"EntityID": "CTYPE", "filterFlag": False, "filterField": None,
                     "expand": [], "lastRun": None, "dataStartDate": None},
                ],
            },
            datasource_id=DATASOURCE,
        )
        self.wh = StagingWarehouse(spark, os.path.join(self.work, "wh"), account_id=ACCOUNT)
        self.down = StagingWarehouse(spark, os.path.join(self.work, "downstream"), account_id=ACCOUNT)
        source = ODataEntitySource(uri=self.uri, page_size=PAGE_SIZE, registry=registry)
        pipeline = Pipeline(spark, self.control, registry, source, self.wh, DATASOURCE,
                            dedup_append=True)
        self.api = EngineApi(pipeline, self.control)
        self.cycle = 0
        self.changed: set[str] = set()

    def after_warmup(self) -> None:
        """Warm-up cycles are verified but not counted."""
        self.stream_progress.clear()
        self.tenant_busy_share.clear()
        self.known_defect = {"checks": 0, "failed": 0, "child_rows_expected": 0}

    def roots(self) -> list[str]:
        return [os.path.join(self.work, "wh"), os.path.join(self.work, "downstream")]

    def full_load(self) -> None:
        out = self.api.initial_data_load()
        if out["errors"] or out["tablesDeployed"]["failed"]:
            raise RuntimeError(f"initial load failed: {out['errors']} {out['tablesDeployed']}")
        self._note_child_rows(out["stgDataWritten"])
        # the downstream consumer starts after the full load and carries
        # every change the refresh cycles stage
        self.stream_start = self.wh.snapshots("orders")[-1]

    def _note_child_rows(self, written: list[dict]) -> None:
        self.child_rows_staged += sum(
            w["records_written"] for w in written if w["table_name"].endswith("orderitems")
        )

    # -- one cycle -----------------------------------------------------------
    def _sink(self, bdf, batch_id) -> None:
        self.down.write(bdf.drop("_change_type"), "orders_current", incremental=True,
                        batch_id=f"mb{batch_id:08d}")
        self.down.set_upsert_keys("orders_current", ["ordname"], "curdate")

    def _trigger_stream(self) -> None:
        with self.span("streaming.cdc_source", "readStream"):
            df = (
                self.spark.readStream.format("staging_changes")
                .option("root", os.path.join(self.work, "wh"))
                .option("account", ACCOUNT)
                .option("table", "orders")
                .option("startafter", self.stream_start)
                .load()
            )
        with self.span("streaming.cdc_source", "start stream"):
            q = (
                df.writeStream.foreachBatch(self._sink)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(self.work, "ckpt"))
                .start()
            )
        self.stream_query = q
        with self.span("streaming.cdc_source", "availableNow trigger"):
            q.awaitTermination()
        self.stream_query = None
        self.stream_progress.extend(q.recentProgress)

    def before_op(self, i: int) -> dict:
        cycle = self.cycle
        self.cycle += 1
        self._control(f"/_bench/apply?cycle={cycle}", method="POST")
        return {"cycle": cycle, "stats0": self.tenant_stats()}

    @staticmethod
    def op_label(ctx: dict) -> str:
        return f"cycle {ctx['cycle']}"

    def run_op(self, i: int, ctx: dict) -> None:
        rep = self.api.refresh_data("true")
        if rep["errors"]:
            raise RuntimeError(f"refresh errors: {rep['errors']}")
        ctx["written"] = rep["stgDataWritten"]
        self._trigger_stream()

    def check_op(self, i: int, ctx: dict, op_s: float) -> bool:
        stats1 = self.tenant_stats()
        busy = stats1["busy_s"] - ctx["stats0"]["busy_s"]
        self.tenant_busy_share.append(busy / op_s if op_s > 0 else 0.0)
        self._note_child_rows(ctx["written"])
        batch = gen.churn(self.seed, ctx["cycle"])
        keys = sorted({o["ORDNAME"] for o in batch["inserts"]} | {u["ORDNAME"] for u in batch["updates"]})
        self.changed.update(keys)
        state = self._control("/_bench/state")
        by_key = {o["ORDNAME"]: o for o in state["ORDERS"]}
        expected = {k: by_key[k] for k in keys}
        ok = self._matches(self.wh.read("orders", where=[("ordname", "in", keys)]), expected)
        ok &= self._matches(self.down.read("orders_current", where=[("ordname", "in", keys)]), expected)
        self._check_children(expected)
        return ok

    def _check_children(self, expected: dict) -> None:
        """The staged subform table must hold every child row of the
        changed orders.  Counted as a known defect, not an op failure:
        ``parse_edmx`` ignores ``NavigationProperty``, so registry-schema
        reads drop ``$expand`` children and ``stg_orderitems`` never lands."""
        want = {(k, it["KLINE"]) for k, o in expected.items() for it in o["ORDERITEMS_SUBFORM"]}
        self.known_defect["checks"] += 1
        self.known_defect["child_rows_expected"] += len(want)
        got: set = set()
        if self.wh.exists("orderitems"):
            rows = self.wh.read("orderitems", where=[("ordname", "in", sorted(expected))])
            got = {(r["ordname"], r["kline"]) for r in rows.select("ordname", "kline").collect()}
        if not want <= got:
            self.known_defect["failed"] += 1

    @staticmethod
    def _matches(df, expected: dict) -> bool:
        return EltOdataRefresh._matches_pdf(df.select("ordname", "statdes", "qprice", "curdate").toPandas(), expected)

    @staticmethod
    def _matches_pdf(pdf, expected: dict) -> bool:
        import pandas as pd

        if len(pdf) != len(expected) or set(pdf["ordname"]) != set(expected):
            return False
        for r in pdf.itertuples(index=False):
            o = expected[r.ordname]
            want_ts = pd.Timestamp(o["CURDATE"]).tz_convert("UTC").tz_localize(None)
            if r.statdes != o["STATDES"] or abs(float(r.qprice) - o["QPRICE"]) > 1e-9:
                return False
            if pd.Timestamp(r.curdate) != want_ts:
                return False
        return True

    def final_check(self) -> tuple[bool, int]:
        """The compacted staged view equals the tenant's latest state for
        every key, the downstream table for every key changed since the
        full load; CTYPE equals the tenant's rows.  Also returns the rows
        visible through ``StagingWarehouse.read`` in both warehouses."""
        cols = ("ordname", "statdes", "qprice", "curdate")
        state = self._control("/_bench/state")
        expected = {o["ORDNAME"]: o for o in state["ORDERS"]}
        staged = self.wh.read("orders").select(*cols).toPandas()
        down = self.down.read("orders_current").select(*cols).toPandas()
        ok = self._matches_pdf(staged, expected)
        ok &= self._matches_pdf(down, {k: expected[k] for k in self.changed})
        ct = {r["ctypecode"]: r["ctypename"] for r in self.wh.read("ctype").collect()}
        ok &= ct == {c["CTYPECODE"]: c["CTYPENAME"] for c in state["CTYPE"]}
        children = self.wh.read("orderitems").count() if self.wh.exists("orderitems") else 0
        return ok, len(staged) + len(down) + len(ct) + children

    def live_files(self) -> int:
        return sum(
            len(wh.data_files(t))
            for wh, tables in ((self.wh, ["orders", "ctype", "orderitems"]), (self.down, ["orders_current"]))
            for t in tables
            if wh.exists(t)
        )

    def fingerprints(self) -> dict:
        return {
            "tenant_orders": gen.TENANT_ORDERS,
            "churn_cycles": self.cycle,
            "churn_sha256": gen.fingerprint([gen.churn(self.seed, k) for k in range(self.cycle)]),
        }

    # -- per-layer extras ----------------------------------------------------
    def layer_extras(self, tenant_delta: dict) -> dict:
        prog = self.stream_progress
        return {
            "sources.odata.http_requests": tenant_delta["requests"],
            "sources.odata.bytes_served": tenant_delta["bytes"],
            "sources.odata.tenant_busy_s": tenant_delta["busy_s"],
            "operators.ingest.child_rows": self.child_rows_staged,
            "streaming.cdc_source.latest_offset_ms": sum(p["durationMs"].get("latestOffset", 0) for p in prog),
            "streaming.cdc_source.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in prog),
            "streaming.cdc_source.rows": sum(p.get("numInputRows", 0) for p in prog),
        }

    def report(self) -> dict:
        return {
            "known_defect": dict(
                self.known_defect,
                defect="parse_edmx ignores NavigationProperty: $expand children dropped",
                child_rows_staged=self.child_rows_staged,
            ),
            "tenant_busy_share_per_op": [round(x, 4) for x in self.tenant_busy_share],
        }
