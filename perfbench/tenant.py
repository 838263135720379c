"""Seeded OData tenant, served over stdlib HTTP in its own process.

Serves ``ORDERS`` (with an ``ORDERITEMS_SUBFORM`` child array under
``$expand``), ``CTYPE`` and an EDMX ``$metadata`` document, speaking the
OData subset the engine's source uses: ``$count``, ``$filter=F ge <iso>``,
``$expand``, ``$orderby`` on the key, ``$skip`` / ``$top``.

Rows are kept sorted by key.  A filtered view is built once per
(entity, filter) and reused until the next mutation, so a page costs
O(page size) instead of a re-filter of every row per request.

Control endpoints (not counted as tenant traffic):

- ``POST /_bench/apply?cycle=k`` applies churn batch k, stamping CURDATE
  with the wall clock;
- ``GET /_bench/stats`` returns requests, bytes served and busy seconds;
- ``GET /_bench/state`` returns the current rows (for output checks).

Run: ``python3 perfbench/tenant.py --seed N --port-file PATH``; it writes
its port to PATH once listening and serves until terminated.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.parse
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

EDMX = """<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">
 <edmx:DataServices><Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Priority.OData">
  <EntityType Name="ORDERS">
   <Key><PropertyRef Name="ORDNAME"/></Key>
   <Property Name="ORDNAME" Type="Edm.String" Nullable="false"/>
   <Property Name="CUSTNAME" Type="Edm.String"/>
   <Property Name="CTYPECODE" Type="Edm.String"/>
   <Property Name="STATDES" Type="Edm.String"/>
   <Property Name="QPRICE" Type="Edm.Decimal"/>
   <Property Name="ORD" Type="Edm.Int64"/>
   <Property Name="CURDATE" Type="Edm.DateTimeOffset"/>
   <NavigationProperty Name="ORDERITEMS_SUBFORM" Type="Collection(Priority.OData.ORDERITEMS)"/>
  </EntityType>
  <EntityType Name="ORDERITEMS">
   <Key><PropertyRef Name="ORDNAME"/><PropertyRef Name="KLINE"/></Key>
   <Property Name="ORDNAME" Type="Edm.String" Nullable="false"/>
   <Property Name="KLINE" Type="Edm.Int64" Nullable="false"/>
   <Property Name="PARTNAME" Type="Edm.String"/>
   <Property Name="TQUANT" Type="Edm.Decimal"/>
   <Property Name="PRICE" Type="Edm.Decimal"/>
  </EntityType>
  <EntityType Name="CTYPE">
   <Key><PropertyRef Name="CTYPECODE"/></Key>
   <Property Name="CTYPECODE" Type="Edm.String" Nullable="false"/>
   <Property Name="CTYPENAME" Type="Edm.String"/>
  </EntityType>
 </Schema></edmx:DataServices></edmx:Edmx>"""


def _ts(raw: str) -> datetime:
    dt = datetime.fromisoformat(raw)
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


class Tenant:
    def __init__(self, seed: int, n_orders: int):
        self.seed = seed
        self.n_orders = n_orders
        orders, ctypes = gen.tenant_initial(seed, n_orders)
        self.rows = {"ORDERS": {o["ORDNAME"]: o for o in orders},
                     "CTYPE": {c["CTYPECODE"]: c for c in ctypes}}
        self.keys = {"ORDERS": "ORDNAME", "CTYPE": "CTYPECODE"}
        self.lock = threading.Lock()
        self.views: dict = {}
        self.requests = 0
        self.bytes = 0
        self.busy = 0.0

    def apply(self, cycle: int) -> dict:
        batch = gen.churn(self.seed, cycle, self.n_orders)
        stamp = datetime.now(timezone.utc).isoformat()
        with self.lock:
            rows = self.rows["ORDERS"]
            for o in batch["inserts"]:
                rows[o["ORDNAME"]] = dict(o, CURDATE=stamp)
            for u in batch["updates"]:
                rows[u["ORDNAME"]] = dict(rows[u["ORDNAME"]], **u, CURDATE=stamp)
            self.views.clear()
        return {"stamp": stamp, "inserted": len(batch["inserts"]), "updated": len(batch["updates"])}

    def _view(self, entity: str, flt: str) -> list[dict]:
        """Key-sorted rows matching ``flt``; cached until the next apply."""
        key = (entity, flt)
        view = self.views.get(key)
        if view is None:
            rows = self.rows[entity]
            out = [rows[k] for k in sorted(rows)]
            if flt:
                fld, op, bound = flt.split(" ", 2)
                if op != "ge":
                    raise ValueError(f"unsupported filter {flt!r}")
                b = _ts(bound)
                out = [r for r in out if _ts(r[fld]) >= b]
            view = self.views[key] = out
        return view

    def serve(self, path: str, params: dict) -> tuple[str, bytes]:
        segs = [s for s in path.split("/") if s]
        if segs[-1] == "$metadata":
            return "application/xml", EDMX.encode()
        is_count = segs[-1] == "$count"
        entity = segs[-2] if is_count else segs[-1]
        with self.lock:
            view = self._view(entity, params.get("$filter", ""))
            if is_count:
                return "application/json", json.dumps({"count": len(view)}).encode()
            key = self.keys[entity]
            order = params.get("$orderby", key)
            if order != key:
                raise ValueError(f"unsupported $orderby {order!r}")
            skip = int(params.get("$skip", 0))
            top = int(params.get("$top", len(view)))
            page = view[skip : skip + top]
        expand = params.get("$expand", "")
        if "ORDERITEMS_SUBFORM" not in expand:
            page = [{k: v for k, v in r.items() if k != "ORDERITEMS_SUBFORM"} for r in page]
        return "application/json", json.dumps({"value": page}).encode()

    def state(self) -> dict:
        with self.lock:
            return {e: list(rows.values()) for e, rows in self.rows.items()}


def make_handler(tenant: Tenant):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _send(self, ctype: str, body: bytes, code: int = 200) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _params(self) -> tuple[str, dict]:
            path, _, query = self.path.partition("?")
            return path, {
                k: urllib.parse.unquote(v)
                for k, v in (p.split("=", 1) for p in query.split("&") if "=" in p)
            }

        def do_GET(self):
            path, params = self._params()
            if path == "/_bench/stats":
                with tenant.lock:
                    body = {"requests": tenant.requests, "bytes": tenant.bytes, "busy_s": tenant.busy}
                return self._send("application/json", json.dumps(body).encode())
            if path == "/_bench/state":
                return self._send("application/json", json.dumps(tenant.state()).encode())
            t0 = time.perf_counter()
            try:
                ctype, body = tenant.serve(path, params)
                code = 200
            except (KeyError, ValueError) as ex:
                ctype, body, code = "application/json", json.dumps({"error": str(ex)}).encode(), 400
            self._send(ctype, body, code)
            with tenant.lock:
                tenant.requests += 1
                tenant.bytes += len(body)
                tenant.busy += time.perf_counter() - t0

        def do_POST(self):
            path, params = self._params()
            if path != "/_bench/apply":
                return self._send("application/json", b"{}", 404)
            out = tenant.apply(int(params["cycle"]))
            self._send("application/json", json.dumps(out).encode())

        def log_message(self, *a):
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    tenant = Tenant(args.seed, gen.TENANT_ORDERS)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(tenant))
    srv.daemon_threads = True
    parent = os.getppid()

    def orphan_watch() -> None:
        # the benchmark stops the tenant; if the benchmark itself dies,
        # the tenant must not outlive it
        while os.getppid() == parent:
            time.sleep(1)
        srv.shutdown()

    threading.Thread(target=orphan_watch, daemon=True).start()
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(srv.server_address[1]))
    os.replace(tmp, args.port_file)
    srv.serve_forever()


if __name__ == "__main__":
    main()
