"""Self-test of the seeded inputs: the same seed gives byte-identical inputs,
another seed gives different ones.  Needs no Spark session.

    python3 perfbench/selftest.py

Exits 0 when every generator passes, 1 otherwise.
"""

from __future__ import annotations

import sys

import gen
import tenant


def _tenant_pages(seed: int) -> list[bytes]:
    """Pages the tenant serves, before and after applying churn cycle 0
    (CURDATE stamps of churned rows are wall clock, so they are masked)."""
    t = tenant.Tenant(seed, 2_000)
    pages = [t.serve("/odata/$metadata", {})[1]]
    for skip in (0, 1000):
        pages.append(t.serve("/odata/ORDERS", {"$expand": "ORDERITEMS_SUBFORM", "$skip": str(skip), "$top": "1000"})[1])
    pages.append(t.serve("/odata/CTYPE", {})[1])
    t.apply(0)
    state = t.state()
    pages.append(gen.fingerprint([{k: v for k, v in o.items() if k != "CURDATE"} for o in state["ORDERS"]]).encode())
    return pages


GENERATORS = {
    "tenant_initial": lambda s: gen.fingerprint(gen.tenant_initial(s, 2_000)),
    "churn": lambda s: gen.fingerprint([gen.churn(s, k, 2_000) for k in range(3)]),
    "tenant_pages": lambda s: gen.fingerprint(_tenant_pages(s)),
    "query_tables": lambda s: gen.fingerprint(gen.query_tables(s)),
    "query_ops": lambda s: gen.fingerprint(gen.query_ops(s)),
    "corpus": lambda s: gen.fingerprint(gen.corpus(s, 5_000)),
    "curation_ops": lambda s: gen.fingerprint(gen.curation_ops(s)),
    "mixed_order": lambda s: gen.fingerprint(gen.mixed_order(s)),
}


def main() -> int:
    failures = 0
    for name, fp in GENERATORS.items():
        a, b, c = fp(11), fp(11), fp(12)
        same, differs = a == b, a != c
        ok = same and differs
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: same seed identical={same}, other seed differs={differs}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
