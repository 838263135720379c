"""staged_analytics_mix: the read/DML query mix and corpus curation in one
closed loop, one client.

Each round is a seeded interleaving of one query-mix round
(``wl_querymix``: registry queries, zone-map-pruned staged reads,
``delete_rows`` / ``update_rows``, one ``maintain_table`` turn) and one
curation round (``wl_curation``: dedup, components, semantic pairs, IVF-PQ
append and query, quality scoring), so every whole number of rounds has the
same op mix for every seed.  The full load is both parts' full loads.  Warm-up
runs each rewrite and curation op kind once.  The source layers stay idle.
"""

from __future__ import annotations

import os

import gen
import harness
from wl_curation import CorpusCuration
from wl_querymix import StagedQueryMix


def _kind(part: str, op: dict) -> tuple:
    if part == "qm":
        return (part, op["kind"], op.get("name"))
    return (part, op["name"])


class StagedAnalyticsMix:
    round_len = gen.QM_ROUND + gen.CUR_ROUND
    trace_ops = round_len

    def __init__(self, work: str, seed: int):
        self.parts = {
            "qm": StagedQueryMix(os.path.join(work, "qm"), seed),
            "cur": CorpusCuration(os.path.join(work, "cur"), seed),
        }
        self.order = gen.mixed_order(seed)
        self._span = harness.NullSpan

    @property
    def span(self):
        return self._span

    @span.setter
    def span(self, value) -> None:
        self._span = value
        for p in self.parts.values():
            p.span = value

    # -- lifecycle ------------------------------------------------------------
    def tenant_pids(self) -> set[int]:
        return set()

    def prepare_inputs(self) -> None:
        for p in self.parts.values():
            p.prepare_inputs()
        # warm-up: the first op of each rewrite and curation kind in the last
        # round.  Queries and staged reads are not warmed: their first run
        # costs planning and code generation once, inside the timed round
        # (keeps a run inside the benchmark's time budget).
        last = len(self.order) // self.round_len - 1
        seen, self.warmup = set(), []
        for part, k in self.order[last * self.round_len : (last + 1) * self.round_len]:
            op = self.parts[part].ops[k]
            if op.get("kind") in ("query", "range_read", "key_read", "maintain"):
                continue
            if _kind(part, op) not in seen:
                seen.add(_kind(part, op))
                self.warmup.append((part, op))
        self.warmup_ops = len(self.warmup)

    def prepare(self, spark) -> None:
        for p in self.parts.values():
            p.prepare(spark)

    def release(self) -> None:
        for p in self.parts.values():
            p.release()

    def roots(self) -> list[str]:
        return [r for p in self.parts.values() for r in p.roots()]

    def full_load(self) -> None:
        for p in self.parts.values():
            p.full_load()

    def after_warmup(self) -> None:
        for p in self.parts.values():
            p.after_warmup()

    # -- ops ----------------------------------------------------------------------
    def before_op(self, i: int) -> dict:
        if i < 0:
            part, op = self.warmup[-1 - i]
        else:
            part, k = self.order[i % len(self.order)]
            op = self.parts[part].ops[k]
        return {"part": part, "op": op}

    @staticmethod
    def op_label(ctx: dict) -> str:
        op = ctx["op"]
        return op.get("name") or op["kind"]

    def run_op(self, i: int, ctx: dict) -> None:
        self.parts[ctx["part"]].run_op(i, ctx)

    def check_op(self, i: int, ctx: dict, op_s: float) -> bool:
        return self.parts[ctx["part"]].check_op(i, ctx, op_s)

    def final_check(self) -> tuple[bool, int]:
        ok, rows = True, 0
        for p in self.parts.values():
            p_ok, p_rows = p.final_check()
            ok &= p_ok
            rows += p_rows
        return ok, rows

    # -- reporting ------------------------------------------------------------------
    def live_files(self) -> int:
        return sum(p.live_files() for p in self.parts.values())

    def prune_ratio(self) -> float:
        return self.parts["qm"].prune_ratio()

    @property
    def files_rewritten(self) -> int:
        return self.parts["qm"].files_rewritten

    def fingerprints(self) -> dict:
        out = {"order_sha256": gen.fingerprint(self.order)}
        for name, p in self.parts.items():
            out.update({f"{name}.{k}": v for k, v in p.fingerprints().items()})
        return out

    def layer_extras(self, tenant_delta) -> dict:
        out = {}
        for p in self.parts.values():
            out.update(p.layer_extras(tenant_delta))
        return out

    def report(self) -> dict:
        out = {"warmup_kinds": len(self.warmup)}
        for p in self.parts.values():
            out.update(p.report())
        return out
