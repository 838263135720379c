"""The metric catalogue (names, units, direction) and the per-layer counters
the benchmark measures itself: warehouse files and commits, tenant traffic.

``python3 perfbench/metrics.py`` prints the ``end_to_end`` and ``per_layer``
lists of BENCHMARK.json from this catalogue.
"""

from __future__ import annotations

import json

import harness
from tracing import LAYERS

E2E = {
    # name: (unit, better, bound)
    "setup_s": ("s", "lower", 0.25),
    "full_load_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_p90_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "stored_bytes_per_row": ("B/row", "lower", 0.05),
}

BASE = {
    "self_s": ("s", "lower"),
    "calls": ("count", "lower"),
    "jobs": ("count", "lower"),
    "py4j_calls": ("count", "lower"),
}
ACTION = {
    "stages": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}
ACTION_LAYERS = [
    "operators.staging",
    "streaming.cdc_source",
    "plans.queries",
    "plans.analytics",
    "operators.dedup",
    "operators.corpus",
    "operators.similarity",
    "functions.text",
]
EXTRA = {
    "sources.odata": {
        "http_requests": ("count", "lower"),
        "bytes_served": ("B", "lower"),
        "tenant_busy_s": ("s", "lower"),
    },
    "operators.ingest": {"child_rows": ("rows", "higher")},
    "operators.staging": {
        "files_written": ("count", "lower"),
        "bytes_written": ("B", "lower"),
        "commits": ("count", "lower"),
        "files_live": ("count", "lower"),
        "files_rewritten": ("count", "lower"),
        "prune_ratio": ("ratio", "lower"),
    },
    "streaming.cdc_source": {
        "latest_offset_ms": ("ms", "lower"),
        "add_batch_ms": ("ms", "lower"),
        "rows": ("rows", "higher"),
    },
    "plans.queries": {"exchanges": ("count", "lower"), "python_evals": ("count", "lower")},
    "plans.analytics": {"exchanges": ("count", "lower"), "python_evals": ("count", "lower")},
    "operators.dedup": {"python_evals": ("count", "lower"), "pair_precision": ("ratio", "higher")},
    "operators.corpus": {"python_evals": ("count", "lower"), "pair_precision": ("ratio", "higher")},
    "operators.similarity": {"python_evals": ("count", "lower"), "recall_at_10": ("ratio", "higher")},
    "functions.text": {"python_evals": ("count", "lower")},
}
TRACING = {
    "tracing.op_p50_s": ("s", "lower"),
    "tracing.overhead_op_p50_s": ("s", "lower"),
    "tracing.overhead_full_load_s": ("s", "lower"),
}


def per_layer_catalogue() -> dict[str, tuple[str, str]]:
    out = {}
    for layer in LAYERS:
        for k, v in BASE.items():
            out[f"{layer}.{k}"] = v
        if layer in ACTION_LAYERS:
            for k, v in ACTION.items():
                out[f"{layer}.{k}"] = v
        for k, v in EXTRA.get(layer, {}).items():
            out[f"{layer}.{k}"] = v
    out.update(TRACING)
    return out


def unit(name: str) -> str:
    if name in E2E:
        return E2E[name][0]
    return per_layer_catalogue()[name][0]


def per_layer_values(layers: dict, extras: dict, e2e: dict, baseline: dict) -> dict:
    """Every per-layer metric of the catalogue; layers idle on this
    workload report 0."""
    out = {}
    for name, (unit_, _better) in per_layer_catalogue().items():
        if name.startswith("tracing."):
            continue
        layer, _, key = name.rpartition(".")
        v = extras.get(name, layers.get(layer, {}).get(key, 0))
        out[name] = int(v) if unit_ in ("count", "B", "rows") else v
    out["tracing.op_p50_s"] = e2e["op_p50_s"]
    out["tracing.overhead_op_p50_s"] = e2e["op_p50_s"] - baseline["e2e"]["op_p50_s"]
    out["tracing.overhead_full_load_s"] = e2e["full_load_s"] - baseline["e2e"]["full_load_s"]
    return out


def tenant_delta(samples: list[dict]) -> dict:
    """Tenant traffic over the full load and the counted ops: samples are
    taken before and after the full load, after warm-up and at the end."""
    s0, s1, s2, s3 = samples
    return {k: (s1[k] - s0[k]) + (s3[k] - s2[k]) for k in ("requests", "bytes", "busy_s")}


class FsCounters:
    """Files written, bytes written and commit acts under the workload's
    warehouse roots, from listings taken between counted phases."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.files, self.entries = self._snap()
        self.files_written = 0
        self.bytes_written = 0
        self.commits = 0

    def _snap(self):
        files, entries = {}, set()
        for r in self.roots:
            files.update(harness.data_files(r))
            entries |= harness.manifest_entries(r)
        return files, entries

    def step(self, count: bool = True) -> None:
        files, entries = self._snap()
        if count:
            new = [p for p in files if p not in self.files]
            self.files_written += len(new)
            self.bytes_written += sum(files[p] for p in new)
            self.commits += len(entries - self.entries)
        self.files, self.entries = files, entries

    def totals(self, wl) -> dict:
        return {
            "operators.staging.files_written": self.files_written,
            "operators.staging.bytes_written": self.bytes_written,
            "operators.staging.commits": self.commits,
            "operators.staging.files_live": wl.live_files(),
            "operators.staging.files_rewritten": getattr(wl, "files_rewritten", 0),
            "operators.staging.prune_ratio": wl.prune_ratio() if hasattr(wl, "prune_ratio") else 0.0,
        }


if __name__ == "__main__":
    e2e = [{"name": k, "unit": u, "better": b, "bound": bd} for k, (u, b, bd) in E2E.items()]
    pl = [{"name": k, "unit": u, "better": b} for k, (u, b) in per_layer_catalogue().items()]
    print(json.dumps({"end_to_end": e2e, "per_layer": pl, "n_per_layer": len(pl)}, indent=1))
