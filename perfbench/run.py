"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  With ``--trace 0`` it measures the
workload for at least ``S`` seconds of op time, stopping at the end of an op
round (every round has the same op mix), and prints the end-to-end metrics;
with ``--trace 1`` it runs a fixed number of ops with every layer module
wrapped and prints the per-layer metrics, writing spans to
``.perfbench_work/traces/``.  The last stdout line is the result object;
the line before it is the full run record (environment, checks, known
defects).  See perfbench/README.md for the formats.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    "elt_odata_refresh": ("wl_elt", "EltOdataRefresh"),
    "staged_analytics_mix": ("wl_analytics", "StagedAnalyticsMix"),
}
MAX_LOOP_FACTOR = 3  # op loop also stops at this multiple of --seconds of wall time


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _record_path(workload: str, seed: int) -> str:
    return os.path.join(ROOT, ".perfbench_work", "records", f"{workload}-seed{seed}-untraced.json")


def _untraced_record(args) -> dict:
    """The untraced result the tracing overhead is measured against: the
    record an earlier untraced run of this seed, these seconds and this
    package source left in the checkout, else one measured now."""
    path = _record_path(args.workload, args.seed)
    if os.path.exists(path):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("seconds") == args.seconds and rec["env"]["source_sha256"] == harness.source_digest(ROOT):
            return rec
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.DEVNULL, check=True, timeout=170,
    )
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    args = _parse()
    # a terminated run still stops the tenant and the JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, harness.PKG)):
        print(f"error: package {harness.PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    t_start = harness.process_start_time()
    t_base = time.time()
    baseline = _untraced_record(args) if args.trace else None
    t_start += time.time() - t_base  # the untraced baseline run is not set-up
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    harness.reset_dir(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    env = harness.pin_environment(ROOT, work, event_log=event_log)
    sys.path.insert(0, ROOT)
    import importlib

    mod_name, cls_name = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod_name), cls_name)(work, args.seed)
    try:
        return _measure(args, wl, env, t_start, work, event_log, baseline)
    finally:
        wl.release()
        harness.stop_jvm()


def _measure(args, wl, env, t_start, work, event_log, baseline) -> int:
    sampler = harness.RssSampler().start()

    # -- set-up, from process start; inputs are built while the Spark session starts
    inputs = harness.Background(wl.prepare_inputs)
    spark = harness.start_spark()
    inputs.join()
    wl.prepare(spark)
    sampler.exclude = wl.tenant_pids()
    prepare_s = time.time() - t_start

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
        wl.span = tracer.span
    fs = metrics.FsCounters(wl.roots()) if args.trace else None
    tenant = [wl.tenant_stats()] if hasattr(wl, "tenant_stats") else None

    def set_op(op_id):
        if tracer is not None:
            tracer.op_id = op_id

    # -- full load
    set_op("full_load")
    t = time.perf_counter()
    wl.full_load()
    full_load_s = time.perf_counter() - t
    set_op(None)
    if fs:
        fs.step()
    if tenant:
        tenant.append(wl.tenant_stats())

    # -- warm-up: run and verify, not counted
    t_w = time.perf_counter()
    warm_ok = True
    for i in range(wl.warmup_ops):
        ctx = wl.before_op(-1 - i)
        set_op("warmup")
        wl.run_op(-1 - i, ctx)
        set_op(None)
        warm_ok &= wl.check_op(-1 - i, ctx, 1.0)
    wl.after_warmup()
    warmup_s = time.perf_counter() - t_w
    if fs:
        fs.step(count=False)
    if tenant:
        tenant.append(wl.tenant_stats())
    setup_s = prepare_s + warmup_s

    # -- timed closed loop
    lat, labels, failed, errors = [], [], 0, []
    loop_start = time.perf_counter()
    i = 0
    while True:
        ctx = wl.before_op(i)
        set_op(i)
        t = time.perf_counter()
        err = None
        try:
            wl.run_op(i, ctx)
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, the loop goes on
            err = f"{type(ex).__name__}: {ex}"
        op_s = time.perf_counter() - t
        set_op(None)
        ok = err is None
        if ok:
            try:
                ok = wl.check_op(i, ctx, op_s)
                err = None if ok else "output check failed"
            except Exception as ex:  # noqa: BLE001
                ok, err = False, f"check raised {type(ex).__name__}: {ex}"
        if not ok:
            failed += 1
            errors.append({"op": i, "error": err[:500]})
        lat.append(op_s)
        labels.append(wl.op_label(ctx))
        if fs:
            fs.step()
        i += 1
        if args.trace:
            if i >= wl.trace_ops:
                break
        elif (sum(lat) >= args.seconds and i % wl.round_len == 0) or (
            time.perf_counter() - loop_start >= MAX_LOOP_FACTOR * args.seconds
        ):
            break

    final_ok, visible = wl.final_check()
    stored = sum(harness.dir_bytes(r) for r in wl.roots())
    extras = {}
    if args.trace:
        if tenant:
            tenant.append(wl.tenant_stats())
        extras = wl.layer_extras(metrics.tenant_delta(tenant) if tenant else None)
        extras.update(fs.totals(wl))
    report = wl.report()
    wl.release()
    if tracer is not None:
        tracer.uninstall()
    harness.stop_jvm()
    peak_mb = sampler.stop()

    e2e = {
        "setup_s": setup_s,
        "full_load_s": full_load_s,
        "op_p50_s": harness.quantile(lat, 0.5),
        "op_p90_s": harness.quantile(lat, 0.9),
        "peak_rss_mb": peak_mb,
        "stored_bytes_per_row": stored / max(visible, 1),
    }
    correct = warm_ok and final_ok and failed == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "inputs": wl.fingerprints(),
        "seconds": args.seconds,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "op_samples": len(lat),
        "op_latencies_s": lat,
        "op_labels": labels,
        "failed_ops_ratio": failed / len(lat),
        "errors": errors,
        "final_check_ok": final_ok,
        "warmup_check_ok": warm_ok,
        "peak_rss_per_process_mb": [round(kb / 1024, 1) for kb in sampler.peak_procs],
        "visible_rows": visible,
        "stored_bytes": stored,
        "e2e": e2e,
        **report,
    }
    if args.trace:
        events = tracer.read_event_logs(event_log)
        counted = {"full_load", *range(len(lat))}
        layers, jobs = tracer.layer_metrics(events, counted)
        values = metrics.per_layer_values(layers, extras, e2e, baseline)
        record["tracing_overhead"] = {
            k: e2e[k] - baseline["e2e"][k] for k in ("setup_s", "full_load_s", "op_p50_s", "op_p90_s")
        }
        out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"record": record, "layers": values, "spans": tracer.spans, "jobs": jobs},
                      fh, default=str)
        result_metrics = {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()}
    else:
        os.makedirs(os.path.dirname(_record_path(args.workload, args.seed)), exist_ok=True)
        with open(_record_path(args.workload, args.seed), "w") as fh:
            json.dump(record, fh)
        result_metrics = {k: {"value": v, "unit": metrics.unit(k)} for k, v in e2e.items()}
    harness.reset_dir(work)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": len(lat), "failed": failed,
                      "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
