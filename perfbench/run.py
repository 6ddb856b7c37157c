#!/usr/bin/env python3
"""CDC ingest benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 10 --trace 0

Prints the host settings, every metric by name with its unit, a detail line
(failures by name, tail percentile and sample count), and as the last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of an untraced run; `--trace 1` runs with the
Spark event log on and Python spans recorded, and reports the per-layer
metrics (the detail line gives the tracing overhead). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402
from perfbench.trace import Tracer, fold_event_log  # noqa: E402

ENGINE = "embulk_input_marketo_spark"
# the workload's headline timing, and whether it is a rate (higher = faster)
PRIMARY = {"bulk_backfill": ("events_per_s", True),
           "backfill_sequential": ("events_per_s", True),
           "trickle_tail": ("events_per_s", True),
           "lake_reads": ("read_p50_s", False),
           "corpus_ops": ("corpus_pass_s", False)}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus-dir", default=None,
                    help="corpus_ops only: test-data directory holding "
                    "documents, embeddings and events parquet (see TESTDATA.md)")
    return ap.parse_args(argv)


def overhead_pct(name: str, out_dir: str, traced: dict) -> float | None:
    """Traced minus untraced headline time, as % of untraced. The untraced
    side is the median over the untraced runs of `name` recorded in
    `out_dir`; None when there are none yet."""
    key, is_rate = PRIMARY[name]
    prefix, suffix = f"{name}-seed", "-trace0.json"
    values = []
    for f in os.listdir(out_dir):
        if f.startswith(prefix) and f.endswith(suffix):
            with open(os.path.join(out_dir, f)) as fh:
                values.append(json.load(fh)["e2e"][key])
    if not values:
        return None
    u, t = statistics.median(values), traced[key]
    return 100.0 * ((u / t) if is_rate else (t / u)) - 100.0


def run(args, work: str, settings: dict, out_dir: str) -> dict:
    """Set-up, one window, the check; a traced run (`--trace 1`) runs with
    the event log on and spans recorded, and adds the per-layer numbers."""
    from perfbench.workloads import WORKLOADS, Ctx

    cores, traced = settings["cores"], bool(args.trace)
    t0 = time.perf_counter()
    spark = host.start_session(work, cores, event_log=traced)
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    ctx = Ctx(spark, cores, args.seed, work, Tracer(traced))
    wl = WORKLOADS[args.workload](ctx)
    if args.corpus_dir:
        wl.corpus_dir = args.corpus_dir
    setup_s = session_s + wl.setup()
    w = wl.window(args.seconds, "traced" if traced else "untraced")
    e2e = wl.e2e(w)
    detail: dict = {"session_s": session_s}
    layers: dict = {}
    if traced:
        fold = fold_event_log(
            host.event_log_path(work, spark.sparkContext.applicationId),
            w.epochs, cores)
        per_op = max(len(w.ops), 1)
        layers.update({f"spark.{k}": fold[k] / per_op for k in (
            "jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
            "spill_bytes")})
        layers.update(wl.layers(w, fold))
        detail["traced_e2e"] = e2e
        detail["trace_overhead_pct"] = overhead_pct(args.workload, out_dir, e2e)
    t_check = time.perf_counter()
    wl.check()
    detail["check_s"] = time.perf_counter() - t_check
    if traced and hasattr(wl, "single_core"):
        ctx.spark.stop()
        ctx.spark = host.start_session(work, 1)
        one = wl.single_core(work)
        layers["bulk.events_per_s_1core"] = one
        layers["bulk.scaling_eff_1to4"] = e2e["events_per_s"] / (cores * one)
    ctx.spark.stop()
    if hasattr(wl, "tail_info"):
        detail["read_tail"] = wl.tail_info
        detail["op_s"] = wl.op_s
    detail["failures"] = list(w.failures)
    detail["ops"] = len(w.ops)
    return {"wl": wl, "e2e": e2e, "setup_s": setup_s, "layers": layers,
            "detail": detail, "window": w, "tracer": ctx.tracer}


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(host.ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under "
              f"{host.ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    settings = host.host_settings()
    work = os.path.join(host.ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(host.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    # a SIGTERM unwinds through the `finally` below, so the JVM is stopped
    # and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.prepare_env(work, settings)
    settings.update({k: os.environ[k] for k in (
        "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEM", "PYTHONPATH", "SPARK_GRAFT_CPUS")})
    print("settings " + json.dumps(settings), flush=True)
    try:
        with host.RssSampler() as rss:
            r = run(args, work, settings, out_dir)
    finally:
        host.shutdown_jvm()
        host.clean(work)

    units = r["wl"].metrics_e2e
    metrics = {"setup_s": r["setup_s"], "peak_rss_mb": rss.peak_mb, **r["e2e"]}
    if args.trace:
        metrics = r["layers"]
    failed = len(r["detail"]["failures"])
    attempted = r["window"].attempted
    for k, v in metrics.items():
        print(f"metric {k} = {v:.6g} {units.get(k, layer_unit(k))}")
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        r["tracer"].write(stem + ".spans.json")
    print("detail " + json.dumps(r["detail"], default=str), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, layer_unit(k))}
                    for k, v in metrics.items()},
    }
    with open(stem + ".json", "w") as f:
        json.dump({"result": result, "detail": r["detail"],
                   "e2e": {"setup_s": r["setup_s"], **r["e2e"]}}, f, default=str)
    print(json.dumps(result), flush=True)
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_per_s") or name.endswith("_1core"):
        return "1/s"
    if name.endswith("_pct"):
        return "%"
    if name in ("replay.occupancy", "replay.slice_cover", "merge.write_amp",
                "bloom.est_fpr", "bulk.scaling_eff_1to4"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
