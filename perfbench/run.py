"""perfbench: end-to-end benchmark of the Janus engine.

Runs one workload against the engine's public entry points and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

    python3 perfbench/run.py --workload historical_log --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --report --seed 1 --seconds 10

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` measures twice as long, interleaving untraced and traced
operations, reports the per-layer metrics (``trace.overhead_share`` is
the traced median against the untraced one), prints self time per layer
and writes the spans to ``.perfbench_out/``.  ``--report`` runs every
workload untraced and prints the metrics each one defines, by name.
``--cores N`` overrides ``local[nproc]`` (``--cores 1`` is the
single-threaded scaling baseline).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

WORKLOADS = {
    "live_mqtt_hybrid": "w_live",
    "historical_log": "w_historical",
    "replay_catchup": "w_replay",
    "curation_daily": "w_curation",
}


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return json.load(f)


def run_one(args, spec: dict) -> int:
    from harness import RunContext, cpu_count, emit, vm_hwm_kb
    from tracing import Tracer

    ctx = RunContext(args.workload, args.seed, float(args.seconds), bool(args.trace),
                     args.cores or cpu_count(), T_PROC0)
    ctx.pin_environment()
    if ctx.trace:
        ctx.tracer = Tracer()
        ctx.tracer.install_engine_wraps()
    mod = importlib.import_module(WORKLOADS[args.workload])
    try:
        e2e, report, layers = mod.run(ctx)
        e2e["peak_rss_mb"] = (ctx.peak_rss_mb(), "MB")
        report["python_vmhwm_mb"] = (vm_hwm_kb() / 1024.0, "MB")
        report["jvm_vmhwm_mb"] = (vm_hwm_kb(ctx.jvm_pid()) / 1024.0, "MB")
        for pool, mb in ctx.heap_peaks_mb().items():
            report["jvm_peak_" + pool.lower().replace("g1 ", "").replace(" ", "_") + "_mb"] = (mb, "MB")
    finally:
        ctx.close()

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"local[{ctx.cores}] trace={int(ctx.trace)}")
    for name, (value, unit) in report.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    print("REPORT " + json.dumps({"workload": args.workload, "cores": ctx.cores,
                                  "attempted": ctx.attempted, "failed": ctx.failed,
                                  "metrics": {k: [v, u] for k, (v, u) in report.items()}}))
    if ctx.trace:
        tracer = ctx.tracer
        self_s = tracer.self_times()
        print("self time per layer (traced phase and set-up):")
        for layer, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<32} {s * 1000:>12.1f} ms")
        out_dir = ROOT / ".perfbench_out"
        tracer.write(out_dir / f"trace-{args.workload}-seed{args.seed}.jsonl")
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name.endswith(".self_ms"):
                value = self_s.get(name[: -len(".self_ms")], 0.0) * 1000
            else:
                value = layers.get(name, (0.0, m["unit"]))[0]
            metrics[name] = (value, m["unit"])
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    for name, (value, unit) in metrics.items():
        if not math.isfinite(value):  # e.g. a percentile of no samples
            if not ctx.trace:
                ctx.fail(f"{name} could not be measured")
            metrics[name] = (0.0, unit)
    emit(ctx, metrics, correct=ctx.failed == 0)
    return 0


def run_report(args) -> int:
    """Every workload, untraced, one after another (``historical_log``
    and ``replay_catchup`` too, which ``BENCHMARK.json`` does not gate);
    prints each one's own metrics by name and its failed ratio."""
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        if args.cores:
            cmd += ["--cores", str(args.cores)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
        rep = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
        if proc.returncode != 0 or not rep:
            print(f"{name}: FAILED (exit {proc.returncode})")
            rows.append(None)
            continue
        r = json.loads(rep[-1][len("REPORT "):])
        r["e2e"] = json.loads(proc.stdout.splitlines()[-1])["metrics"]
        rows.append(r)
        print(f"{name}  (local[{r['cores']}], {r['failed']} of {r['attempted']} operations failed)")
        print(f"  {'failed_ratio':<40} {r['failed'] / max(1, r['attempted']):>16.6g} ratio")
        for k in ("setup_s", "peak_rss_mb"):
            print(f"  {k:<40} {r['e2e'][k]['value']:>16.6g} {r['e2e'][k]['unit']}")
        for k, (v, u) in r["metrics"].items():
            print(f"  {k:<40} {v:>16.6g} {u}")
    return 0 if all(rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "janus_spark" / "__init__.py").is_file():
        print("perfbench: the janus_spark package is not in this checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.report:
        return run_report(args)
    if not args.workload:
        ap.error("--workload is required")
    try:
        return run_one(args, spec)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
