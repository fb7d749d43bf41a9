#!/usr/bin/env python3
"""Repeat benchmark runs and compare sets of them.

    python3 perfbench/repeat.py run --runs 10 [--workloads a,b] [--seed0 1]
                                    [--trace 0|1] [--out FILE]
    python3 perfbench/repeat.py compare BASE.json NEW.json
    python3 perfbench/repeat.py overhead UNTRACED.json TRACED.json

`run` runs each workload --runs times (seeds seed0, seed0+1, ...) through
run.py, saves every result line to FILE (default
.bench_work/repeat-<time>.json) and prints, per workload and metric, the
median and quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median against the metric's bound in BENCHMARK.json.

`compare` reports, per workload and metric, how far NEW's median moved
from BASE's in the metric's worse direction, and fails (exit 1) when that
exceeds the bound; with both sets untraced it also fails on a spread above
the bound, setup_s included.

`overhead` prints the tracing overhead: the traced runs' trace.op_p50_ms
minus the untraced runs' op_p50_ms, per workload (medians).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def bounds():
    s = spec()
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def do_run(a):
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    out = Path(a.out) if a.out else ROOT / ".bench_work" / f"repeat-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    results = {"trace": a.trace, "seconds": s["run_seconds"], "runs": {}}
    for w in workloads:
        results["runs"][w] = []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(s["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
                results["runs"][w].append({"seed": seed, "wall_s": wall, "error": p.returncode})
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r.update(seed=seed, wall_s=wall)
            results["runs"][w].append(r)
            print(f"{w} seed {seed}: {wall:.0f} s, correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", file=sys.stderr)
            out.write_text(json.dumps(results, indent=1))
    print(f"saved {out}", file=sys.stderr)
    report(results)


def metric_values(runs):
    vals = {}
    for r in runs:
        for k, m in r.get("metrics", {}).items():
            vals.setdefault(k, []).append(m["value"])
    return vals


def report(results):
    b = bounds()
    for w, runs in results["runs"].items():
        ok = [r for r in runs if "metrics" in r]
        walls = [r["wall_s"] for r in runs]
        print(f"\n{w}: {len(ok)}/{len(runs)} runs ok, "
              f"{sum(not r['correct'] for r in ok)} incorrect, "
              f"wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s")
        print(f"  {'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for k, v in metric_values(ok).items():
            med, q1, q3, spread = summarize(v)
            bound = b.get(k, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = "ok" if spread <= bound / 3 else ("near" if spread <= bound else "OVER")
            print(f"  {k:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{'' if bound is None else bound:>6} {flag}")


def do_compare(a):
    base, new = (json.loads(Path(p).read_text()) for p in (a.base, a.new))
    b = bounds()
    failed = False
    for w in base["runs"]:
        if w not in new["runs"]:
            continue
        bv = metric_values([r for r in base["runs"][w] if "metrics" in r])
        nv = metric_values([r for r in new["runs"][w] if "metrics" in r])
        print(f"\n{w}")
        for k in bv:
            if k not in nv:
                continue
            bm, nm = statistics.median(bv[k]), statistics.median(nv[k])
            m = b.get(k, {})
            worse = (nm - bm) / bm if m.get("better") == "lower" else (bm - nm) / bm
            bound = m.get("bound")
            spread = summarize(nv[k])[3]
            verdict = ""
            if bound is not None:
                bad = worse > bound or (not base["trace"] and spread > bound)
                failed |= bad
                verdict = "FAIL" if bad else "pass"
            print(f"  {k:32} {bm:12.4f} -> {nm:12.4f}  worse by {worse:+.3f}  "
                  f"spread {spread:.3f}  {verdict}")
    sys.exit(1 if failed else 0)


def do_overhead(a):
    untraced, traced = (json.loads(Path(p).read_text()) for p in (a.untraced, a.traced))
    for w in untraced["runs"]:
        u = metric_values([r for r in untraced["runs"][w] if "metrics" in r]).get("op_p50_ms")
        t = metric_values([r for r in traced["runs"].get(w, []) if "metrics" in r]).get("trace.op_p50_ms")
        if u and t:
            um, tm = statistics.median(u), statistics.median(t)
            print(f"{w}: untraced op_p50_ms {um:.1f}, traced {tm:.1f}, "
                  f"overhead {tm - um:+.1f} ms ({(tm - um) / um:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--workloads", default="")
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", default="")
    r.set_defaults(fn=do_run)
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    c.set_defaults(fn=do_compare)
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    o.set_defaults(fn=do_overhead)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
