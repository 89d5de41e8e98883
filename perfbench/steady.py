#!/usr/bin/env python3
"""Steadiness tooling for the benchmark.

Repeat a workload with consecutive seeds and print, for every metric,
the median, the quartiles and the quartile spread as a share of the
median, next to the metric's bound from BENCHMARK.json:

    python3 perfbench/steady.py --workload serve_ingest --runs 10 --seed 1
    python3 perfbench/steady.py --workload stream_dedup --runs 5 --trace both

--trace both also runs the workload traced and reports the tracing
overhead (1 - traced ops_per_s / untraced ops_per_s, medians). For
serve_ingest it prints, per run, the retained versions and space
amplification after each maintenance op, to show they level off.

--out FILE saves the reports; --compare A B prints two saved sets side
by side and refuses sets whose `cpus` differ.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} trace={trace} exit={p.returncode}")
    return json.loads(lines[-2])


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def table(reports, section, bounds):
    names = sorted({k for r in reports for k in r[section]})
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  spread/bound")
    for n in names:
        vals = [r[section][n] for r in reports if n in r[section]]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        flag = "" if b is None else f"{spread / b:6.2f}" + ("  ok" if spread < b / 3 else "  WIDE")
        print(f"{n:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {'' if b is None else b:>6}  {flag}")


def same_cpus(reports):
    cpus = {r["cpus"] for r in reports}
    if len(cpus) > 1:
        raise SystemExit(f"refusing to compare results taken at different cpu counts: {sorted(cpus)}")
    return cpus.pop()


def series(reports):
    for r in reports:
        for k, v in sorted(r.get("extra", {}).items()):
            if k.endswith(".series"):
                pts = " ".join(f"{p['versions']}v/{p['space_amp']:.2f}x" for p in v)
                print(f"seed {r['seed']:>4} {k[:-7]:8} after each maint: {pts}")


def compare(a_path, b_path, bounds):
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    same_cpus(a + b)
    names = sorted(set(a[0]["end_to_end"]) & set(b[0]["end_to_end"]))
    print(f"{'metric':16} {'A median':>12} {'B median':>12} {'B/A':>7} {'bound':>6}")
    for n in names:
        ma = statistics.median(r["end_to_end"][n] for r in a)
        mb = statistics.median(r["end_to_end"][n] for r in b)
        print(f"{n:16} {ma:12.4f} {mb:12.4f} {mb / ma:7.3f} {bounds.get(n, ''):>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    if args.compare:
        compare(*args.compare, bounds)
        return
    if not args.workload:
        ap.error("--workload is required")
    seconds = args.seconds or s["run_seconds"]
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    results = {}
    for t in traces:
        reports = []
        for i in range(args.runs):
            r = run_once(args.workload, args.seed + i, seconds, t)
            reports.append(r)
            e = r["end_to_end"]
            print(f"trace={t} seed={r['seed']} correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(e.items())), flush=True)
        results[t] = reports
    for t, reports in results.items():
        cpus = same_cpus(reports)
        print(f"\n{args.workload}: {len(reports)} runs, trace={t}, cpus={cpus}, "
              f"xmx={reports[0]['xmx_mb']} MB")
        table(reports, "end_to_end", bounds)
        if t == 1:
            print()
            table(reports, "per_layer", {})
    if args.workload == "serve_ingest":
        print()
        series(results[traces[0]])
    if len(results) == 2:
        u = statistics.median(r["end_to_end"]["ops_per_s"] for r in results[0])
        tr = statistics.median(r["end_to_end"]["ops_per_s"] for r in results[1])
        print(f"\ntracing overhead: ops_per_s untraced {u:.4f}, traced {tr:.4f}, "
              f"overhead {1 - tr / u:+.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump([r for rs in results.values() for r in rs], fh)


if __name__ == "__main__":
    main()
