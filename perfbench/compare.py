"""Record result sets and compare two of them.

    # alternate runs of two checkouts (parent first on even seeds)
    python3 perfbench/compare.py record --a PARENT_DIR --b CHANGE_DIR \
        --workloads options_interactive,ingest_curation --seeds 1-10 --out pairs.jsonl
    # report per workload and metric
    python3 perfbench/compare.py report pairs.jsonl
    # tracing overhead: untraced and traced runs of one checkout
    python3 perfbench/compare.py record --a . --workloads ingest_curation --out plain.jsonl
    python3 perfbench/compare.py record --a . --trace 1 --workloads ingest_curation --out traced.jsonl
    python3 perfbench/compare.py overhead plain.jsonl traced.jsonl

A result set is JSON lines, one run each: ``side`` (a or b),
``workload``, ``seed``, ``order`` (its position in the alternation)
and the run's printed ``result``. Runs of the two sides with the same
workload and seed form a pair.

The verdict follows the choosing-metrics rule: ``improved`` when b wins
at least nine tenths of the pairs (ties count for neither) and the
medians differ by more than a's interquartile range; ``regressed`` when
b's median is worse than a's by more than the metric's bound;
``unresolved`` when a's spread (interquartile range over median)
exceeds the bound and b's runs do not all beat a's; else ``unchanged``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]], better: str, bound: float | None) -> tuple[str, float]:
    sign = 1.0 if better == "higher" else -1.0
    decided = [(x, y) for x, y in pairs if x != y]
    wins = sum(1 for x, y in decided if sign * (y - x) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    gain = sign * (mb - ma)
    if pairs and win_frac >= 0.9 and gain > qa3 - qa1:
        return "improved", win_frac
    if bound is not None and ma and -gain / abs(ma) > bound:
        return "regressed", win_frac
    all_better = a and b and (min(b) > max(a) if sign > 0 else max(b) < min(a))
    if bound is not None and ma and (qa3 - qa1) / abs(ma) > bound and not all_better:
        return "unresolved", win_frac
    return "unchanged", win_frac


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {}
    for sec in ("end_to_end", "per_layer"):
        for m in spec[sec]:
            out[m["name"]] = (m["better"], m.get("bound"))
    return out


def report(lines: list[dict], spec: dict, out=sys.stdout) -> dict[str, str]:
    """Print one row per (workload, metric) and one summary row per
    workload; return the workload's overall verdict."""
    runs: dict[tuple, dict] = {}
    for r in lines:
        runs[(r["side"], r["workload"], r["seed"])] = r["result"]
    rank = {"regressed": 3, "unresolved": 2, "improved": 1, "unchanged": 0}
    summary: dict[str, str] = {}
    for w in sorted({k[1] for k in runs}):
        seeds = sorted({k[2] for k in runs if k[1] == w})
        metrics = sorted({m for k, res in runs.items() if k[1] == w for m in res["metrics"]})
        worst = "unchanged"
        print(f"{w}", file=out)
        for m in metrics:
            if m not in spec:
                continue
            a = [runs[("a", w, s)]["metrics"][m]["value"] for s in seeds if ("a", w, s) in runs]
            b = [runs[("b", w, s)]["metrics"][m]["value"] for s in seeds if ("b", w, s) in runs]
            pairs = [
                (runs[("a", w, s)]["metrics"][m]["value"], runs[("b", w, s)]["metrics"][m]["value"])
                for s in seeds if ("a", w, s) in runs and ("b", w, s) in runs
            ]
            if not a or not b:
                continue
            better, bound = spec[m]
            v, wf = verdict(a, b, pairs, better, bound)
            if rank[v] > rank[worst]:
                worst = v
            qa, qb = quartiles(a), quartiles(b)
            print(
                f"  {m:38s} a {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                f"b {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  b wins {wf:.2f}  {v}",
                file=out,
            )
        failed = {side: sum(runs[(side, w, s)]["failed"] for s in seeds if (side, w, s) in runs) for side in "ab"}
        print(f"  => {w}: {worst} (failed requests a={failed['a']} b={failed['b']})", file=out)
        summary[w] = worst
    return summary


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def overhead(untraced: list[dict], traced: list[dict], out=sys.stdout) -> dict[str, float]:
    """Median over seeds of a traced run's request latency over the
    untraced run's with the same seed, minus one, per workload."""
    base = {(r["workload"], r["seed"]): r["result"]["metrics"]["latency_geomean_s"]["value"] for r in untraced}
    res = {}
    for w in sorted({k[0] for k in base}):
        ratios = [
            r["result"]["metrics"]["trace.latency_geomean_s"]["value"] / base[(w, r["seed"])]
            for r in traced if r["workload"] == w and (w, r["seed"]) in base
        ]
        if ratios:
            res[w] = statistics.median(ratios) - 1.0
            print(f"{w}: tracing overhead {res[w]:+.1%} (median of {len(ratios)} seeds)", file=out)
    return res


def record(args) -> None:
    spec_seconds = json.load(open(os.path.join(args.a, "BENCHMARK.json")))["run_seconds"]
    order = 0
    with open(args.out, "a") as out:
        for w in args.workloads.split(","):
            for n, seed in enumerate(parse_seeds(args.seeds)):
                sides = ("a", "b") if n % 2 == 0 else ("b", "a")
                for side in sides if args.b else ("a",):
                    root = getattr(args, side)
                    p = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                         "--seconds", str(spec_seconds), "--trace", str(args.trace)],
                        cwd=root, capture_output=True, text=True,
                    )
                    if p.returncode != 0:
                        sys.stderr.write(p.stderr[-4000:])
                        raise SystemExit(f"{side} {w} seed {seed}: exit {p.returncode}")
                    result = json.loads(p.stdout.strip().splitlines()[-1])
                    out.write(json.dumps({"side": side, "workload": w, "seed": seed, "order": order, "result": result}) + "\n")
                    out.flush()
                    order += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Record and compare perfbench result sets.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record", help="alternate runs of two checkouts into one result set")
    r.add_argument("--a", required=True, help="checkout of the parent")
    r.add_argument("--b", help="checkout of the change (omit to record one side)")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="compare the two sides of result sets")
    p.add_argument("files", nargs="+", help="JSON-lines result sets")
    p.add_argument("--spec", default=ROOT, help="directory holding BENCHMARK.json")
    o = sub.add_parser("overhead", help="tracing overhead from untraced and traced result sets")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args(argv)
    if args.cmd == "record":
        record(args)
    elif args.cmd == "overhead":
        overhead(read_lines([args.untraced]), read_lines([args.traced]))
    else:
        report(read_lines(args.files), load_spec(args.spec))
    return 0


def read_lines(paths: list[str]) -> list[dict]:
    lines = []
    for path in paths:
        with open(path) as f:
            lines.extend(json.loads(line) for line in f if line.strip())
    return lines


if __name__ == "__main__":
    sys.exit(main())
