#!/usr/bin/env python3
"""Interleaved parent/change pairs of the benchmark, summarised per metric.

    python3 tools/ab_pairs.py --parent <parent checkout> [--change <checkout>]
        [--workload ingest --workload table_serve] [--pairs 10] [--seed 101]
        [--log runs.jsonl]
    python3 tools/ab_pairs.py --summarize runs.jsonl [more.jsonl ...]

Pair k runs `perfbench/run.py --seed <seed + k> --trace 0` for the
benchmark's `run_seconds` once in each checkout, the parent first on even k
and the change first on odd k, and appends both result lines to the log
(one JSON object per run). A pair is keyed by its seed, so logs of
batches with different `--seed`s pool into one summary (a seed run twice
keeps its last pair). The summary gives, per workload and end-to-end
metric of the change's BENCHMARK.json, each side's median and quartiles,
the pairs the change won (ties count for neither side), whether a gain holds by the benchmark's rule (the change
wins at least nine tenths of the pairs, and the medians differ by more than
the parent's interquartile range), and the no-regression verdict against the
metric's `bound`: WORSE when the change median is worse than the parent's by
more than the bound, unresolved when either side's IQR/median is wider than
the bound (unless every change run beats every parent run), ok otherwise. It
also counts runs whose exit code, failed operations or output checks were not
clean.

Build the parent checkout with `git clone` of the parent commit; both sides
compile into their own `.bench_build/`.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "perfbench"))

from stats import median, percentile  # noqa: E402


def quartiles(xs):
    """(q1, median, q3); q1/q3 are nearest-rank percentiles, as in perfbench."""
    return percentile(xs, 25), median(xs), percentile(xs, 75)


def wins(parent, change, better):
    """Pairs where the change is strictly better ('lower' or 'higher')."""
    sign = 1 if better == "higher" else -1
    return sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)


def gain_holds(parent, change, better):
    """The gain rule: >= 9/10 of the pairs won, and the median gap in the
    better direction exceeds the parent's interquartile range."""
    q1, mp, q3 = quartiles(parent)
    gap = median(change) - mp
    if better == "lower":
        gap = -gap
    return wins(parent, change, better) * 10 >= 9 * len(parent) and gap > q3 - q1


def verdict(parent, change, better, bound):
    """The no-regression verdict for one metric: 'WORSE' when the change
    median is worse than the parent median by more than `bound` (a
    fraction of the parent median); else 'unresolved' when either side's
    spread (IQR / median) is wider than `bound`, unless every change run
    beats every parent run; else 'ok'."""
    def spread(xs):
        q1, m, q3 = quartiles(xs)
        return (q3 - q1) / abs(m) if m else float("inf")
    mp, mc = median(parent), median(change)
    worse = mc - mp if better == "lower" else mp - mc
    if worse > bound * abs(mp):
        return "WORSE"
    if max(spread(parent), spread(change)) > bound:
        beats_all = (max(change) < min(parent) if better == "lower"
                     else min(change) > max(parent))
        if not beats_all:
            return "unresolved"
    return "ok"


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {}
    try:  # per-op-kind p50 latencies from the `# detail` line
        detail = json.loads(next(l for l in lines if l.startswith("# detail "))[9:])
        kinds = {k: v["p50"] for k, v in detail.get("op_ms", {}).items()}
    except (StopIteration, ValueError, KeyError, TypeError):
        kinds = {}
    return {"exit": p.returncode, "correct": res.get("correct", False),
            "failed": res.get("failed"), "attempted": res.get("attempted"),
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
            "op_p50_ms_by_kind": kinds}


def summarize(runs, end_to_end):
    out = []
    for w in sorted({r["workload"] for r in runs}):
        pairs = sorted({r["seed"] for r in runs if r["workload"] == w})
        side = {(r["seed"], r["side"]): r for r in runs if r["workload"] == w}
        done = [k for k in pairs if (k, "parent") in side and (k, "change") in side]
        bad = {s: sum(1 for k in done if side[(k, s)]["exit"] != 0
                      or side[(k, s)]["failed"] != 0 or not side[(k, s)]["correct"])
               for s in ("parent", "change")}
        out.append(f"{w}: {len(done)} pairs; unclean runs parent {bad['parent']}, "
                   f"change {bad['change']}")
        for m in end_to_end:
            name, better = m["name"], m["better"]
            ks = [k for k in done if name in side[(k, "parent")]["metrics"]
                  and name in side[(k, "change")]["metrics"]]
            if not ks:
                continue
            p = [side[(k, "parent")]["metrics"][name] for k in ks]
            c = [side[(k, "change")]["metrics"][name] for k in ks]
            qp, qc = quartiles(p), quartiles(c)
            out.append(
                f"  {name:<12} parent {qp[1]:10.3f} [{qp[0]:.3f}, {qp[2]:.3f}]  "
                f"change {qc[1]:10.3f} [{qc[0]:.3f}, {qc[2]:.3f}]  "
                f"change/parent {qc[1] / qp[1] if qp[1] else float('nan'):.3f}  "
                f"wins {wins(p, c, better)}/{len(ks)}  "
                f"gain rule {'HOLDS' if gain_holds(p, c, better) else 'no'}  "
                f"no-regression {verdict(p, c, better, m['bound'])}")
        kinds = sorted({kind for k in done for s in ("parent", "change")
                        for kind in side[(k, s)].get("op_p50_ms_by_kind", {})})
        for kind in kinds:
            ks = [k for k in done if all(kind in side[(k, s)].get("op_p50_ms_by_kind", {})
                                         for s in ("parent", "change"))]
            if ks:
                p = median([side[(k, "parent")]["op_p50_ms_by_kind"][kind] for k in ks])
                c = median([side[(k, "change")]["op_p50_ms_by_kind"][kind] for k in ks])
                out.append(f"  op kind {kind:<12} p50 ms, median over {len(ks)} pairs: "
                           f"parent {p:.1f}  change {c:.1f}  change/parent {c / p:.3f}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--log", default="ab_pairs.jsonl")
    ap.add_argument("--summarize", metavar="LOG", nargs="+",
                    help="only summarise these logs, pooled")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.summarize:
        runs = []
        for log in a.summarize:
            with open(log) as f:
                runs += [json.loads(l) for l in f if l.strip()]
        print(summarize(runs, bench["end_to_end"]))
        return
    if not a.parent:
        ap.error("--parent is required unless --summarize is given")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    runs = []
    for k in range(a.pairs):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        for w in workloads:
            for s in order:
                r = run_once(a.parent if s == "parent" else a.change, w, a.seed + k,
                             bench["run_seconds"])
                r.update(workload=w, pair=k, side=s, seed=a.seed + k)
                runs.append(r)
                with open(a.log, "a") as f:
                    f.write(json.dumps(r) + "\n")
                print(f"pair {k} {w} {s}: exit {r['exit']} failed {r['failed']} "
                      f"{json.dumps(r['metrics'])}", flush=True)
    print(summarize(runs, bench["end_to_end"]))


if __name__ == "__main__":
    main()
