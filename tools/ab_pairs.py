#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload store_read --seeds 501-510 --claim lookup_p50_ms \\
        --out BENCH_AB_point_reads.json

Runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
once in each checkout per seed, alternating which side goes first
(even pairs start with the parent, odd pairs with the change), so slow
drift of the host lands on both sides alike. Each checkout builds and
runs its own sources; nothing under perfbench/ is changed.

Every run is recorded, including runs that failed, timed out or
reported incorrect output. The evidence file is rewritten after each
run, so an interrupted session keeps what it measured; running again
with another workload (or more seeds) merges into the same file and
keeps any other top-level keys it holds.

Per workload and end-to-end metric (`BENCHMARK.json` gives each one's
`better` direction and `bound`), the summary reports the medians and
quartiles of both sides over correct runs, the change/parent ratio of
the medians, whether the change median is within the bound, and over
the pairs in which both runs were correct: change wins, ties and
losses. `--claim METRIC` also applies the claim rule: the change is
better in at least 9 of every 10 pairs run (ties and pairs with an
incorrect run count for neither), and its median beats the parent's by
more than the parent's interquartile range.

    python3 tools/ab_pairs.py --summarize BENCH_AB_point_reads.json
re-prints the summary of an existing file.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_of(spec: str):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        return None
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def rev_of(checkout: Path):
    try:
        return subprocess.run(["git", "-C", str(checkout), "rev-parse", "--short", "HEAD"],
                              capture_output=True, text=True, check=True).stdout.strip()
    except (subprocess.CalledProcessError, FileNotFoundError):
        return None


def hardware():
    cpus = os.cpu_count()
    mem_gb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_gb = round(int(line.split()[1]) / 1048576)
    except OSError:
        pass
    return f"{cpus} CPUs, {mem_gb} GB RAM"


def run_once(checkout: Path, workload: str, seed: int, seconds: int, log: Path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    with open(log, "a") as err:
        err.write(f"\n=== {checkout} {workload} seed {seed}\n")
        err.flush()
        try:
            p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=900)
            code, out = p.returncode, p.stdout
        except subprocess.TimeoutExpired:
            code, out = None, ""
    rec = {"seed": seed, "exit": code, "command_s": round(time.monotonic() - t0, 2),
           "correct": False, "attempted": None, "failed": None, "metrics": {}}
    lines = [ln for ln in out.strip().splitlines() if ln.strip()]
    if lines:
        try:
            res = json.loads(lines[-1])
            rec.update(correct=bool(res.get("correct")) and code == 0,
                       attempted=res.get("attempted"), failed=res.get("failed"),
                       # run.py prints {"value": v, "unit": u} per metric
                       metrics={k: (v["value"] if isinstance(v, dict) else v)
                                for k, v in res.get("metrics", {}).items()})
        except json.JSONDecodeError:
            rec["stdout_tail"] = lines[-1][-500:]
    return rec


def summarize(runs, metrics, claim):
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by_seed.values() if "parent" in p and "change" in p]
    ok_pairs = [p for p in pairs if p["parent"]["correct"] and p["change"]["correct"]]
    side_runs = {s: [r for r in runs if r["side"] == s] for s in ("parent", "change")}
    out = {
        "pairs": len(pairs),
        "pairs_both_correct": len(ok_pairs),
        "incorrect_runs": {s: sum(1 for r in rs if not r["correct"]) for s, rs in side_runs.items()},
        "failed_ops": {s: sum(r["failed"] or 0 for r in rs) for s, rs in side_runs.items()},
        "attempted_ops": {s: sum(r["attempted"] or 0 for r in rs) for s, rs in side_runs.items()},
        "metrics": {},
    }
    for m in metrics:
        name, better, bound = m["name"], m["better"], m.get("bound")
        vals = {s: [r["metrics"][name] for r in rs if r["correct"] and name in r["metrics"]]
                for s, rs in side_runs.items()}
        if not vals["parent"] or not vals["change"]:
            continue
        pm, cm = quantile(vals["parent"], 0.5), quantile(vals["change"], 0.5)
        pq1, pq3 = quantile(vals["parent"], 0.25), quantile(vals["parent"], 0.75)
        wins = ties = 0
        n = 0
        for p in ok_pairs:
            a, b = p["parent"]["metrics"].get(name), p["change"]["metrics"].get(name)
            if a is None or b is None:
                continue
            n += 1
            if a == b:
                ties += 1
            elif (b < a) == (better == "lower"):
                wins += 1
        ratio = cm / pm if pm else None
        gap = (pm - cm) if better == "lower" else (cm - pm)
        row = {
            "better": better, "bound": bound,
            "parent_median": pm, "parent_q1": pq1, "parent_q3": pq3,
            "change_median": cm,
            "change_q1": quantile(vals["change"], 0.25), "change_q3": quantile(vals["change"], 0.75),
            "ratio_change_over_parent": ratio,
            "change_wins": f"{wins}/{n}", "ties": ties, "change_losses": n - wins - ties,
            "identical_in_every_pair": n > 0 and ties == n,
        }
        if bound is not None and ratio is not None:
            row["within_bound"] = (ratio <= 1 + bound) if better == "lower" else (ratio >= 1 - bound)
        if name == claim:
            # nine tenths of ALL pairs run: a pair with an incorrect run is no win
            need = math.ceil(0.9 * len(pairs))
            row["claim"] = {
                "rule": "change better in at least 9 of every 10 pairs run, ties counting for "
                        "neither, and the median gap larger than the parent's q3-q1",
                "wins_needed": need, "median_gap": gap, "parent_iqr": pq3 - pq1,
                "met": n > 0 and wins >= need and gap > (pq3 - pq1),
            }
        out["metrics"][name] = row
    return out


def print_summary(doc):
    for w, s in doc.get("summary", {}).items():
        print(f"{w}: {s['pairs']} pairs ({s['pairs_both_correct']} both correct), "
              f"incorrect runs {s['incorrect_runs']}, failed ops {s['failed_ops']}")
        for name, r in s["metrics"].items():
            line = (f"  {name:28s} parent {r['parent_median']:.6g} "
                    f"[{r['parent_q1']:.6g}, {r['parent_q3']:.6g}]  change {r['change_median']:.6g}  "
                    f"x{(r['ratio_change_over_parent'] or float('nan')):.3f}  "
                    f"wins {r['change_wins']} ties {r['ties']}")
            if "within_bound" in r:
                line += "  in bound" if r["within_bound"] else "  OUT OF BOUND"
            if "claim" in r:
                line += "  CLAIM " + ("met" if r["claim"]["met"] else "NOT met")
            print(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", type=Path, default=ROOT, help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 501-510 or 501,503,507")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--claim", help="metric the change claims to improve on this workload")
    ap.add_argument("--out", type=Path, help="evidence file (BENCH_AB_<name>.json)")
    ap.add_argument("--what", help="one line saying what is compared")
    ap.add_argument("--log", type=Path, help="file collecting the runs' stderr")
    ap.add_argument("--summarize", type=Path, help="print the summary of an evidence file")
    a = ap.parse_args()

    if a.summarize:
        print_summary(json.loads(a.summarize.read_text()))
        return
    if not (a.parent and a.workload and a.seeds and a.out):
        ap.error("--parent, --workload, --seeds and --out are required")
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    doc = json.loads(a.out.read_text()) if a.out.exists() else {}
    doc.setdefault("what", a.what or f"A/B of {a.parent} (parent) vs {a.change} (change)")
    doc["command"] = f"python3 perfbench/run.py --workload W --seed S --seconds {a.seconds} --trace 0"
    doc.setdefault("hardware", hardware())
    doc["order"] = "alternating which side runs first per pair (even pairs parent first)"
    doc.setdefault("revisions", {"parent": rev_of(a.parent), "change": rev_of(a.change)})
    if a.claim:
        doc.setdefault("claims", {})[a.workload] = a.claim
    runs = doc.setdefault("runs", {}).setdefault(a.workload, [])
    log = a.log or Path(os.environ.get("TMPDIR", "/tmp")) / f"ab_pairs_{a.workload}.log"
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for pos, side in enumerate(order):
            rec = run_once(sides[side], a.workload, seed, a.seconds, log)
            rec = {"side": side, "first": pos == 0, **rec}
            runs.append(rec)
            print(f"{a.workload} seed {seed} {side}: correct={rec['correct']} "
                  f"{json.dumps(rec['metrics'])}", flush=True)
            doc.setdefault("summary", {})[a.workload] = summarize(
                runs, metrics, doc.get("claims", {}).get(a.workload))
            a.out.write_text(json.dumps(doc, indent=1) + "\n")
    print_summary(doc)


if __name__ == "__main__":
    main()
