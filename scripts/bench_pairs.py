#!/usr/bin/env python3
"""Alternating before/after runs of one benchmark workload.

Usage (each directory a full checkout, e.g. the parent commit extracted
with `git archive` and the working tree):
  python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload cp_mixed \
      --seeds 51 52 53 54 55 56 57 58 59 60 [--out pairs.jsonl]

Each seed is one pair: both sides run `perfbench/run.py` on that seed,
one after the other, for the `run_seconds` that CHANGE_DIR's
BENCHMARK.json sets. The side that runs first alternates from pair to
pair, so drift in the machine's speed falls on both sides alike. It
prints each pair, then per end-to-end metric (as declared in
CHANGE_DIR's BENCHMARK.json) each side's median and quartiles, how many
pairs the change won, and whether the gap between the medians exceeds
the parent's interquartile range. Quartiles are
statistics.quantiles(method="inclusive"). A pair in which either run
fails or reports `correct: false` is printed and left out of the
figures.

Then one verdict line per end-to-end metric, `worse beyond bound:` with
- `yes` when the change's median is worse than the parent's by more
  than the metric's `bound`, a fraction of the parent's median;
- `unresolved` when the parent's IQR exceeds that same fraction of its
  median and the change did not win every pair, so a regression of the
  bound's size could hide in the spread (this takes precedence);
- `no` otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds):
    """One untraced run in `checkout`; its result line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (exit {p.returncode}): "
              f"{p.stderr.strip()[-400:]}", flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(pmed, piqr, worse_by, won_all, bound):
    """`yes`, `no` or `unresolved`, with the figures behind it: is the
    change worse than the parent by more than `bound` of its median?"""
    spread, worse = piqr / pmed, worse_by / pmed
    why = (f"change {worse:+.1%} worse, bound {bound:.0%}, "
           f"parent IQR/median {spread:.2f}")
    if spread > bound and not won_all:
        return "unresolved", why
    return ("yes" if worse > bound else "no"), why


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out", help="append each pair as a JSON line to this file")
    a = ap.parse_args()

    sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    pairs = []
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {s: run(sides[s], a.workload, seed, spec["run_seconds"])
               for s in order}
        ok = all(r is not None and r.get("correct") and r.get("failed", 0) == 0
                 for r in res.values())
        vals = {s: {m: r["metrics"][m]["value"] for m in better}
                for s, r in res.items() if r is not None}
        cells = "  ".join(f"{m} {vals['parent'][m]:.3f} -> {vals['change'][m]:.3f}"
                          for m in better if ok)
        print(f"pair {i + 1} seed {seed} ({order[0]} first): "
              f"{cells if ok else 'EXCLUDED: ' + json.dumps(res)}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "first": order[0], "ok": ok, "runs": res}) + "\n")
        if ok:
            pairs.append(vals)

    print(f"{a.workload}: {len(pairs)} of {len(a.seeds)} pairs usable")
    if not pairs:
        sys.exit(1)
    verdicts = []
    for m, direction in better.items():
        p = [v["parent"][m] for v in pairs]
        c = [v["change"][m] for v in pairs]
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
        gap = sign * (pmed - cmed)
        print(f"{m}: parent median {pmed:.3f} (q1 {pq1:.3f}, q3 {pq3:.3f}, "
              f"IQR {pq3 - pq1:.3f})  change median {cmed:.3f} (q1 {cq1:.3f}, "
              f"q3 {cq3:.3f})  change wins {wins}/{len(pairs)}  "
              f"improvement {gap:+.3f} ({gap / pmed:+.1%})  "
              f"exceeds parent IQR: {'yes' if gap > pq3 - pq1 else 'no'}")
        verdicts.append((m, verdict(pmed, pq3 - pq1, -gap, wins == len(pairs),
                                    bound[m])))
    for m, (v, why) in verdicts:
        print(f"{m}: worse beyond bound: {v} ({why})")


if __name__ == "__main__":
    main()
