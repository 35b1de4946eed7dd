#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload at two git revisions.

    python3 tools/ab_pairs.py BASE CHANGE --workload cdc_bulk \\
        [--pairs 10] [--seed 101]

BASE and CHANGE are any git revisions of this repository (a branch, a sha,
or the commit `git stash create` prints for uncommitted work). Each is
exported with `git archive` into `.bench_build/ab/<sha>/` (gitignored), so
both sides build and run from their own committed files, as the benchmark
itself does. Then, per pair i (seed = --seed + i), both sides run

    python3 perfbench/run.py --workload W --seed S --seconds N --trace 0

with N the `run_seconds` of BENCHMARK.json, one after the other, BASE first
on even pairs and CHANGE first on odd ones, so drift of the host over time
does not favour one side. One unrecorded warm-up run per side goes first; it
also builds that side.

Each run's last stdout line is its result JSON. For every end-to-end metric
that BENCHMARK.json declares, the report gives both sides' median and
quartiles, how many pairs the change won, its relative change against the
metric's bound, and the verdict the roadmap asks of a claimed gain: over 10
or more pairs, the change wins at least 9 of 10 pairs run, and the medians
differ by more than the base's interquartile range. A run is invalid when it prints no result,
or reports an incorrect output or failed operations. Medians and quartiles
are taken over the pairs in which both runs are valid; wins are counted over
every pair run, so a pair with an invalid change run is a loss, and no gain
is proven when a change run is invalid while the base run of its pair is
valid. The number of invalid runs per side is printed. Raw results go to
`.bench_build/ab/<base>-<change>-<workload>.jsonl`; the last stdout line is
the summary as JSON.

Neither BENCHMARK.json nor anything under perfbench/ is modified.
"""

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(ROOT, ".bench_build", "ab")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def resolve(rev):
    out = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True)
    return out.stdout.strip()


def checkout(sha):
    """The revision's committed files under .bench_build/ab/<sha>/."""
    d = os.path.join(AB_DIR, sha[:12])
    if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
        os.makedirs(d, exist_ok=True)
        tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                             check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(d, filter="data")
    return d


def run_once(side_dir, workload, seed, seconds):
    """One untraced run; its parsed result line, or None when it printed none."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                break
    log(f"  no result line (exit {p.returncode}); stderr tail:\n"
        + "\n".join(p.stderr.splitlines()[-15:]))
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def valid(r):
    return r is not None and r["correct"] and not r["failed"]


def summarize(metric, results):
    """Medians, quartiles, wins and verdict of one metric over all pairs run."""
    name, lower = metric["name"], metric["better"] == "lower"
    pairs = [(b, c) for b, c in results if valid(b) and valid(c)]
    base = [b["metrics"][name]["value"] for b, _ in pairs]
    change = [c["metrics"][name]["value"] for _, c in pairs]
    wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
    change_lost = sum(valid(b) and not valid(c) for b, c in results)
    bm, cm = statistics.median(base), statistics.median(change)
    bq, cq = quartiles(base), quartiles(change)
    iqr = bq[1] - bq[0]
    rel = (cm - bm) / bm if bm else 0.0
    worse = rel if lower else -rel
    gain = (cm < bm) if lower else (cm > bm)
    return {
        "metric": name, "pairs": len(results), "valid_pairs": len(pairs),
        "base_median": bm, "base_q1": bq[0], "base_q3": bq[1],
        "change_median": cm, "change_q1": cq[0], "change_q3": cq[1],
        "change_wins": wins, "relative_change": rel,
        "inside_bound": worse <= metric["bound"],
        "gain_proven": (gain and len(results) >= 10 and wins >= 0.9 * len(results)
                        and abs(cm - bm) > iqr and change_lost == 0),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    a = ap.parse_args()
    if a.pairs < 10:
        log("note: with fewer than 10 pairs no gain is proven")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    shas = {"base": resolve(a.base), "change": resolve(a.change)}
    dirs = {side: checkout(sha) for side, sha in shas.items()}
    for side in ("base", "change"):
        log(f"warm-up {side} ({shas[side][:12]})")
        run_once(dirs[side], a.workload, a.seed - 1, seconds)

    raw_path = os.path.join(AB_DIR, f"{shas['base'][:12]}-{shas['change'][:12]}-{a.workload}.jsonl")
    results = []
    with open(raw_path, "w") as raw:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            res = {}
            for side in order:
                r = run_once(dirs[side], a.workload, seed, seconds)
                res[side] = r
                raw.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                      "sha": shas[side], "result": r}) + "\n")
                raw.flush()
            ok = valid(res["base"]) and valid(res["change"])
            log(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): "
                + ("ok" if ok else "INVALID (missing, incorrect or failed run)") + "  "
                + "  ".join(f"{m['name']} {res['base']['metrics'][m['name']]['value']:.4g}"
                            f" -> {res['change']['metrics'][m['name']]['value']:.4g}"
                            for m in metrics if ok))
            results.append((res["base"], res["change"]))

    n_valid = sum(valid(b) and valid(c) for b, c in results)
    invalid = {"base": sum(not valid(b) for b, _ in results),
               "change": sum(not valid(c) for _, c in results)}
    print(f"{a.workload}: {shas['base'][:12]} (base) vs {shas['change'][:12]} (change), "
          f"{n_valid}/{a.pairs} valid pairs, invalid runs: base {invalid['base']},"
          f" change {invalid['change']}")
    if not n_valid:
        log("no valid pair")
        sys.exit(1)
    summary = [summarize(m, results) for m in metrics]
    for s in summary:
        print(f"  {s['metric']}: {s['base_median']:.4g} [{s['base_q1']:.4g}, {s['base_q3']:.4g}]"
              f" -> {s['change_median']:.4g} [{s['change_q1']:.4g}, {s['change_q3']:.4g}]"
              f" ({s['relative_change']:+.1%}), change wins {s['change_wins']}/{s['pairs']},"
              f" {'inside' if s['inside_bound'] else 'OUTSIDE'} bound,"
              f" gain {'proven' if s['gain_proven'] else 'not proven'}")
    print(json.dumps({"workload": a.workload, "base": shas["base"], "change": shas["change"],
                      "run_seconds": seconds, "invalid_runs": invalid,
                      "raw": os.path.relpath(raw_path, ROOT), "metrics": summary}))


if __name__ == "__main__":
    main()
