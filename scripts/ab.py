#!/usr/bin/env python3
"""Interleaved A/B of the end-to-end benchmark, or of graft.Probe, between two source states.

    python3 scripts/ab.py --base HEAD~1 --workload registry_mix
    python3 scripts/ab.py --base main --workload registry_mix:10 --workload curate_ckpt:4
    python3 scripts/ab.py --base HEAD --head HEAD --workload registry_mix:4   # A/A
    SPARK_GRAFT_SF_DIR=<sf0.1 data dir> SPARK_GRAFT_CPUS=4 \
        python3 scripts/ab.py --base HEAD~1 --probe q_jaro,q_psi --pairs 2

Run from the repository root. `--base` (and `--head`, if given) is a git
revision, exported with `git archive` into its own directory under
--workdir (an export already there is reused); without `--head` the B side
is this working tree, uncommitted edits included. Each side builds itself
the first time e2ebench/run.py runs in it (cached under its own
.bench_build/).

Pair i runs both sides on seed `--seed + i` for BENCHMARK.json's
run_seconds, alternating which side goes first (ABBA), so a drift in host
load lands on both sides alike. A workload without `:pairs` gets 10 pairs.
Every run records the CPU steal share of the whole run from /proc/stat. For each
end-to-end metric in BENCHMARK.json the summary prints the median of each
side, the A side's interquartile range, the median paired ratio B/A and the
sign count (pairs in which B was better). "gain" marks a metric, over at
least 10 pairs, on which B was better in at least 9 of 10 pairs and whose
median moved by more than the A side's IQR. Each run is also appended as one JSON line to
<workdir>/runs.jsonl.

With `--probe q1,q2,...` each run is instead one `sbt runMain graft.Probe`
over the named queries, `--pairs` pairs ABBA with steal per run; Probe's
environment (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM) is
passed through as set. The queries are grouped by operator family
(scripts/scale_summary.py), and each family's first query is probed once
more before the family as a throwaway, since the first query of a family
runs slower (Probe's warm-up covers the session, not each family). Per
query the summary prints the A side's maximum jobs over its runs and the
B side's, the median exec_s of each side, the micro-batch counts seen on
each side, and whether every run on both sides has the same final plan
text once the numbering that varies between runs of one plan is masked
(see MASKS). Records go to <workdir>/probe_runs.jsonl, and each distinct
masked plan to <workdir>/plans/<query>.<side>.<k>.txt.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpu_ticks() -> list:
    """The machine's aggregate CPU tick counters from /proc/stat."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(t0: list, t1: list) -> float:
    """Share of CPU ticks stolen by the hypervisor between two readings."""
    if len(t0) < 8 or len(t1) < 8:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def export(rev: str, dest: Path) -> Path:
    """A copy of the tree at `rev` in `dest` (no git metadata, no build
    outputs, so nothing is shared with the working tree's builds)."""
    if not dest.is_dir():
        dest.mkdir(parents=True)
        archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                                 stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced e2ebench run in `tree`; its metrics, steal and wall.
    Steal covers the whole run, setup included (run.py's own steal_frac
    covers only the timed window, and setup_s is an end-to-end metric)."""
    t0, w0 = cpu_ticks(), time.monotonic()
    r = subprocess.run([sys.executable, "e2ebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    out = {"steal": steal_frac(t0, cpu_ticks()), "wall_s": time.monotonic() - w0}
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        return dict(out, error=f"exit {r.returncode}: {r.stderr.strip()[-500:]}")
    last = json.loads(lines[-1])
    return dict(out, correct=last["correct"],
                metrics={k: v["value"] for k, v in last["metrics"].items()})


def probe_args(queries: list) -> list:
    """Probe's argument list: `queries` grouped by family in first-seen
    order, each family led by a throwaway run of its first query."""
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from scale_summary import family_of
    groups = {}
    for q in queries:
        groups.setdefault(family_of(q), []).append(q)
    return [q for g in groups.values() for q in [g[0]] + g]


def probe_once(tree: Path, args: list) -> dict:
    """One graft.Probe run in `tree`; the last record of each query (a
    throwaway's record is superseded), steal and wall."""
    t0, w0 = cpu_ticks(), time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "runMain graft.Probe " + " ".join(args)],
                       cwd=tree, capture_output=True, text=True)
    out = {"steal": steal_frac(t0, cpu_ticks()), "wall_s": time.monotonic() - w0}
    recs = {}
    for line in r.stdout.splitlines():
        if line.startswith("{"):
            rec = json.loads(line)
            recs[rec["query"]] = rec
    if not recs:
        return dict(out, error=f"exit {r.returncode}: {r.stderr.strip()[-500:]}")
    return dict(out, records=recs)


# Numbering and names that differ between runs of one plan: expression
# ids, exchange plan ids, AQE query-stage and whole-stage-codegen numbers
# (assigned in the order stages materialize), and scratch paths (pid and
# temp-dir suffixes, whose length decides whether Spark truncates the
# path, and so whether its closing bracket is printed).
MASKS = [(re.compile(r"#\d+"), "#"), (re.compile(r"plan_id=\d+"), "plan_id="),
         (re.compile(r"QueryStage \d+"), "QueryStage n"), (re.compile(r"\*\(\d+\)"), "*(n)"),
         (re.compile(r"graft-scratch/[^\s,\]]*\]?"), "graft-scratch/*")]


def masked(plan: str) -> str:
    for rx, rep in MASKS:
        plan = rx.sub(rep, plan)
    return plan


def summarize_probe(queries: list, pairs: list, work: Path) -> None:
    runs = {"A": [a for a, _ in pairs], "B": [b for _, b in pairs]}
    (work / "plans").mkdir(exist_ok=True)
    print(f"\n{'query':<28}{'jobs A max':>11}{'B max':>7}{'exec A':>9}{'exec B':>9}"
          f"{'batches A':>11}{'B':>7}  plan")
    for q in queries:
        recs = {side: [r["records"].get(q, {"status": "missing"}) for r in rs if "records" in r]
                for side, rs in runs.items()}
        bad = [r for side in recs.values() for r in side if r.get("status") != "ok"]
        if bad or not recs["A"] or not recs["B"]:
            print(f"{q:<28} not ok: {[r.get('status') for r in bad]} {bad[0].get('error', '') if bad else ''}")
            continue
        plans = {}
        for side, rs in recs.items():
            texts = sorted({masked(r["plan"]) for r in rs})
            plans[side] = texts
            for k, t in enumerate(texts):
                (work / "plans" / f"{q}.{side}.{k}.txt").write_text(t)
        same = "same" if len(set(plans["A"]) | set(plans["B"])) == 1 else \
            f"DIFF (A {len(plans['A'])} text(s), B {len(plans['B'])})"
        jobs = {side: max(r["jobs"] for r in rs) for side, rs in recs.items()}
        ex = {side: statistics.median(float(r["exec_s"]) for r in rs) for side, rs in recs.items()}
        bt = {side: "/".join(sorted({str(r["batches"]) for r in rs})) for side, rs in recs.items()}
        print(f"{q:<28}{jobs['A']:>11}{jobs['B']:>7}{ex['A']:>9.3f}{ex['B']:>9.3f}"
              f"{bt['A']:>11}{bt['B']:>7}  {same}")
    steal = [f"{r['steal'] * 100:.1f}" for pair in pairs for r in pair]
    print(f"steal % per run (pair order A,B): {' '.join(steal)}")


def quartiles(xs: list) -> tuple:
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], q[2]


def summarize(workload: str, pairs: list, spec: list) -> None:
    ok = [(a, b) for a, b in pairs if "metrics" in a and "metrics" in b]
    print(f"\n{workload}: {len(ok)} complete pairs of {len(pairs)}")
    if not ok:
        return
    print(f"{'metric':<11}{'A median':>11}{'A IQR':>17}{'B median':>11}"
          f"{'B/A':>8}{'B better':>10}")
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        av = [a["metrics"][name] for a, _ in ok]
        bv = [b["metrics"][name] for _, b in ok]
        ratios = [b / a for a, b in zip(av, bv) if a]
        better = sum((b < a) if lower else (b > a) for a, b in zip(av, bv))
        lo, hi = quartiles(av)
        moved = (statistics.median(av) - statistics.median(bv)) * (1 if lower else -1)
        gain = len(ok) >= 10 and better >= 0.9 * len(ok) and moved > hi - lo
        ratio = statistics.median(ratios) if ratios else float("nan")
        print(f"{name:<11}{statistics.median(av):>11.4f}  [{lo:.3f}-{hi:.3f}]"
              f"{statistics.median(bv):>11.4f}{ratio:>8.3f}{better:>6}/{len(ok)}"
              f"{'  gain' if gain else ''}")
    steal = [f"{r['steal'] * 100:.1f}" for pair in pairs for r in pair]
    print(f"steal % per run (pair order A,B): {' '.join(steal)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the A side")
    ap.add_argument("--head", help="git revision of the B side (default: this working tree)")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", action="append",
                      help="workload name, or name:pairs (default 10 pairs); repeatable")
    mode.add_argument("--probe", help="comma-separated registry queries to run graft.Probe on")
    ap.add_argument("--pairs", type=int, default=2, help="--probe: number of ABBA pairs")
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--workdir", help="where the exported trees and runs.jsonl go "
                                      "(default: a new directory under the system temp dir)")
    args = ap.parse_args()

    work = Path(args.workdir or tempfile.mkdtemp(prefix="graft-ab-")).resolve()
    work.mkdir(parents=True, exist_ok=True)
    sides = {"A": export(args.base, work / "base")}
    sides["B"] = export(args.head, work / "head") if args.head else ROOT
    bench = json.loads((sides["B"] / "BENCHMARK.json").read_text())
    log = work / "runs.jsonl"
    print(f"A = {args.base} in {sides['A']}\nB = {args.head or 'working tree'} in {sides['B']}")

    if args.probe:
        queries = args.probe.split(",")
        plist, pairs = probe_args(queries), []
        print(f"probe arguments: {' '.join(plist)}")
        for i in range(args.pairs):
            pair = {}
            for side in (("A", "B") if i % 2 == 0 else ("B", "A")):
                r = probe_once(sides[side], plist)
                pair[side] = r
                with open(work / "probe_runs.jsonl", "a") as f:
                    f.write(json.dumps(dict(r, pair=i, side=side)) + "\n")
                print(f"probe pair {i} {side}: wall {r['wall_s']:.1f} s "
                      f"steal {r['steal'] * 100:.1f}% {r.get('error', '')}", flush=True)
            pairs.append((pair["A"], pair["B"]))
        summarize_probe(queries, pairs, work)
        return 0

    results = {}
    for wl in args.workload:
        name, _, n = wl.partition(":")
        pairs = []
        for i in range(int(n or 10)):
            seed = args.seed + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            pair = {}
            for side in order:
                r = run_once(sides[side], name, seed, bench["run_seconds"])
                pair[side] = r
                rec = dict(r, workload=name, pair=i, seed=seed, side=side)
                with open(log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                shown = r.get("metrics", {}).get("op_s.p50", float("nan"))
                print(f"{name} pair {i} seed {seed} {side}: op_s.p50 {shown:.3f} "
                      f"steal {r['steal'] * 100:.1f}% {r.get('error', '')}", flush=True)
            pairs.append((pair["A"], pair["B"]))
        results[name] = pairs
    for name, pairs in results.items():
        summarize(name, pairs, bench["end_to_end"])
    print(f"\nruns: {log}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
