#!/usr/bin/env python3
"""End-to-end benchmark of the graft library: checkpointed curation runs,
replays, and a registry query mix, each in a fresh JVM at local[4].

    python3 e2ebench/run.py --workload curate_ckpt --seed 1 --seconds 10 --trace 0
    python3 e2ebench/run.py --all            # every workload, one table

Run from the repository root. The first run builds the library and the
harness from source with sbt (cached under .bench_build/ by a hash of the
sources). Each run then generates its inputs from --seed, starts the harness
JVM, checks the first op's results against the DuckDB oracle, warms up,
measures for --seconds and prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

T_START = time.monotonic()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "e2ebench"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402

# Per workload: input scale, warm-up and window. `sf` scales the registry
# tables (sf0.1 = 5,000 documents), `curate_sf` the base curation corpus
# before `copies` salted copies are made. `warm` ops run after the cold first
# op (which is also the oracle op); the timed window then lasts --seconds and
# at least `min_ops` ops. After the cold op, curate ops fall from ~3.8 s to
# ~2.7 s over ~6 ops, so 3 warm ops and a median over 5+ timed ops sit on
# the flat end of the curve. A registry pass takes ~8-9 s and the one after
# the cold pass is still ~15% slow; a median over 3 passes drops it for less
# time than another warm pass would cost.
WORKLOADS = {
    "curate_ckpt": dict(sf=0.001, curate_sf=0.02, copies=4, warm=3, min_ops=5),
    "registry_mix": dict(sf=0.005, curate_sf=0.001, copies=1, warm=0, min_ops=3),
    "curate_replay": dict(sf=0.001, curate_sf=0.02, copies=4, warm=10, min_ops=5),
}
SMOKE = dict(sf=0.001, curate_sf=0.001, copies=2, warm=1, min_ops=1)
HEAP = "4g"

def fail(msg: str, code: int = 2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------- build

def _source_stamp() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile the library and the harness once per source state; return
    the harness's runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources next to {HERE.name}/ (expected build.sbt and src/main/scala "
             f"at {ROOT}); run from a full checkout")
    stamp = _source_stamp()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}", 3)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


# --------------------------------------------------------------------------- run

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(cp: str, run_dir: Path, data: Path, args, cfg: dict, deadline: float) -> dict:
    """Start the harness JVM, answer its oracle request, return its result
    plus the wall-clock setup time (process start to the first timed op)."""
    work = run_dir / "work"
    for d in ("tmp", "local", "warehouse", "stream"):
        (work / d).mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work / 'tmp'}",
           "-cp", cp, "e2ebench.Harness",
           "--workload", args.workload, "--data", str(data), "--work", str(work),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
           "--warm", str(cfg["warm"]), "--min-ops", str(cfg["min_ops"]),
           "--plant-bad-op", str(args.plant_bad_op)]
    with open(run_dir / "harness.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=err, text=True)
    res, bad, setup_end, oracle_s, cpu0 = None, None, None, 0.0, None
    # a harness that hangs is killed at the deadline, which ends the read loop
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if not line.startswith("E2E "):
                continue
            _, kind, body = line.rstrip("\n").split(" ", 2)
            msg = json.loads(body)
            if kind == "oracle":
                t0 = time.monotonic()
                bad = oracle.check(Path(msg["tables"]), Path(msg["dir"]), msg["sql"])
                proc.stdin.write("ok\n" if not bad else "fail " + " ".join(bad) + "\n")
                proc.stdin.flush()
                oracle_s = time.monotonic() - t0
            elif kind == "timing":
                setup_end = time.monotonic()
                cpu0 = cpu_ticks()
            elif kind == "result":
                res = msg
                res["steal_frac"] = steal_frac(cpu0, cpu_ticks())
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or res is None or setup_end is None:
        fail(f"harness failed (exit {proc.returncode}); see {run_dir / 'harness.log'}", 4)
    res["oracle_failed"] = bad
    res["setup_end"] = setup_end
    res["phases"]["duckdb_oracle"] = oracle_s
    return res


def cpu_ticks() -> list:
    """The machine's aggregate CPU tick counters from /proc/stat."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(t0: list, t1: list) -> float:
    """Share of CPU time the hypervisor gave to others between two
    readings (the 8th counter), a sign of a busy host."""
    if len(t0) < 8 or len(t1) < 8:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return xs[i]


def metrics_of(res: dict, setup_start: float, gen_s: float, trace: bool) -> dict:
    ops = res["op_s"]
    att, failed = res["attempted"], res["failed"]
    setup = res["setup_end"] - setup_start
    if not trace:
        return {
            "setup_s": (setup, "s", 1),
            "ops_per_s": (att / res["window_s"], "1/s", att),
            "op_s.p50": (statistics.median(ops), "s", len(ops)),
            "ok_frac": ((att - failed) / att, "fraction", att),
        }
    lay = res["layers"]
    traced = res["op_s_traced"]
    m = {
        "setup.session_s": (res["phases"]["session"], "s", 1),
        "setup.gen_s": (gen_s, "s", 1),
        "setup.oracle_s": (res["phases"]["oracle"], "s", 1),
        "setup.warm_s": (res["phases"]["warm"], "s", len(res["warm_s"])),
        "op_s.p90": (quantile(ops, 0.9), "s", len(ops)),
        "op_s.n": (len(ops), "count", len(ops)),
        "trace.overhead_frac": (statistics.median(traced) / statistics.median(ops) - 1
                                if traced and ops else 0.0, "fraction", len(traced)),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }
    # the RunLog stage times and the rest of the op add up to the mean
    # traced op time
    stage_sum = sum(lay.get(f"runner.stage_s.{s}", 0.0) for s in STAGES)
    lay = dict(lay, **{"op_s.traced_mean": lay.get("op_s", 0.0), "runner.stage_s.sum": stage_sum})
    if stage_sum:
        lay["runner.unattributed_s"] = lay["op_s.traced_mean"] - stage_sum
    for name, unit in PER_LAYER.items():
        if name not in m:
            m[name] = (lay.get(name, 0.0), unit, len(traced))
    return m


STAGES = ("quality_gate", "lang_gate", "exact_dedup", "hash_sample", "rollup")


def _per_layer() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else {}
    return {m["name"]: m["unit"] for m in spec.get("per_layer", [])}


PER_LAYER = _per_layer()


def run_one(args) -> int:
    cfg = SMOKE if args.smoke else WORKLOADS[args.workload]
    cp = build()
    setup_start = time.monotonic()
    deadline = setup_start + 165
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.monotonic()
        gen.generate(run_dir / "data", args.seed, cfg["sf"], cfg["curate_sf"], cfg["copies"])
        gen_s = time.monotonic() - t0
        res = run_harness(cp, run_dir, run_dir / "data", args, cfg, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    m = metrics_of(res, setup_start, gen_s, bool(args.trace))
    correct = res["oracle_failed"] == [] and res["failed"] == 0
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "oracle_failed": res["oracle_failed"],
              "loadavg_start": res["loadavg_start"], "loadavg_end": res["loadavg_end"],
              "steal_frac": round(res["steal_frac"], 4),
              "samples": {k: n for k, (_, _, n) in m.items()},
              "phases": res["phases"], "warm_s": res["warm_s"], "op_s": res["op_s"]}
    if args.trace:
        traces = BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-{args.seed}.json").write_text(json.dumps(
            {"detail": detail, "layers": res["layers"], "spans": res["spans"]}))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in m.items()}}))
    return 0


def run_all(args) -> int:
    """Every workload once, untraced; a table of the end-to-end metrics with
    units and sample counts."""
    rows = []
    for wl in WORKLOADS:
        r = subprocess.run([sys.executable, __file__, "--workload", wl, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"{wl}: failed (exit {r.returncode})\n{r.stderr[-2000:]}")
            return r.returncode
        lines = r.stdout.strip().splitlines()
        detail, last = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        for k, v in last["metrics"].items():
            rows.append((wl, k, v["value"], v["unit"], detail["samples"][k], detail["loadavg_start"]))
    print(f"{'workload':<15}{'metric':<11}{'value':>12} {'unit':<9}{'n':>4}  loadavg")
    for wl, k, v, u, n, la in rows:
        print(f"{wl:<15}{k:<11}{v:>12.4f} {u:<9}{n:>4}  {la}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--plant-bad-op", type=int, default=-1, help=argparse.SUPPRESS)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
