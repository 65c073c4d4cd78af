"""graft's benchmark: closed-loop workloads over the registry queries, the
standing-index ingest calls and the streaming ingest, with every op's output
checked against a stored fingerprint.

    python3 perfbench/run.py --workload mix --seed 1 --seconds 10 --trace 0

Builds graft from source on first use (perfbench/build.py), runs one JVM
with a local[N] session, N = the cores this process may use, prints every
metric by name and unit, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end_to_end metrics of
BENCHMARK.json with --trace 0, its per_layer metrics with --trace 1.
`--record` rewrites perfbench/expected.json from the current code instead.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

DEADLINE_S = 170
DATA = "data/sf0.01"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def unit_of(name, units):
    """The unit BENCHMARK.json gives a metric, else one read off its name."""
    if name in units:
        return units[name]
    for suffix, unit in (("ns_per_row", "ns/row"), ("ops_per_s", "1/s"), ("_ms_per_op", "ms/op"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "ratio" if any(w in name for w in ("ratio", "rate", "share", "per_input")) else "count"


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    root = build.ROOT
    bench = json.loads((root / "BENCHMARK.json").read_text())
    spec_path = build.BENCH / "workloads.json"
    spec = json.loads(spec_path.read_text())
    if args.workload not in spec:
        fail(f"unknown workload {args.workload}; have {sorted(spec)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    built = time.monotonic()

    cores = len(os.sched_getaffinity(0))
    work = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    expected = build.BENCH / "expected.json"
    props = [f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dspark.local.dir={work / 'local'}",
             f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
             f"-Dderby.stream.error.file={work / 'derby.log'}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             # keeps the JIT compiler threads alive for the whole run, so
             # their CPU time can be told apart from the rest (cpu_ms_per_op)
             "-XX:-UseDynamicNumberOfCompilerThreads"]
    cmd = build.java_cmd(classpath, "perfbench.Main", props=props) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--spec", str(spec_path),
        "--expected", str(expected), "--data", str(build.BENCH / DATA),
        "--work", str(work)]
    spans = build.BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    if args.trace:
        cmd += ["--spans", str(spans)]
    if args.record:
        cmd += ["--record", str(expected)]
    # a run that had to compile first gets the full deadline after the build
    budget = DEADLINE_S - (time.monotonic() - (built if built - t_start > 5 else t_start))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {DEADLINE_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    if args.record:
        print(f"perfbench: recorded fingerprints into {expected}")
        return

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result")
    res = json.loads(lines[-1])
    measured = res["metrics"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {missing}")

    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"trace={args.trace} attempted={res['attempted']} failed={res['failed']}")
    for k, v in measured.items():
        print(f"  {k:<44} {v:>16.6g} {unit_of(k, units)}")
    print("detail " + json.dumps(res["detail"], sort_keys=True))
    if args.trace:
        print(f"spans written to {spans}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
