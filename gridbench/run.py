"""Benchmark entry point.

    python3 gridbench/run.py --workload grid --seed 1 --seconds 8 --trace 0

Run from the repository root. Launches ``workloads.py`` in a child process
with the settings the host would otherwise vary pinned (cores, driver
heap, fresh scratch/checkpoint/Spark local dirs, UTC), writes a
self-identifying run record under ``.gridbench/records/``, prints it, and
prints one JSON result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload traced (Spark event log on, spans and job groups set) and reports
the per-layer metrics, the jobs it could not attribute, and the tracing
overhead: traced minus untraced measured time, the untraced time being the
median of this code's untraced runs recorded in the checkout (one untraced
run is made first when there is none).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
PACKAGE = "insight_de_smart_grid_spark"
sys.path.insert(0, str(HERE))

from metrics import LAYER_FIELDS, end_to_end, named_metrics  # noqa: E402

WORKLOADS = ("grid", "curation_ingest")
CPUS = 4
DRIVER_MEM = "2g"
# every invocation ends within 180 s, children included
RUN_BUDGET_S = 176


def git_identity() -> "dict[str, object]":
    """Commit and dirty flag when the tree is a git checkout, plus a hash
    of the package and benchmark sources, which identifies the code even
    where there is no git."""
    h = hashlib.sha256()
    for base in (ROOT / PACKAGE, HERE):
        for p in sorted(base.rglob("*.py")):
            h.update(f"{base.name}/{p.relative_to(base)}".encode())
            h.update(p.read_bytes())
    ident: "dict[str, object]" = {"source_sha256": h.hexdigest(),
                                  "git_sha": None, "git_dirty": None}
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(["git", "status", "--porcelain"],
                                   cwd=ROOT, capture_output=True, text=True,
                                   timeout=10)
            ident["git_sha"] = sha.stdout.strip()
            ident["git_dirty"] = bool(dirty.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        pass
    return ident


def child_env(scratch: Path, trace: bool) -> "dict[str, str]":
    """The launch environment: pinned cores and heap (the package sizes
    the heap from MemAvailable otherwise), UTC, and every scratch
    location inside this run's directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = scratch / "tmp"
    local = scratch / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        log = scratch / "eventlog"
        log.mkdir(parents=True, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{log}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    env.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit) + " pyspark-shell",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYTHONHASHSEED": "0",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (the child, the Spark JVM and its
    Python workers) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_child(args, trace: bool, runs_dir: Path, deadline: float) -> dict:
    """One workload run in a fresh child process and scratch dir, killed
    at ``deadline`` (a ``time.monotonic`` value); the scratch dir is
    deleted afterwards whatever happens."""
    scratch = Path(tempfile.mkdtemp(prefix=f"{args.workload}-",
                                    dir=runs_dir))
    out = scratch / "result.json"
    log = scratch / "child.log"
    env = child_env(scratch, trace)
    cmd = [sys.executable, str(HERE / "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(trace)),
           "--scratch", str(scratch), "--out", str(out)]
    try:
        with log.open("w") as fh:
            proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0,
                                             deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # the JVM and Python workers share the child's session
                stop_group(proc)
        if code != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            raise RuntimeError(
                f"workload child exited with {code}:\n" + "\n".join(tail))
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def per_layer(traced: dict, untraced_wall_s: float) -> "dict[str, dict]":
    """The per-layer metrics of a traced run, with the tracing overhead:
    its measured time against ``untraced_wall_s``."""
    out: "dict[str, dict]" = {}

    def put(name: str, value: float) -> None:
        field = name.rsplit(".", 1)[-1]
        if field in LAYER_FIELDS:
            unit = {"calls": "count", "jobs": "count", "tasks": "count",
                    "shuffle_bytes": "B", "spill_bytes": "B"}.get(field, "ms")
        elif name.endswith("_ms"):
            unit = "ms"
        elif name.endswith("_s"):
            unit = "s"
        elif name.endswith("_bytes"):
            unit = "B"
        elif "share" in name or "per_" in name:
            unit = "ratio"
        else:
            unit = "count"
        out[name] = {"value": value, "unit": unit}

    for k, v in traced["layers"].items():
        put(k, v)
    for k, v in traced["streaming"].items():
        put(k, v)
    for k in ("index.manifest_versions_per_batch", "index.live_files",
              "index.bytes_per_input_byte", "index.jobs_per_batch"):
        put(k, traced["index"].get(k, 0.0))
    for k, v in traced["setup"].items():
        put(k, v)
    put("trace.unattributed_jobs", traced["unattributed_jobs"])
    out["trace.overhead_pct"] = {
        "value": (traced["measure_wall_s"] - untraced_wall_s)
        / untraced_wall_s * 100.0, "unit": "%"}
    return out


def untraced_wall(records: Path, args, source_sha: str) -> "float | None":
    """Median measured time of the untraced runs of this workload, work
    size and code recorded in this checkout, or None."""
    walls = []
    for p in records.glob(f"{args.workload}-*-trace0-*.json"):
        r = json.loads(p.read_text())
        if (r["seconds"] == args.seconds and r["failed"] == 0
                and r["code"]["source_sha256"] == source_sha):
            walls.append(r["measure_wall_s"])
    return statistics.median(walls) if walls else None


def versions() -> "dict[str, str]":
    import duckdb
    import pyspark
    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"gridbench: no {PACKAGE}/ package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    state = ROOT / ".gridbench"
    runs_dir = state / "runs"
    records = state / "records"
    for d in (runs_dir, records):
        d.mkdir(parents=True, exist_ok=True)

    started = time.time()
    deadline = time.monotonic() + RUN_BUDGET_S
    code = git_identity()
    if args.trace:
        # the overhead baseline: this code's untraced runs, or one now
        baseline = untraced_wall(records, args, code["source_sha256"])
        if baseline is None:
            baseline = run_child(args, False, runs_dir,
                                 deadline)["measure_wall_s"]
        res = run_child(args, True, runs_dir, deadline)
        metrics_out = per_layer(res, baseline)
    else:
        res = run_child(args, False, runs_dir, deadline)
        metrics_out = end_to_end(res)

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                     time.gmtime(started)),
        "host": {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": str(CPUS),
                 "spark.driver.memory": res["spark_driver_memory"],
                 "java": res["java_version"], **versions()},
        "code": code,
        "env": res["graft_env"],
        "input_sha256": res["input_hash"],
        "attempted": res["attempted"], "failed": res["failed"],
        "errors": res["errors"],
        "setup": res["setup"],
        "measure_wall_s": res["measure_wall_s"],
        "check_s": res["check_s"],
        "metrics": named_metrics(res),
        "samples": res["samples"],
        "reported": metrics_out,
    }
    if args.trace:
        record["jobs"] = res["jobs"]
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{int(started)}.json")
    (records / name).write_text(json.dumps(record, indent=1))
    if args.trace:
        (records / name.replace(".json", ".spans.json")).write_text(
            json.dumps(res["spans"]))

    print(f"run record: .gridbench/records/{name}")
    for k, m in sorted(record["metrics"].items()):
        print(f"  {args.workload}/{k} = {m['value']:.4f} {m['unit']} "
              f"(n={m['n']})")
    for k, m in sorted(metrics_out.items()):
        if m["value"] is None:
            print(f"  {args.workload}/{k}: no samples (n=0)")
    for e in res["errors"]:
        print(f"  FAILED {e.splitlines()[0]}")
    # a metric with no samples and no failure to explain it is wrong too
    correct = res["failed"] == 0 and all(
        m["value"] is not None for m in metrics_out.values())
    verdict = "correct" if correct else "INCORRECT"
    print(f"  {verdict}: {res['failed']} failed of {res['attempted']} "
          "attempted, checked against DuckDB")
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics_out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
