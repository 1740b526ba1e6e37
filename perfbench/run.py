"""Benchmark entry point. Run from the root of a source checkout:

    python3 perfbench/run.py --workload sor_mixed --seed 1 --seconds 8 --trace 0

Pins the environment, runs one workload in a child Spark process (its own
session, so every JVM and Python worker it starts is stopped and reaped
here), samples the process tree's resident memory, prints a readable
report, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
CHILD_TIMEOUT_S = 165


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _session_pids(sid: int):
    """Processes of session ``sid`` (the child and everything it started)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            out.append(int(d))
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _reap(sid: int) -> None:
    """Stop every process left in the child's session and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.05)


def environment(work: str) -> dict:
    """The pinned environment: every value a result depends on."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # 1 GiB serves these inputs with room to spare; a smaller heap also
    # keeps the tree's resident size from drifting with GC timing. Boxes
    # under 4 GiB are not supported.
    if mem_kb < 4 * 1024 * 1024:
        _die("needs at least 4 GiB of memory")
    driver_gb = 1
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip(),
    }


def source_digest() -> str:
    """Digest of the engine sources (the checkout need not be a git repo)."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, "emodb_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_child(args, work: str, env_pin: dict) -> tuple:
    env = dict(os.environ)
    env.update(env_pin)
    for d in (env_pin["SPARK_LOCAL_DIRS"], env_pin["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, "-m", "perfbench.bench", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--out", out]
    if args.tiny:
        cmd.append("--tiny")
    log_path = os.path.join(work, "child.log")
    peak = 0
    with open(log_path, "wb") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        try:
            while child.poll() is None and time.monotonic() < deadline:
                peak = max(peak, _rss_bytes(_session_pids(child.pid)))
                time.sleep(0.2)
        finally:
            _reap(child.pid)
            child.wait()
    result = None
    if child.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    with open(log_path, errors="replace") as f:
        tail = f.read()[-4000:]
    return result, peak, tail


def report(res: dict, metrics: dict, env_pin: dict) -> None:
    """Human-readable lines (the last stdout line stays the JSON result)."""
    print(f"workload={res['workload']} seed={res['seed']} trace={int(res['trace'])} "
          f"cpus={env_pin['SPARK_GRAFT_CPUS']} driver_memory={env_pin['SPARK_DRIVER_MEMORY']} "
          f"pyspark={res['pyspark']} git={res['git_sha']} source={res['source_digest']}")
    print(f"  params: {json.dumps(res['params'])}")
    for kind, s in res["samples"].items():
        parts = " ".join(f"{k}={v:.1f}" for k, v in s.items() if k != "n")
        print(f"  latency[{kind}] n={s['n']} {parts} (ms)")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, v in res["wall"].items():
        print(f"  wall {name} = {v:.6g} ms (mix-weighted median latency)")
    print(f"  ops_per_s = {res['ops_per_s']:.4g} 1/s (closed loop, one client)")
    print(f"  peak_rss_mb = {res['peak_rss_mb']:.1f} MB (JVM and Python process tree)")
    print(f"  ops_failed_ratio = {res['failed'] / max(1, res['attempted']):.4g} "
          f"({res['failed']} of {res['attempted']})")
    for f in res["failures"]:
        print(f"  FAILED: {f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args()
    # a terminated run still unwinds, so the child's session is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "emodb_spark", "__init__.py")):
        _die("run from the root of a checkout that holds emodb_spark/")
    sys.path.insert(0, ROOT)
    from perfbench.bench import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    env_pin = environment(work)
    try:
        res, peak, tail = run_child(args, work, env_pin)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if res is None:
        sys.stderr.write(tail)
        _die("the benchmark run failed")

    res["git_sha"], res["source_digest"] = git_sha(), source_digest()
    res["env"] = env_pin
    if args.trace:
        res["layers"]["proc.peak_rss_mb"] = peak / 2**20
    res["peak_rss_mb"] = peak / 2**20
    names = PER_LAYER if args.trace else END_TO_END
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {n: {"value": float(values[n]), "unit": u} for n, (u, _b) in names.items()}
    report(res, metrics, env_pin)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
