"""CDC replay benchmark entry point.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload bulk_catchup --seed 1 --seconds 10 --trace 0

Builds the workload's seeded inputs once per seed (cached under
``.perfbench_cache``, untimed), runs the measurement in a child process
(``worker.py``) with the package imported from this checkout, stops every
process the run started, and prints the input fingerprint on one line and
the result JSON as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate traced run that reports
the per-layer metrics. All files the run writes stay inside the checkout.
Exits non-zero without a result when the package or inputs are missing,
the run fails, or it overruns its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_catchup", "trickle_cow", "serve_mor")
RUN_LIMIT_S = 170.0


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _run(cmd: list[str], env: dict, timeout: float, capture: bool) -> tuple[int, str]:
    """Run ``cmd`` in its own process group; on return or timeout kill
    whatever is left of the group and wait until it is gone."""
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, start_new_session=True,
        stdout=subprocess.PIPE if capture else sys.stderr, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        code = -9
        print(f"perfbench: {cmd[1]} exceeded {timeout:.0f}s, killed", file=sys.stderr)
    deadline = time.time() + 20
    while _group_alive(proc.pid):
        if time.time() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = time.time() + 20
        time.sleep(0.1)
    return code, out or ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "logminer_kafka_connect_spark", "__init__.py")):
        print(f"perfbench: no logminer_kafka_connect_spark package under {ROOT}", file=sys.stderr)
        return 2

    cache_root = os.path.join(ROOT, ".perfbench_cache")
    work_root = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work_root, "tmp")
    for d in (cache_root, tmp, os.path.join(work_root, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work_root, "spark-local"),
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_CPUS", None)

    cache_dir = os.path.join(cache_root, f"{args.workload}-{args.seed}")
    if not os.path.exists(os.path.join(cache_dir, "fingerprint.json")):
        code, _ = _run(
            [sys.executable, os.path.join(HERE, "inputs.py"), cache_dir, args.workload,
             str(args.seed)],
            env, RUN_LIMIT_S - (time.time() - t_start), capture=True,
        )
        if code != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            return 1

    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        code, out = _run(
            [sys.executable, os.path.join(HERE, "worker.py"), args.workload, str(args.seed),
             str(args.seconds), str(args.trace), cache_dir, work_dir],
            env, RUN_LIMIT_S - (time.time() - t_start), capture=True,
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        print(f"perfbench: worker exited with code {code}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    inputs = result.pop("inputs")
    print("# inputs " + json.dumps(inputs, sort_keys=True))
    baseline = _baseline_fingerprint(args.workload, args.seed)
    if baseline is not None and baseline != inputs["hash"]:
        print(f"# NOT COMPARABLE: input hash {inputs['hash']} differs from the recorded "
              f"{baseline} for {args.workload} seed {args.seed}")
    print(json.dumps(result))
    return 0


def _baseline_fingerprint(workload: str, seed: int) -> str | None:
    path = os.path.join(HERE, "fingerprints.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get(f"{workload}:{seed}")


if __name__ == "__main__":
    sys.exit(main())
