"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The workload seed generates the inputs;
the program under test only sees those inputs. All Spark work happens
in a child process (worker.py) whose whole process tree (driver, JVM,
Python workers) is sampled here for peak RSS, stopped, and waited for
before the result is printed. Everything the run writes stays under
``.bench_build/perfbench`` in the current directory.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
is a detail record (host shape, failures, per-query and per-pipeline
figures, null reasons).
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
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from metrics import END_TO_END, per_layer_spec  # noqa: E402

CHILD_TIMEOUT_S = 150.0
SAMPLE_EVERY_S = 0.5
DRIVER_MEM = "4g"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the process tree, with pages shared between
    processes (forked Python workers) counted once: the sum of PSS."""
    total = 0
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Terminate every process of the child's group and wait for it."""
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait
        while group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def child_env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    return env


def run_child(args, root: str, work: str, input_dir: str) -> tuple[int | None, float]:
    """Run worker.py; returns (exit code or None on timeout, peak RSS MB)."""
    out_file = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), args.workload,
        str(args.seed), str(args.seconds), str(args.trace), input_dir, work, out_file,
    ]
    peak = 0
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=child_env(root, work), stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                peak = max(peak, tree_rss_bytes(proc.pid))
                time.sleep(SAMPLE_EVERY_S)
            code = proc.poll()
        finally:
            stop_group(proc.pid)
            proc.wait()
    return code, peak / 2**20


def assemble(res: dict, args, peak_mb: float) -> tuple[dict, dict]:
    """The detail record and the result line for a worker result.

    Every declared metric is printed. A metric the worker did not
    measure is printed as ``null`` with a reason, never as 0, and makes
    the run incorrect."""
    if args.trace:
        units = {m["name"]: m["unit"] for m in per_layer_spec()}
        res["metrics"]["host.peak_rss_mb"] = peak_mb
    else:
        units = {k: u for k, (u, _) in END_TO_END.items()}
    metrics = {}
    for name, unit in units.items():
        value = res["metrics"].get(name)
        metrics[name] = {"value": value, "unit": unit}
        if value is None:
            metrics[name]["reason"] = res["null_reasons"].get(name, "not measured")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "peak_rss_mb": round(peak_mb, 1),
        "failed_frac": res["failed"] / max(res["attempted"], 1),
        "failures": res["failures"], **res["detail"],
    }
    line = {
        "correct": res["failed"] == 0 and all(m["value"] is not None for m in metrics.values()),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return detail, line


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its worker's process tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rstreams_spark", "__init__.py")):
        print("perfbench: run from the repository root (rstreams_spark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = os.path.join(work, "inputs")
    if args.workload in W.BATCH_WORKLOADS:
        W.make_batch_inputs(input_dir, args.seed)

    code, peak_mb = run_child(args, root, work, input_dir)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        print(f"perfbench: worker exited with {code}; see {work}/worker.log", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)
    shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)

    detail, line = assemble(res, args, peak_mb)
    print(json.dumps(detail))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
