"""Benchmark of the engine's public entry points, run from the repository root:

    python3 layerbench/run.py --workload video_e2e --seed 1 --seconds 10 --trace 0

Workloads (each closed loop, one client):

- ``video_e2e``: one op is one ``cli.main(argv, spark=session)`` run of the
  paper's mainline (``--mode crop_video --cloud --sequence-length 2000
  --period 1000``) over a seeded manifest, writing sharded TFRecords to a
  fresh directory.
- ``queries``: one op is one registered query (query-function call, forced
  executed plan, ``noop`` sink). Each pass runs, in a seeded order, nine
  cheap driver-floor queries and four heavy ones (wedge pair generation,
  shingle and n-gram Arrow kernels, embedding top-k).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a separate traced run (see ``tracing.py``). The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
A full record of every run (op times, checks, per-query layers, plan
fingerprints, provenance) is written under ``.layerbench_work/records/``;
``compare.py`` diffs two of them.

The run pins its own environment (cores, heap, PYTHONPATH, local dirs) and
keeps every file it writes under ``.layerbench_work/``.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from worker import quantile, write_json  # noqa: E402

WORKLOADS = {
    "video_e2e": "the CLI mainline: decode, inference, sequence assembly, proto encode, TFRecord sink",
    "queries": "registered queries: driver floor (construction, planning) and heavy kernels",
}
#: Fresh interpreter launches per run whose set-up time is the median
#: ``setup_s``; the workload's own launch is one of them.
SETUP_LAUNCHES = 2
VIDEO_FILES = 800
QUERY_SF = 0.001
DRIVER_MEM = "6g"
RUN_DEADLINE_S = 170.0
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    "plans.py4j_calls": "count",
    "plans.floor_op_s": "s",
    "plans.floor_build_plan_s": "s",
    "plans.heavy_op_s": "s",
    "plans.heavy_eager_exec_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "operators.filenames_s": "s",
    "operators.split_s": "s",
    "ml.video.decode_s": "s",
    "ml.video.frames": "count",
    "ml.video.decode_runs": "count",
    "ml.inference_s": "s",
    "operators.sequence_s": "s",
    "operators.sequence.sequences": "count",
    "sources.tfrecord.encode_s": "s",
    "operators.shuffle_s": "s",
    "sources.tfrecord.sink_s": "s",
    "sources.tfrecord.bytes_per_item": "B",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_ms": "ms",
    "exec.python_total_s": "s",
    "exec.python_boot_s": "s",
    "exec.python_bytes_sent": "B",
    "exec.storage_mem_bytes": "B",
    "exec.peak_rss_mib": "MiB",
    "trace.overhead_pct": "%",
}


class BenchError(RuntimeError):
    pass


def pinned_env(root: str, run_dir: str, tmp_dir: str) -> dict[str, str]:
    """The same engine environment on every host and both sides of a
    comparison: cores from the CPU affinity mask, a 6 GiB heap without
    pre-touch, worker imports from the checkout, scratch under run_dir."""
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.pop("SPARK_LOCAL_DIRS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_JVM_PRETOUCH="0",
        PYTHONPATH=os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp_dir,
    )
    return env


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, process group, RSS bytes), from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(stat[:-4] + "statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        out[int(stat.split("/")[2])] = (int(fields[1]), int(fields[2]), rss)
    return out


def _tree(table: dict, root: int) -> list[int]:
    """root and its descendants. The Python worker daemon moves into its
    own process group, so a process group alone misses it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            found.append(pid)
            todo += children.get(pid, [])
    return found


def stop_groups(pgids: set[int]) -> None:
    """Kill whatever is left of a child's process groups and wait for it."""
    for _ in range(100):
        alive = {grp for _, grp, _ in _proc_table().values()} & pgids
        if not alive:
            return
        for grp in alive:
            try:
                os.killpg(grp, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise BenchError(f"process groups {sorted(pgids)} did not exit")


def run_child(cmd, env, cwd, log_path, deadline, phase_path=None) -> list[int]:
    """Run one worker in its own process group; return RSS samples (bytes)
    of its whole process tree (driver Python, JVM, Python workers) taken
    while the worker reports its timed phase."""
    samples = []
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        pgids = {proc.pid}
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    raise BenchError(f"worker exceeded the run deadline: {' '.join(cmd)}")
                table = _proc_table()
                tree = _tree(table, proc.pid)
                pgids |= {table[pid][1] for pid in tree}
                if phase_path and _phase(phase_path) == "timed":
                    samples.append(sum(table[pid][2] for pid in tree))
                time.sleep(0.25)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stop_groups(pgids)
    if proc.returncode != 0:
        raise BenchError(f"worker failed with code {proc.returncode}; see {log_path}")
    return samples


def _phase(path: str) -> str | None:
    try:
        with open(path) as fh:
            return json.load(fh).get("phase")
    except (OSError, ValueError):
        return None


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def provenance(root: str) -> dict:
    """Facts that explain an outlier run: source digest, git commit when
    the tree is a git checkout, load average, contending processes."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "videos_to_tfrecords_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            commit = None
    try:
        from bench import _contending_pids  # the engine's own detector

        contending = _contending_pids()
    except Exception as exc:  # noqa: BLE001 -- provenance is best effort
        contending = f"unavailable: {type(exc).__name__}"
    return {
        "source_sha256": h.hexdigest()[:16],
        "commit": commit,
        "loadavg": os.getloadavg(),
        "contending_pids": contending,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def median(values):
    return statistics.median(values) if values else 0.0


def build_metrics(res: dict, setups: list[dict], rss: list[int], trace: bool) -> dict:
    if not trace:
        op_s = res["op_s"]
        values = {
            "setup_s": median([s["setup_s"] for s in setups]),
            "cold_s": res["cold_s"],
            "op_p50_s": quantile(op_s, 0.5),
            "op_p90_s": quantile(op_s, 0.9),
            "items_per_s": res["items"] / sum(op_s),
        }
        units = END_TO_END
    else:
        values = {name: 0.0 for name in PER_LAYER}
        values.update({k: v for k, v in res["layers"].items() if k in PER_LAYER})
        values["session.get_spark_s"] = median([s["get_spark_s"] for s in setups])
        values["session.first_job_s"] = median([s["first_job_s"] for s in setups])
        values["exec.peak_rss_mib"] = max(rss) / (1 << 20)
        values["trace.overhead_pct"] = 100.0 * (median(res["op_s"]) / median(res["untraced_op_s"]) - 1.0)
        units = PER_LAYER
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--video-files", type=int, default=VIDEO_FILES, help="manifest size (smoke checks shrink it)")
    args = p.parse_args(argv)
    t_begin = time.time()
    deadline = t_begin + RUN_DEADLINE_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(root, "videos_to_tfrecords_spark")
    )):
        print("layerbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".layerbench_work")
    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    lock = open(os.path.join(work, "lock"), "w")  # noqa: SIM115 -- held until exit
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("layerbench: another run is active in this checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(work, "run")
    tmp_dir = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp_dir)

    import data

    inputs = os.path.join(work, "inputs")
    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_dir": run_dir,
        "tmp_dir": tmp_dir,
        "ui_port": free_port(),
    }
    if args.workload == "video_e2e":
        ctx["manifest"] = data.ensure_manifest(inputs, args.seed, args.video_files)
    else:
        ctx["tables"] = data.ensure_tables(inputs, args.seed, QUERY_SF)
    ctx_path = os.path.join(run_dir, "ctx.json")
    write_json(ctx_path, ctx)
    env = pinned_env(root, run_dir, tmp_dir)
    prov_start = provenance(root)

    worker = os.path.join(HERE, "worker.py")
    log = os.path.join(run_dir, "worker.log")
    setups = []
    try:
        for i in range(SETUP_LAUNCHES - 1):
            out = os.path.join(run_dir, f"setup{i}.json")
            run_child(
                [sys.executable, worker, "--setup-only", "--ctx", ctx_path, "--out", out, "--spawn-ts", repr(time.time())],
                env, run_dir, log, deadline,
            )
            with open(out) as fh:
                setups.append(json.load(fh))
        out = os.path.join(run_dir, "result.json")
        rss = run_child(
            [sys.executable, worker, "--ctx", ctx_path, "--out", out, "--spawn-ts", repr(time.time())],
            env, run_dir, log, deadline, phase_path=os.path.join(run_dir, "phase.json"),
        )
        with open(out) as fh:
            res = json.load(fh)
    except BenchError as exc:
        kept = os.path.join(work, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_begin)}.log")
        shutil.copy(log, kept)
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"layerbench: {exc}; worker log kept in {os.path.relpath(kept, root)}", file=sys.stderr)
        return 1
    setups.append({k: res[k] for k in ("setup_s", "get_spark_s", "first_job_s")})

    metrics = build_metrics(res, setups, rss, bool(args.trace))
    failed = res["failed_ops"] + len(res["check_failures"])
    summary = {"correct": failed == 0, "attempted": res["attempted"], "failed": failed, "metrics": metrics}
    record = {
        "args": vars(args),
        "summary": summary,
        "setups": setups,
        "rss_mib": [round(x / (1 << 20), 1) for x in rss],
        "result": res,
        "env": {k: v for k, v in env.items() if k.startswith(("SPARK_", "PYSPARK_", "PYTHON", "TMPDIR"))},
        "provenance": {"start": prov_start, "end": provenance(root)},
        "wall_s": time.time() - t_begin,
    }
    rec_path = os.path.join(
        work, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_begin)}.json"
    )
    write_json(rec_path, record)
    shutil.rmtree(run_dir, ignore_errors=True)
    for line in res["problems"] + res["check_failures"]:
        print(f"layerbench: {line}", file=sys.stderr)
    print(f"layerbench: record {os.path.relpath(rec_path, root)}", file=sys.stderr)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
