"""One fresh interpreter of a benchmark run: set up a session, then (unless
``--setup-only``) run one workload closed loop with one client, check its
outputs, and write a JSON result file for ``run.py``.

Not meant to be run by hand; ``run.py`` pins the environment, makes the
inputs, and starts this script in its own process group.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Driver-floor queries. Rule: among the oracle-backed, non-streaming
# queries with an r11 snapshot median under 0.5 s, the one with the lowest
# median from each plan module that has at least four such queries (nine
# modules; similarity_queries has three). Frozen here so a later change to
# the registry or the snapshot cannot silently change what the workload
# measures. With the four heavy queries a pass holds 13 queries: an odd
# count puts the median op on one query, not between two.
FLOOR_QUERIES = (
    "string_functions",  # advanced_queries
    "doc_chunking",  # feature_queries
    "dataset_fingerprint",  # learning_queries
    "doc_token_fertility",  # mining_queries
    "multimodal_meta",  # pipeline_queries
    "timestamp_formatting",  # reference_queries
    "part_brand_stats",  # relational_queries
    "doc_normalized_text",  # text_queries
    "tpch_q14_promotion_effect",  # tpch_queries
)
# Heavy queries, one per mechanism: wedge self-join pair generation, the
# shingle kernel (dedup), the n-gram counting kernel, embedding top-k.
HEAVY_QUERIES = (
    "graph_adamic_adar_topk",
    "doc_containment_pairs",
    "corpus_bigram_topk",
    "embedding_hubness_topk",
)
AGREE_TOL = 0.15  # consecutive warm units within 15% end the warm-up
#: warm-up units after the cold one: (at least, at most) per workload
WARM = {"video_e2e": (2, 3), "queries": (1, 2)}


class Phase:
    """Tells the parent (which samples process-tree RSS) which phase runs."""

    def __init__(self, path: str):
        self.path = path

    def set(self, name: str) -> None:
        write_json(self.path, {"phase": name})


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
    os.replace(tmp, path)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def warm_then_measure(unit, seconds: float, warm_range: tuple[int, int]) -> tuple[list[float], list[float], bool]:
    """Run ``unit() -> seconds`` at least ``warm_range[0]`` times, and more
    until a unit agrees with the one before it within AGREE_TOL (at most
    ``warm_range[1]`` warm units); the agreeing unit is the first timed
    one. Then keep running units that start within ``seconds`` of it, and
    at least two, so no run's figures rest on one timed unit."""
    warm = [unit() for _ in range(warm_range[0])]
    while True:
        t_start = time.perf_counter()
        cur = unit()
        agreed = abs(cur - warm[-1]) <= AGREE_TOL * warm[-1]
        if agreed or len(warm) >= warm_range[1]:
            break
        warm.append(cur)
    measured = [cur]
    while len(measured) < 2 or time.perf_counter() - t_start < seconds:
        measured.append(unit())
    return warm, measured, agreed


# ------------------------------------------------------------- video_e2e --
def expected_sequences(manifest: str) -> tuple[int, int]:
    """Sequence count pinned by the inputs alone: replay the synthetic
    decoder's frame sampling (one frame per 500 ms) and the reference's
    crop rule (2000 ms windows every 1000 ms; keep the first window and
    every window inside the video) in plain Python. Returns (sequences,
    videos)."""
    from videos_to_tfrecords_spark.ml.video import _fake_video_props

    total = videos = 0
    with open(manifest) as fh:
        files = [x.strip() for x in fh if x.strip()]
    for f in files:
        if f.rsplit(".", 1)[-1] not in ("mkv", "avi", "mp4"):
            continue
        videos += 1
        fps, duration_ms = _fake_video_props(f)
        length_ms = 1000.0 * (duration_ms / 1000.0 * fps) / fps
        windows, last, idx, pos = set(), None, 0, 0.0
        while pos < duration_ms:
            if last is None or pos >= last + 500.0:
                last = pos
                k = math.floor(round(pos * 1000) / 1_000_000)
                for start in (k - 1, k):
                    s_ms, e_ms = start * 1000, start * 1000 + 2000
                    if e_ms == 2000 or (s_ms >= 0 and e_ms <= length_ms):
                        windows.add(start)
            idx += 1
            pos = idx * (1000.0 / fps)
        total += len(windows)
    return total, videos


def check_shards(out_dir: str, counts: dict[str, int]) -> list[str]:
    """Read back every shard: CRCs, per-split record counts, and per
    sequence ascending timestamps and equal-length list features."""
    from videos_to_tfrecords_spark.sources.tfrecord import decode_sequence_example, read_records

    problems = []
    for split, want in counts.items():
        n = 0
        for path in sorted(glob.glob(os.path.join(out_dir, "data", split.lower(), "*.tfrecord"))):
            for payload in read_records(path, verify=True):
                n += 1
                _, lists = decode_sequence_example(payload)
                ts = [v[0] for v in lists.get("timestamp_ms", [])]
                if not ts or any(b <= a for a, b in zip(ts, ts[1:])):
                    problems.append(f"{path}: timestamps not ascending")
                if len(lists.get("logits", [])) != len(ts):
                    problems.append(f"{path}: list features differ in length")
        if n != want:
            problems.append(f"{split}: {n} records read back, CLI returned {want}")
    return problems[:20]


def run_video(spark, ctx: dict, tracer) -> dict:
    from videos_to_tfrecords_spark import cli

    manifest = ctx["manifest"]
    pinned, n_videos = expected_sequences(manifest)
    out_root = os.path.join(ctx["run_dir"], "out")
    ops: list[dict] = []
    problems: list[str] = []
    first_counts: dict[str, int] = {}

    def one_op(traced: bool = False) -> float:
        i = len(ops)
        out = os.path.join(out_root, f"op{i}")
        argv = [
            "--input-manifest", manifest, "--output-dir", out, "--mode", "crop_video",
            "--cloud", "--sequence-length", "2000", "--period", "1000",
        ]
        rec: dict = {"op": i, "traced": traced}
        if traced:
            before_in, before_out = tracer.decode_in.value, tracer.decode_out.value
            with tracer.group(f"cli{i}") as gid:
                t0 = time.perf_counter()
                counts = cli.main(argv, spark=spark)
                dt = time.perf_counter() - t0
            rec["layers"] = tracer.group_record(gid, set())
            rec["decode_rows_in"] = tracer.decode_in.value - before_in
            rec["frames"] = tracer.decode_out.value - before_out
            rec["decode_runs"] = rec["decode_rows_in"] / max(1, n_videos)
        else:
            t0 = time.perf_counter()
            counts = cli.main(argv, spark=spark)
            dt = time.perf_counter() - t0
        rec.update(s=dt, counts=counts, sequences=sum(counts.values()))
        ops.append(rec)
        if not first_counts:
            first_counts.update(counts)
        if rec["sequences"] != pinned or counts != first_counts:
            rec["failed"] = True
            problems.append(f"op{i}: counts {counts}, pinned total {pinned}, first op {first_counts}")
        if i > 0:  # keep only the newest output; it is read back at the end
            shutil.rmtree(os.path.join(out_root, f"op{i - 1}"), ignore_errors=True)
        return dt

    ctx["phase"].set("timed")
    cold = one_op(traced=tracer is not None)
    if tracer is None:
        warm, measured, agreed = warm_then_measure(one_op, ctx["seconds"], WARM["video_e2e"])
        timed_ops = ops[-len(measured):]
    else:
        warm, measured, agreed = warm_then_measure(one_op, ctx["seconds"] / 2, WARM["video_e2e"])
        timed_ops = []
        t_start = time.perf_counter()
        while not timed_ops or time.perf_counter() - t_start < ctx["seconds"] / 2:
            one_op(traced=True)
            timed_ops.append(ops[-1])
    ctx["phase"].set("checks")
    last = ops[-1]
    check_failures = check_shards(os.path.join(out_root, f"op{last['op']}"), last["counts"])
    result = {
        "cold_s": cold,
        "warm_s": warm,
        "warm_agreed": agreed,
        "op_s": measured if tracer is None else [o["s"] for o in timed_ops],
        "items": sum(o["sequences"] for o in (ops[-len(measured):] if tracer is None else timed_ops)),
        "pinned_sequences": pinned,
        "ops": [{k: o[k] for k in ("op", "traced", "s", "counts") if k in o} for o in ops],
        "attempted": len(ops),
        "failed_ops": sum(1 for o in ops if o.get("failed")),
        "checks": {"shards_read_back": 1, "ops_count_checked": len(ops)},
        "problems": problems[:20],
        "check_failures": check_failures,
    }
    if tracer is not None:
        result["untraced_op_s"] = measured
        result["layers"] = video_layers(spark, ctx, tracer, timed_ops, out_root)
    return result


def video_layers(spark, ctx: dict, tracer, traced_ops: list[dict], out_root: str) -> dict:
    """Per-layer metrics of the mainline: prefix step times, counts, and
    job-group records of the traced CLI ops."""
    from tracing import mainline_prefixes

    def noop_s(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    steps = mainline_prefixes(spark, ctx["manifest"])
    prefix_s = {}
    for name, df in steps:
        noop_s(df)  # warm this prefix's plan before timing it
        prefix_s[name] = min(noop_s(df), noop_s(df))
    # the CLI's sink runs RDD jobs, which carry no SQL metrics; the Python
    # worker metrics come from one noop run of the whole pre-sink prefix
    with tracer.group("prefix") as gid:
        noop_s(steps[-1][1])
    prefix_rec = tracer.group_record(gid, set())
    layers, prev = {}, 0.0
    for name, _ in steps:
        layers[name] = prefix_s[name] - prev
        prev = prefix_s[name]
    full = statistics.median(o["s"] for o in traced_ops)
    layers["sources.tfrecord.sink_s"] = full - prev
    layers["ml.video.frames"] = statistics.median(o["frames"] for o in traced_ops)
    layers["ml.video.decode_runs"] = statistics.median(o["decode_runs"] for o in traced_ops)
    layers["operators.sequence.sequences"] = traced_ops[-1]["sequences"]
    last_dir = os.path.join(out_root, f"op{traced_ops[-1]['op']}")
    n_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(last_dir, "data", "*", "*.tfrecord")))
    layers["sources.tfrecord.bytes_per_item"] = n_bytes / max(1, traced_ops[-1]["sequences"])
    for key in EXEC_KEYS:
        layers[f"exec.{key}"] = statistics.median(o["layers"][key] for o in traced_ops)
    for key in ("python_total_s", "python_boot_s", "python_bytes_sent"):
        layers[f"exec.{key}"] = prefix_rec[key]
    layers["fingerprints"] = {
        "cli": traced_ops[-1]["layers"]["plan_fingerprint"],
        "prefix": prefix_rec["plan_fingerprint"],
    }
    return layers


EXEC_KEYS = (
    "exec_s", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "python_total_s", "python_boot_s", "python_bytes_sent",
    "storage_mem_bytes",
)


# --------------------------------------------------------------- queries --
def gate_hash():
    """The engine's oracle gate compare (``tools/check_oracle.py``): cells
    canonicalized, columns sorted by name, rows sorted, then hashed."""
    import importlib.util

    path = os.path.join(os.path.dirname(HERE), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def oracle_check(observed: dict, oracles: dict, sf_dir: str, duck_tmp: str) -> list[str]:
    """Compare each query's collected rows with its DuckDB oracle run over
    the same generated tables: row count, column names, value hash."""
    import duckdb

    import data

    table_hash = gate_hash()
    problems = []
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{duck_tmp}'")
    con.execute("SET threads=2")
    for t in data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, obs in observed.items():
        if obs.get("error"):  # already counted as a failed op
            continue
        try:
            rel = con.sql(oracles[name])
            cols, rows = list(rel.columns), rel.fetchall()
        except duckdb.Error as exc:
            problems.append(f"{name}: oracle failed: {exc}"[:300])
            continue
        if len(obs["rows"]) != len(rows):
            problems.append(f"{name}: {len(obs['rows'])} rows, oracle {len(rows)}")
        elif sorted(obs["cols"]) != sorted(cols):
            problems.append(f"{name}: columns {sorted(obs['cols'])} vs {sorted(cols)}")
        elif table_hash(obs["cols"], obs["rows"]) != table_hash(cols, rows):
            problems.append(f"{name}: value hash differs from oracle")
    con.close()
    return problems


def run_queries(spark, ctx: dict, tracer) -> dict:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = ctx["tables"]
    names = list(FLOOR_QUERIES + HEAVY_QUERIES)
    rng = random.Random(ctx["seed"])
    ops: list[dict] = []
    observed: dict[str, dict] = {}

    def one_query(name: str, mode: str) -> dict:
        """mode: 'check' (collect, hash), 'plain' (noop), 'traced' (noop, layers)."""
        fn = queries[name]
        rec: dict = {"query": name, "mode": mode, "heavy": name in HEAVY_QUERIES}
        try:
            if mode == "traced":
                with tracer.group(name) as gid:
                    calls0, lt_n0, lt_s0 = tracer.py4j_calls, tracer.load_table_calls, tracer.load_table_s
                    t0 = time.perf_counter()
                    df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    build_calls = tracer.py4j_calls - calls0
                    # bookkeeping between build and plan is left out of the op
                    eager = set(tracer.job_ids(gid))
                    calls1 = tracer.py4j_calls
                    t1b = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                    rec["py4j_calls"] = build_calls + tracer.py4j_calls - calls1
                rec.update(build_s=t1 - t0, plan_s=t2 - t1b, s=(t1 - t0) + (t3 - t1b))
                rec["load_table_calls"] = tracer.load_table_calls - lt_n0
                rec["load_table_s"] = tracer.load_table_s - lt_s0
                rec["layers"] = tracer.group_record(gid, eager)
            elif mode == "plain":
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df._jdf.queryExecution().executedPlan()
                df.write.format("noop").mode("overwrite").save()
                rec["s"] = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                rec["s"] = time.perf_counter() - t0
                observed[name] = {"rows": rows, "cols": df.columns}  # hashed after the timed phase
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, the loop goes on
            rec["failed"] = True
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            if mode == "check":
                observed[name] = {"error": rec["error"]}
        ops.append(rec)
        return rec

    def one_pass(mode: str) -> float:
        order = names[:]
        rng.shuffle(order)
        return sum(one_query(n, mode).get("s", 0.0) for n in order)

    ctx["phase"].set("timed")
    cold = one_pass("check")
    n_cold = len(ops)
    if tracer is None:
        warm, measured, agreed = warm_then_measure(lambda: one_pass("plain"), ctx["seconds"], WARM["queries"])
        timed = ops[-len(measured) * len(names):]
        untraced = timed
    else:
        # untraced passes first, then traced ones: the tracing overhead
        # compares the two
        warm, measured, agreed = warm_then_measure(lambda: one_pass("plain"), 0, WARM["queries"])
        untraced, timed = ops[-len(measured) * len(names):], []
        t_start = time.perf_counter()
        while not timed or time.perf_counter() - t_start < ctx["seconds"] / 2:
            one_pass("traced")
            timed += ops[-len(names):]
    ctx["phase"].set("checks")
    op_s = [o["s"] for o in timed if not o.get("failed")]
    n_pass = len(timed) // len(names)
    result = {
        "cold_s": cold,
        "warm_s": warm,
        "warm_agreed": agreed,
        "op_s": op_s,
        "items": len(op_s),
        "attempted": len(ops),
        "failed_ops": sum(1 for o in ops if o.get("failed")),
        "ops": [{k: o[k] for k in ("query", "mode", "s") if k in o} for o in ops],
        "observed": observed,
        "oracles": {n: oracles[n] for n in names},
        "checks": {"oracle_queries": len(observed), "cold_ops": n_cold},
        "problems": [f"{o['query']}: {o['error']}" for o in ops if o.get("failed")][:20],
        "check_failures": [],
    }
    if tracer is not None:
        result["untraced_op_s"] = [o["s"] for o in untraced if not o.get("failed")]
        result["layers"] = query_layers([o for o in timed if not o.get("failed")], n_pass)
        result["per_query"] = per_query_record(timed)
    return result


def query_layers(traced: list[dict], n_pass: int) -> dict:
    """Per-pass sums (averaged over traced passes) of every layer."""
    per = lambda f, ops=traced: sum(f(o) for o in ops) / max(1, n_pass)  # noqa: E731
    floor = [o for o in traced if not o["heavy"]]
    heavy = [o for o in traced if o["heavy"]]
    layers = {
        "plans.build_s": per(lambda o: o["build_s"]),
        "plans.plan_s": per(lambda o: o["plan_s"]),
        "plans.eager_jobs": per(lambda o: o["layers"]["eager_jobs"]),
        "plans.eager_s": per(lambda o: o["layers"]["eager_s"]),
        "plans.py4j_calls": per(lambda o: o["py4j_calls"]),
        "sources.load_table_calls": per(lambda o: o["load_table_calls"]),
        "sources.load_table_s": per(lambda o: o["load_table_s"]),
        "plans.floor_op_s": per(lambda o: o["s"], floor),
        "plans.floor_build_plan_s": per(lambda o: o["build_s"] + o["plan_s"], floor),
        "plans.heavy_op_s": per(lambda o: o["s"], heavy),
        "plans.heavy_eager_exec_s": per(lambda o: o["layers"]["eager_s"] + o["layers"]["exec_s"], heavy),
    }
    for key in EXEC_KEYS:
        if key == "storage_mem_bytes":  # held after the op, not summed
            layers[f"exec.{key}"] = max(o["layers"][key] for o in traced)
        else:
            layers[f"exec.{key}"] = per(lambda o, k=key: o["layers"][k])
    return layers


def per_query_record(traced: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for o in traced:
        if o.get("failed"):
            continue
        q = out.setdefault(o["query"], {"s": [], "build_s": [], "plan_s": [], "py4j_calls": []})
        for k in ("s", "build_s", "plan_s", "py4j_calls"):
            q[k].append(o[k])
        q["layers"] = {k: v for k, v in o["layers"].items()}
    return out


# ------------------------------------------------------------------ main --
def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--spawn-ts", type=float, required=True)
    p.add_argument("--ctx", required=True, help="JSON file with the run context")
    p.add_argument("--out", required=True)
    p.add_argument("--setup-only", action="store_true")
    args = p.parse_args(argv)
    with open(args.ctx) as fh:
        ctx = json.load(fh)
    trace = bool(ctx["trace"]) and not args.setup_only

    from videos_to_tfrecords_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.sql.warehouse.dir": os.path.join(ctx["run_dir"], "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx['tmp_dir']} -XX:+PerfDisableSharedMem",
    }
    if trace:
        conf["spark.ui.port"] = str(ctx["ui_port"])
    spark = get_spark("layerbench", extra_conf=conf)
    t_session = time.time()
    spark.range(1).count()
    t_job = time.time()
    result = {
        "setup_s": t_job - args.spawn_ts,
        "get_spark_s": t_session - args.spawn_ts,
        "first_job_s": t_job - t_session,
    }
    if args.setup_only:
        # the parent kills the JVM with this process group; a clean stop
        # would only lengthen the run
        write_json(args.out, result)
        os._exit(0)
    try:
        ctx["phase"] = Phase(os.path.join(ctx["run_dir"], "phase.json"))
        tracer = None
        if trace:
            from tracing import Tracer

            import __spark_entry__  # noqa: F401 -- load query modules before wrapping

            tracer = Tracer(spark)
        runner = run_video if ctx["workload"] == "video_e2e" else run_queries
        result.update(runner(spark, ctx, tracer))
    finally:
        spark.stop()
    if ctx["workload"] == "queries":
        result["check_failures"] += oracle_check(
            result.pop("observed"), result.pop("oracles"), ctx["tables"], ctx["tmp_dir"]
        )
    write_json(args.out, result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
