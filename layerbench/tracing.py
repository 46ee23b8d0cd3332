"""Outside-in layer tracing for traced benchmark runs.

Nothing here edits the engine. Layers are measured by wrapping the public
functions of the engine's modules (``sources.tables.load_table``,
``ml.video.decode_videos``), by counting Py4J round trips at the gateway
client, and by reading Spark's own ``statusTracker`` and its localhost
status REST API (the UI is on in traced runs only). Every op runs in its
own job group so its jobs, stages, SQL executions and plans can be told
apart afterwards.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

_UNIT_SCALE = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
}
# Plan text that differs between two runs of one plan: expression ids,
# plan ids, RDD ids of checkpoint scans, file paths, sizes and row-count
# statistics, AQE stage numbers.
_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\(\d+\)"), "()"),
    (re.compile(r"Statistics\([^)]*\)"), ""),
    (re.compile(r"file:[^\s,\]]+"), "file:"),
    (re.compile(r"Location: \S+ \[[^\]]*\]"), "Location:"),
    (re.compile(r"\d+\.\d+ [KMGT]?i?B"), "N"),
    (re.compile(r"\s+\n"), "\n"),
]


def _parse_metric(text: str) -> float:
    """First quantity of a formatted SQL metric: ``'1,000'``, ``'288 ms'``,
    or ``'total (min, med, max ...)\\n7.6 s (...)'``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_SCALE.get(m.group(2), 1.0)


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def normalize_plan(text: str) -> str:
    for pat, rep in _PLAN_NOISE:
        text = pat.sub(rep, text)
    return text.strip()


class Tracer:
    """Counters and per-job-group records for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app_id = self.sc.applicationId
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.app_id}"
        self.py4j_calls = 0
        self.load_table_calls = 0
        self.load_table_s = 0.0
        self.decode_in = self.sc.accumulator(0)
        self.decode_out = self.sc.accumulator(0)
        self._group_n = 0
        self._sql_seen = 0  # SQL executions of earlier groups, skipped by offset
        self._install()

    # ----------------------------------------------------------- wrappers --
    def _install(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*a, **kw):
            self.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counted_send

        from videos_to_tfrecords_spark.sources import tables

        orig_load = tables.load_table

        def traced_load_table(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig_load(*a, **kw)
            finally:
                self.load_table_calls += 1
                self.load_table_s += time.perf_counter() - t0

        _patch_everywhere(orig_load, traced_load_table)

        from videos_to_tfrecords_spark.ml import video

        orig_decode = video.decode_videos
        acc_in, acc_out = self.decode_in, self.decode_out

        def traced_decode_videos(df, *a, **kw):
            # count rows into and out of the engine's own decode function by
            # wrapping it where decode_videos hands it to mapInPandas; the
            # plan is unchanged, only the Python generator gains a layer
            cls = type(df)
            orig_mip = cls.mapInPandas

            def mip(self_df, func, schema, *ma, **mkw):
                def counted(batches):
                    def inputs():
                        for pdf in batches:
                            acc_in.add(len(pdf))
                            yield pdf

                    for out in func(inputs()):
                        acc_out.add(len(out))
                        yield out

                return orig_mip(self_df, counted, schema, *ma, **mkw)

            cls.mapInPandas = mip
            try:
                return orig_decode(df, *a, **kw)
            finally:
                cls.mapInPandas = orig_mip

        _patch_everywhere(orig_decode, traced_decode_videos)

    # --------------------------------------------------------- job groups --
    @contextmanager
    def group(self, label: str):
        self._group_n += 1
        gid = f"lb{self._group_n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, gid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(gid))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def group_record(self, gid: str, eager_ids: set[int]) -> dict:
        """Jobs, stages, tasks, exec time, bytes, spill, GC, Python metrics,
        storage memory and the plan fingerprint of one job group."""
        tracker = self.sc.statusTracker()
        ids = self.job_ids(gid)
        jobs = {}
        for _ in range(100):  # the status store is fed asynchronously
            jobs = {j["jobId"]: j for j in self._get("/jobs") if j["jobId"] in ids}
            if len(jobs) == len(ids) and all(j["status"] != "RUNNING" for j in jobs.values()):
                break
            time.sleep(0.05)
        stage_ids = sorted({s for jid in ids for s in getattr(tracker.getJobInfo(jid), "stageIds", [])})
        stages = []  # every attempt of every stage: retried work is work
        for sid in stage_ids:
            try:
                attempts = self._get(f"/stages/{sid}")
            except urllib.error.HTTPError:
                continue
            # a skipped stage (its shuffle output was reused) never ran
            stages += [a for a in attempts if a.get("status") != "SKIPPED"]
        intervals = {
            jid: (_ts(j.get("submissionTime")), _ts(j.get("completionTime")))
            for jid, j in jobs.items()
        }
        intervals = {k: v for k, v in intervals.items() if None not in v}
        rec = {
            "jobs": len(ids),
            "eager_jobs": len(eager_ids),
            "eager_s": _union_s([v for k, v in intervals.items() if k in eager_ids]),
            "exec_s": _union_s([v for k, v in intervals.items() if k not in eager_ids]),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages),
            "gc_ms": sum(s.get("jvmGcTime", 0) for s in stages),
            "python_total_s": 0.0,
            "python_boot_s": 0.0,
            "python_bytes_sent": 0.0,
        }
        plans = []
        idset = set(ids)
        executions = self._get(f"/sql?details=true&planDescription=true&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(executions)
        for ex in executions:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(
                ex.get("runningJobIds", [])
            )
            if not ex_jobs & idset:
                continue
            plans.append((ex["id"], normalize_plan(ex.get("planDescription", ""))))
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        rec[key] += _parse_metric(m["value"])
        rec["sql_executions"] = len(plans)
        rec["plan_fingerprint"] = hashlib.sha256(
            "\n--\n".join(p for _, p in sorted(plans)).encode()
        ).hexdigest()[:16]
        rec["storage_mem_bytes"] = sum(e.get("memoryUsed", 0) for e in self._get("/executors"))
        return rec


def _patch_everywhere(orig, wrapper) -> None:
    """Replace ``orig`` in every loaded engine module that bound it, so
    call sites that imported the name directly are wrapped too."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name.startswith("videos_to_tfrecords_spark") or name == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def mainline_prefixes(spark, manifest: str, seed: int = 42):
    """The steps ``cli.build_pipeline`` composes for ``--mode crop_video
    --cloud --sequence-length 2000 --period 1000``, as (layer name,
    DataFrame prefix ending at that step). Built from the same public step
    functions with the CLI's defaults, so materializing consecutive
    prefixes times each step."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.ml.inference import batch_inference, linear_stub_model
    from videos_to_tfrecords_spark.ml.video import decode_videos
    from videos_to_tfrecords_spark.operators.filenames import create_filenames, extract_label
    from videos_to_tfrecords_spark.operators.sequence import crop_video, format_features
    from videos_to_tfrecords_spark.operators.shuffle import shuffle
    from videos_to_tfrecords_spark.operators.split import with_random_split
    from videos_to_tfrecords_spark.schema import CONTEXT_COLUMNS, LIST_COLUMNS
    from videos_to_tfrecords_spark.sources.tfrecord import with_sequence_example

    with open(manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]
    labeled = extract_label(create_filenames(spark, files))
    stamped = with_random_split(labeled, 0.7, 0.15, 0.15, seed=seed)
    frames = decode_videos(stamped, skip_msec=500.0, cloud=True)
    embedded = batch_inference(
        frames.drop("height", "width", "channels"), "image", linear_stub_model(12, 8), drop_input=True
    )
    length_ms = F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")
    grouped = crop_video(
        embedded.withColumn("length_ms", length_ms),
        ts_ms_col="timestamp_ms",
        key_cols=["filename"],
        size_ms=2000,
        slide_ms=1000,
        length_ms_col="length_ms",
        partial_policy="reference",
    )
    seqs = format_features(
        grouped,
        context_cols=["label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
    )
    protos = with_sequence_example(
        seqs,
        context_cols=["filename", "label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
        context_kinds=CONTEXT_COLUMNS,
        list_kinds=LIST_COLUMNS,
    )
    shuffled = shuffle(protos.select("dataset", "proto"), seed=seed)
    return [
        ("operators.filenames_s", labeled),
        ("operators.split_s", stamped),
        ("ml.video.decode_s", frames),
        ("ml.inference_s", embedded),
        ("operators.sequence_s", seqs),
        ("sources.tfrecord.encode_s", protos),
        ("operators.shuffle_s", shuffled),
    ]
