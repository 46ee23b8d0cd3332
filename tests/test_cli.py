"""CLI end-to-end: the reference's run_preprocess surface over a manifest,
through every --mode, producing parseable sharded TFRecords per split."""

from __future__ import annotations

import glob
import os

import pytest

from videos_to_tfrecords_spark.cli import main, parse_arguments
from videos_to_tfrecords_spark.sources.tfrecord import decode_sequence_example, read_records


def _manifest(tmp_path) -> str:
    files = [
        f"gs://bucket/videos/{label}/{res}/clip_{i}.{ext}"
        for i, (label, res, ext) in enumerate(
            [
                ("Animation", "360P", "mp4"),
                ("Gaming", "720P", "mkv"),
                ("Sports", "360P", "avi"),
                ("Vlog", "720P", "mp4"),
                ("Animation", "360P", "txt"),  # negative: filtered by P2
            ]
            * 4
        )
    ]
    path = os.path.join(tmp_path, "manifest.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(files))
    return path


@pytest.mark.parametrize("mode", ["single_frame", "full_video", "crop_video"])
def test_cli_end_to_end(spark, tmp_path, mode):
    out = os.path.join(tmp_path, f"out_{mode}")
    counts = main(
        [
            "--input-manifest",
            _manifest(tmp_path),
            "--output-dir",
            out,
            "--mode",
            mode,
            "--sequence-length",
            "2000",
            "--period",
            "1000",
            "--cloud",  # lift the 3-frame local cap
        ],
        spark=spark,
    )
    assert sum(counts.values()) > 0
    files = glob.glob(os.path.join(out, "data", "*", "*.tfrecord"))
    assert files
    # every record parses; context carries the split name matching its dir
    n = 0
    for f in files:
        split_dir = os.path.basename(os.path.dirname(f))
        for rec in read_records(f):
            ctx, lists = decode_sequence_example(rec)
            assert ctx["dataset"][0].decode().lower() == split_dir
            assert ctx["label"][0].decode() in {"Animation", "Gaming", "Sports", "Vlog"}
            assert len(lists["logits"]) == len(lists["timestamp_ms"])
            n += 1
    assert n == sum(counts.values())


def test_cli_defaults_match_reference():
    a = parse_arguments(["--input-manifest", "m", "--output-dir", "o"])
    # reference run_preprocess.py defaults: mode=single_frame (:92-97),
    # sequence_length=15000 (:98-103), frame_sample_rate=500 (:87-91)
    assert a.mode == "single_frame"
    assert a.sequence_length == 15_000
    assert a.frame_sample_rate == 500.0
    assert (a.train, a.val, a.test) == (0.7, 0.15, 0.15)


def _step_chain_records(spark, manifest: str, mode: str) -> dict[str, list[bytes]]:
    """The mainline composed from the step functions the way it was before
    the single-pass sink — unfused decode → inference, then the proto
    column encoder ``with_sequence_example`` — collected per split."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.ml.inference import batch_inference, linear_stub_model
    from videos_to_tfrecords_spark.ml.video import decode_videos
    from videos_to_tfrecords_spark.operators.filenames import create_filenames, extract_label
    from videos_to_tfrecords_spark.operators.sequence import (
        crop_video, format_features, single_frame, to_full_video,
    )
    from videos_to_tfrecords_spark.operators.split import with_random_split
    from videos_to_tfrecords_spark.schema import CONTEXT_COLUMNS, LIST_COLUMNS
    from videos_to_tfrecords_spark.sources.tfrecord import with_sequence_example

    with open(manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]
    stamped = with_random_split(extract_label(create_filenames(spark, files)), 0.7, 0.15, 0.15, seed=42)
    frames = decode_videos(stamped, skip_msec=500.0, cloud=True)
    embedded = batch_inference(
        frames.drop("height", "width", "channels"), "image", linear_stub_model(12, 8)
    )
    keys = {"ts_ms_col": "timestamp_ms", "key_cols": ["filename"]}
    if mode == "crop_video":
        length_ms = F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")
        grouped = crop_video(
            embedded.withColumn("length_ms", length_ms), size_ms=2000, slide_ms=1000,
            length_ms_col="length_ms", partial_policy="reference", **keys,
        )
    elif mode == "full_video":
        grouped = to_full_video(embedded, **keys)
    else:
        grouped = single_frame(embedded, **keys)
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
    out: dict[str, list[bytes]] = {"train": [], "val": [], "test": []}
    for r in protos.select("dataset", "proto").collect():
        out[r.dataset.lower()].append(bytes(r.proto))
    return {split: sorted(recs) for split, recs in out.items()}


@pytest.mark.parametrize("mode", ["single_frame", "full_video", "crop_video"])
def test_cli_records_match_step_function_chain(spark, tmp_path, mode):
    """The single-pass writer (encode inside the writer task, after the
    shuffle) writes, per split, exactly the record multiset that the
    step-function chain's ``with_sequence_example`` column holds — byte
    for byte — with one shard per shuffle partition in every split."""
    manifest = _manifest(tmp_path)
    out = os.path.join(tmp_path, "out")
    main(
        [
            "--input-manifest", manifest, "--output-dir", out, "--mode", mode,
            "--sequence-length", "2000", "--period", "1000", "--cloud",
        ],
        spark=spark,
    )
    n_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = {}
    for split in ("train", "val", "test"):
        shards = sorted(glob.glob(os.path.join(out, "data", split, "*.tfrecord")))
        assert [os.path.basename(f) for f in shards] == [
            f"{split}-{i:05d}-of-{n_shards:05d}.tfrecord" for i in range(n_shards)
        ]
        got[split] = sorted(r for f in shards for r in read_records(f))
    want = _step_chain_records(spark, manifest, mode)
    assert sum(map(len, want.values())) > 0
    assert got == want
