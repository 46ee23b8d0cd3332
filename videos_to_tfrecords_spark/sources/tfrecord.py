"""TFRecord sink + tf.train.SequenceExample serialization, dependency-free.

Reference parity:
- ``generate_seq_example`` / ``to_feature_list`` (reference preprocess.py:82-106,
  features.py:39-56): builds a SequenceExample with LIST_COLUMNS as per-frame
  FeatureLists and CONTEXT_COLUMNS as context Features, with the reference's
  coercions — scalar→single-element list (features.py:41-42), str→utf-8 bytes
  (features.py:49-53), unsupported dtype → skipped (features.py:55-56).
- ``WriteTFRecord`` (reference preprocess.py:109-128): lowercased prefix,
  sharded files ``{out}/data/{split}/{split}-NNNNN-of-MMMMM.tfrecord``.

Instead of requiring tensorflow, the engine emits the protobuf wire format
directly (it is small and fixed: SequenceExample{1: context Features,
2: feature_lists FeatureLists}, Features{1: map<string, Feature>},
Feature{1: BytesList | 2: FloatList | 3: Int64List}) and the TFRecord
framing (length:uint64le, masked-crc32c(length), payload,
masked-crc32c(payload)) with a table-driven CRC32C. Golden-byte and
round-trip tests in tests/test_tfrecord.py; verified against
tf.train.SequenceExample wire layout per the public protobuf spec.

Scale: serialization is a per-row map (no shuffle); the randomizing R2
shuffle runs BEFORE the encode — in the mainline the encode runs inside the
single-pass split sink — so the wide binary column never exchanges (the
reference's own column-pruning lesson, preprocess.py:241).

Determinism convention: map entries are emitted in sorted-key order (proto
map order is unspecified; sorting makes output bytes reproducible).
"""

from __future__ import annotations

import io
import os
import shutil
import struct
import uuid
from collections import Counter
from collections.abc import Iterable, Sequence
from operator import itemgetter

import numpy as np

# ---------------------------------------------------------------- CRC32C ---

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _make_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's rotated+offset CRC mask."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------- protobuf writing ---


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delimited(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _bytes_list(values: Sequence[bytes]) -> bytes:
    return b"".join(_len_delimited(1, v) for v in values)


def _float_list(values: Sequence[float]) -> bytes:
    packed = struct.pack(f"<{len(values)}f", *values)
    return _len_delimited(1, packed) if values else b""


def _int64_list(values: Sequence[int]) -> bytes:
    packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in values)
    return _len_delimited(1, packed) if values else b""


def encode_feature(value, kind: str | None = None) -> bytes | None:
    """tf.train.Feature bytes with the reference's coercion rules
    (features.py:39-56): scalars promoted to 1-element lists, str→utf-8,
    unsupported → None (caller skips, mirroring the warn+drop).

    When ``kind`` (a schema.FeatureKind tag) is given, the proto list type
    follows the DECLARATION — exactly features.py to_feature_list(value,
    dtype): an int-valued column declared FLOAT serializes as FloatList
    (e.g. the reference's rounded frame_per_sec), and a declared dtype with
    an empty list still sets the (empty) typed list field. Without ``kind``
    it falls back to runtime-type inference."""
    if value is None:
        return None
    if isinstance(value, np.ndarray):
        value = value.tolist()  # Arrow hands list columns over as ndarrays
    elif isinstance(value, np.generic):
        value = [value.item()]
    if not isinstance(value, (list, tuple)):
        value = [value]  # scalar→list promotion, features.py:41-42
    value = [v.item() if isinstance(v, np.generic) else v for v in value]
    if kind is not None:
        from videos_to_tfrecords_spark.schema import FeatureKind

        if kind == FeatureKind.FLOAT:  # features.py:43-45
            return _len_delimited(2, _float_list([float(v) for v in value]))
        if kind == FeatureKind.INT:  # features.py:46-47
            return _len_delimited(3, _int64_list([int(v) for v in value]))
        if kind == FeatureKind.BYTES:  # features.py:48-54 (str→utf8)
            out = []
            for v in value:
                if isinstance(v, str):
                    out.append(v.encode("utf-8"))
                elif isinstance(v, (bytes, bytearray)):
                    out.append(bytes(v))
                else:
                    # A non-str/bytes value in a BYTES-declared column:
                    # tf.train.BytesList would raise; bytes(int) would
                    # silently emit a zero-filled buffer. Drop the feature
                    # (the engine's warn+drop convention for bad dtypes).
                    return None
            return _len_delimited(1, _bytes_list(out))
        return None  # OTHER → warn+drop, features.py:55-56
    if not value:
        return b""
    head = value[0]
    if isinstance(head, bool):
        return None  # bool is not a reference dtype → OTHER → skipped
    if isinstance(head, str):
        return _len_delimited(1, _bytes_list([v.encode("utf-8") for v in value]))
    if isinstance(head, (bytes, bytearray)):
        return _len_delimited(1, _bytes_list([bytes(v) for v in value]))
    if isinstance(head, float):
        return _len_delimited(2, _float_list(list(value)))
    if isinstance(head, int):
        return _len_delimited(3, _int64_list(list(value)))
    return None  # unsupported dtype: features.py:55-56


def _features(columns: dict, kinds: dict | None = None) -> bytes:
    """tf.train.Features: map<string, Feature> in sorted-key order."""
    out = b""
    for key in sorted(columns):
        feat = encode_feature(columns[key], (kinds or {}).get(key))
        if feat is None:
            continue  # reference drops unsupported silently (features.py:55-56)
        entry = _len_delimited(1, key.encode("utf-8")) + _len_delimited(2, feat)
        out += _len_delimited(1, entry)
    return out


def _feature_lists(columns: dict, kinds: dict | None = None) -> bytes:
    """tf.train.FeatureLists: map<string, FeatureList>; each value is a list
    of per-frame values."""
    out = b""
    for key in sorted(columns):
        frames = columns[key] or []
        kind = (kinds or {}).get(key)
        feature_list = b""
        for frame_value in frames:
            feat = encode_feature(frame_value, kind)
            if feat is None:
                continue
            feature_list += _len_delimited(1, feat)
        entry = _len_delimited(1, key.encode("utf-8")) + _len_delimited(2, feature_list)
        out += _len_delimited(1, entry)
    return out


def encode_sequence_example(
    context: dict,
    feature_lists: dict,
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
) -> bytes:
    """tf.train.SequenceExample wire bytes (reference preprocess.py:82-106):
    context = per-video scalars (CONTEXT_COLUMNS), feature_lists = per-frame
    parallel lists (LIST_COLUMNS). The optional kind maps (schema.
    CONTEXT_COLUMNS / LIST_COLUMNS) make the proto list types follow the
    DECLARED dtypes as the reference does, instead of runtime inference."""
    return _len_delimited(
        1, _features(context, context_kinds)
    ) + _len_delimited(2, _feature_lists(feature_lists, list_kinds))


# ------------------------------------------------------ protobuf reading ---


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _iter_fields(buf: bytes) -> Iterable[tuple[int, int, bytes | int]]:
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field, wire, v
        elif wire == 5:
            yield field, wire, buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field, wire, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_feature(buf: bytes):
    for field, _, payload in _iter_fields(buf):
        vals = []
        if field == 1:  # BytesList
            vals = [v for f, _, v in _iter_fields(payload) if f == 1]
        elif field == 2:  # FloatList (packed)
            for f, _, v in _iter_fields(payload):
                if f == 1:
                    vals.extend(struct.unpack(f"<{len(v)//4}f", v))
        elif field == 3:  # Int64List (packed varints)
            for f, _, v in _iter_fields(payload):
                if f == 1:
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        vals.append(x - (1 << 64) if x >= (1 << 63) else x)
        return vals
    return []


def _decode_map(buf: bytes, value_fn):
    out = {}
    for field, _, entry in _iter_fields(buf):
        if field != 1:
            continue
        key, value = None, None
        for f, _, v in _iter_fields(entry):
            if f == 1:
                key = v.decode("utf-8")
            elif f == 2:
                value = value_fn(v)
        out[key] = value
    return out


def decode_sequence_example(buf: bytes) -> tuple[dict, dict]:
    """Parse wire bytes back to (context, feature_lists) — the round-trip
    check for the dependency-free encoder."""
    context: dict = {}
    lists: dict = {}
    for field, _, payload in _iter_fields(buf):
        if field == 1:
            context = _decode_map(payload, _decode_feature)
        elif field == 2:
            lists = _decode_map(
                payload,
                lambda fl: [
                    _decode_feature(v) for f, _, v in _iter_fields(fl) if f == 1
                ],
            )
    return context, lists


# ------------------------------------------------------ Spark-facing ops ---


def sequence_example_encoder(context_cols, list_cols, context_kinds=None, list_kinds=None):
    """Row dict → SequenceExample wire bytes: the ``generate_seq_example``
    map (reference preprocess.py:411-412) that :func:`with_sequence_example`
    runs, and that :func:`write_split_tfrecords` can run inside its tasks."""

    def encode(rec: dict) -> bytes:
        ctx = {c: rec[c] for c in context_cols}
        lists = {c: list(rec[c]) if rec[c] is not None else [] for c in list_cols}
        return encode_sequence_example(ctx, lists, context_kinds, list_kinds)

    return encode


def with_sequence_example(
    df,
    context_cols,
    list_cols,
    out: str = "proto",
    context_kinds: dict | None = None,
    list_kinds: dict | None = None,
):
    """Add a BinaryType column of SequenceExample wire bytes (the
    ``generate_seq_example`` map, reference preprocess.py:411-412).

    Pass ``context_kinds``/``list_kinds`` (schema.CONTEXT_COLUMNS /
    LIST_COLUMNS) to serialize by DECLARED dtype like the reference's
    to_feature_list — without them, list types are inferred from runtime
    values (which would e.g. emit Int64List for an integer-valued column
    declared FLOAT).

    Proto encoding is inherently per-row Python; mapInPandas keeps the
    transfer Arrow-batched and lets one task amortize the encoder across
    its whole partition. Placed AFTER any shuffle (never exchange the
    binary column — SURVEY §7.3)."""
    import pandas as pd  # local import: executors need it, driver may not

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out} binary"
    encode_row = sequence_example_encoder(context_cols, list_cols, context_kinds, list_kinds)

    def encode(batches):
        for pdf in batches:
            protos = [encode_row(rec) for rec in pdf.to_dict("records")]
            pdf[out] = pd.Series(protos, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(encode, schema)


# --------------------------------------------------------- TFRecord files ---


def write_record(fh, payload: bytes) -> None:
    header = struct.pack("<Q", len(payload))
    fh.write(header)
    fh.write(struct.pack("<I", masked_crc32c(header)))
    fh.write(payload)
    fh.write(struct.pack("<I", masked_crc32c(payload)))


def read_records(path: str, verify: bool = True, content: bytes | None = None) -> Iterable[bytes]:
    """Payloads of one TFRecord file; ``content`` = the file's bytes when
    already in memory (``path`` then only names it in errors)."""
    with open(path, "rb") if content is None else io.BytesIO(content) as fh:
        while True:
            header = fh.read(8)
            if not header:
                return
            (length,) = struct.unpack("<Q", header)
            (hcrc,) = struct.unpack("<I", fh.read(4))
            payload = fh.read(length)
            (pcrc,) = struct.unpack("<I", fh.read(4))
            if verify:
                if masked_crc32c(header) != hcrc:
                    raise ValueError(f"{path}: bad length crc")
                if masked_crc32c(payload) != pcrc:
                    raise ValueError(f"{path}: bad payload crc")
            yield payload


def write_tfrecords(df, bytes_col: str, output_dir: str, prefix: str) -> int:
    """Sharded TFRecord sink (reference WriteTFRecord, preprocess.py:109-128):
    the one-split case of :func:`write_split_tfrecords`."""
    return write_split_tfrecords(df, bytes_col, None, output_dir, (str(prefix),))[str(prefix)]


def write_split_tfrecords(
    df, payload, split_col: str | None, output_dir: str, splits=("Train", "Val", "Test")
) -> dict[str, int]:
    """The reference's per-split sink (R3 + S4, preprocess.py:389-416) as ONE
    Spark job, like Beam's single-pass tagged outputs: each task writes one
    shard per split, ``{output_dir}/data/{split}/{split}-NNNNN-of-MMMMM.tfrecord``
    (prefix lowercased, P6; NNNNN = partition, MMMMM = partition count, so
    empty partitions write empty shards). Returns records per split.

    ``payload``: a binary column, or a callable from a row dict to record
    bytes (``sequence_example_encoder``: encode in the writer task, so no
    binary column exchanges). ``split_col=None`` sends every row to the one
    split; a null or unknown split value raises ValueError. Staging files get
    their final names only after the job succeeds, so a failed job leaves no
    final-named partial shard. Shuffle first; the write adds no exchange."""
    import pyarrow as pa
    from pyspark import TaskContext

    prefixes = {s: str(s).lower() for s in splits}  # reference preprocess.py:119
    for p in prefixes.values():
        os.makedirs(os.path.join(output_dir, "data", p), exist_ok=True)
    staging = os.path.join(output_dir, "data", f"_staging-{uuid.uuid4().hex}")
    os.makedirs(staging)
    if isinstance(payload, str):
        df = df.select(*([split_col] if split_col else []), payload)
    encode = itemgetter(payload) if isinstance(payload, str) else payload

    def write_task(batches):
        task = TaskContext.get()
        part = task.partitionId()
        paths = {s: os.path.join(staging, f"{p}-{part:05d}.{task.taskAttemptId()}")
                 for s, p in prefixes.items()}
        files = {s: open(path, "wb") for s, path in paths.items()}
        counts = Counter()
        try:
            for batch in batches:
                for row in batch.to_pylist():
                    key = row[split_col] if split_col else splits[0]
                    counts[key] += 1
                    if key in files:
                        write_record(files[key], encode(row))
        finally:
            for fh in files.values():
                fh.close()
        rows = [dict(split=s, part=part, records=counts[s], path=paths[s]) for s in splits]
        rows += [dict(split=repr(k), part=part, records=n, path=None)
                 for k, n in counts.items() if k not in files]
        yield pa.RecordBatch.from_pylist(rows)

    try:
        schema = "split string, part long, records long, path string"
        reports = df.mapInArrow(write_task, schema).collect()
        strays = sorted({r.split for r in reports if r.path is None})
        if strays:
            raise ValueError(f"{split_col} holds {', '.join(strays)}, not one of {list(splits)}")
        n_shards = len({r.part for r in reports})
        for r in reports:
            p = prefixes[r.split]
            name = f"{p}-{r.part:05d}-of-{n_shards:05d}.tfrecord"
            os.replace(r.path, os.path.join(output_dir, "data", p, name))
        return {s: sum(r.records for r in reports if r.split == s) for s in splits}
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def read_tfrecords_df(spark, path_glob: str):
    """Distributed TFRecord source: binaryFile scan (distributed listing +
    whole-file content) → per-file record parsing in an Arrow-batched flat
    map. One task per file; at 100 TB pair with sharded files so tasks are
    balanced. Returns (path, record binary) rows."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob)

    def parse(batches):
        for pdf in batches:
            paths, records = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                for payload in read_records(path, content=bytes(content)):
                    paths.append(path)
                    records.append(payload)
            yield pd.DataFrame({"path": paths, "record": records})

    return files.select("path", "content").mapInPandas(parse, "path string, record binary")
