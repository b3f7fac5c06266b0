"""Session builder with the engine's standard configs, and the batch
limits of the engine's document operators.

Tuned for the extraction workload (SURVEY.md §4.2): AQE on (runtime
coalescing + skew splitting), Arrow on with batches capped by rows and by
bytes (``ensure_arrow_limits``) so a mega-document ends its batch, and
dynamic partition overwrite so per-bucket re-runs are idempotent.

The engine's one Arrow boundary: every Python operator (extraction, the
ingest sources and the textops folds) reads its input columns with
``to_pylist`` or ``numbers`` and builds its output batches with
``record_batch``; extraction and ingest cut their rows with
``emit_frames``.
"""

from __future__ import annotations

import os
from array import array
from itertools import accumulate, chain
from typing import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession

# Arrow batch limits for the extraction hop: a batch holds at most
# ARROW_MAX_RECORDS rows and closes at the row that brings it to
# ARROW_MAX_BYTES, so it never exceeds the byte cap by more than its last
# document.  16 MiB is above 64 × the ~205 KB average real page, so
# ordinary batches keep their 64 rows.
ARROW_MAX_RECORDS = 64
ARROW_MAX_BYTES = 16 * 1024 * 1024


def ensure_arrow_limits(spark: SparkSession) -> None:
    """Set both Arrow batch limits on ``spark``.  Called where the session
    is built and again where extraction uses it, so a spark-submit session
    built without the ``--conf`` (Spark's default is 10,000 records and no
    byte cap) still batches boundedly."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES))


# Output frame limits: a frame is cut after EMIT_MAX_ROWS rows, or earlier
# once its rows' input reaches EMIT_MAX_BYTES (input length is a safe upper
# proxy for output size), so the output buffer never holds a mega-document
# plus dozens of peers, nor a whole crawl archive's decoded records.
EMIT_MAX_ROWS = 64
EMIT_MAX_BYTES = 8_000_000


def emit_frames(rows: Iterable[tuple[dict, int]], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """(output row, input bytes) pairs → Arrow record batches of
    ``schema``, cut by the two limits above; every row comes out once, in
    order."""
    out: list[dict] = []
    size = 0
    for row, n in rows:
        out.append(row)
        size += n
        if len(out) >= EMIT_MAX_ROWS or size >= EMIT_MAX_BYTES:
            yield record_batch([[row[f.name] for row in out] for f in schema], schema)
            out, size = [], 0
    if out:
        yield record_batch([[row[f.name] for row in out] for f in schema], schema)


def record_batch(columns: Sequence, schema: pa.Schema) -> pa.RecordBatch:
    """One column per field of ``schema`` → one batch, built from Arrow
    buffers: ``pa.array``, ``RecordBatch.from_pylist`` / ``from_pydict``
    and ``Table.from_pydict`` / ``from_pylist`` import pandas on first use
    (pyarrow's array-like probe), which costs a worker ~39 MB of RSS.  A
    column is a list of Python values, a numpy array, or an input
    ``pa.Array`` that passes through unchanged."""
    arrays = [_array(f.type, c) for f, c in zip(schema, columns, strict=True)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def numbers(arr: pa.Array, dtype: type) -> np.ndarray:
    """The values of a fixed-width Arrow array as a numpy view of its data
    buffer (a null slot reads as whatever its buffer holds).
    ``Array.to_numpy()`` and ``pa.array(ndarray)`` import pandas;
    ``np.frombuffer`` does not."""
    return np.frombuffer(arr.buffers()[1], dtype)[arr.offset : arr.offset + len(arr)]


# array / numpy type codes of the fixed-width layouts
_NUMERIC = {pa.int32(): "i", pa.int64(): "q", pa.float64(): "d"}


def _array(typ: pa.DataType, values) -> pa.Array:
    """One column → an Arrow array of ``typ``.  A list of Python values
    (None for null) writes as utf8, int32, int64, double, or a list of
    structs whose value is a columns object (one attribute per struct
    field, each a list, as ``codec.spans.SpanColumns`` holds a document's
    spans), so no per-item object is read; a numpy array writes as a
    fixed-width column without nulls.  Offsets and numbers are native
    arrays, which is Arrow's little-endian layout on the hosts Spark runs
    on."""
    if isinstance(values, pa.Array):
        return values
    n = len(values)
    code = _NUMERIC.get(typ)
    if isinstance(values, np.ndarray):
        return pa.Array.from_buffers(typ, n, [None, pa.py_buffer(np.ascontiguousarray(values, code))])
    valid = _validity(values)
    if code is not None:
        data = array(code, [0 if v is None else v for v in values])
        return pa.Array.from_buffers(typ, n, [valid, pa.py_buffer(data)])
    if pa.types.is_string(typ):
        data = [b"" if v is None else v.encode() for v in values]
        return pa.Array.from_buffers(typ, n, [valid, _offsets(map(len, data)), pa.py_buffer(b"".join(data))])
    if pa.types.is_list(typ) and pa.types.is_struct(typ.value_type):
        cols = [v for v in values if v is not None]
        struct = typ.value_type
        fields = [_array(f.type, list(chain.from_iterable(getattr(c, f.name) for c in cols))) for f in struct]
        items = pa.Array.from_buffers(struct, sum(map(len, cols)), [None], children=fields)
        lengths = (0 if v is None else len(v) for v in values)
        return pa.Array.from_buffers(typ, n, [valid, _offsets(lengths)], children=[items])
    raise TypeError(f"no Arrow buffer layout for {typ}")


def _validity(values: list) -> pa.Buffer | None:
    """The validity bitmap (bit i set when values[i] is not None), or None
    when no value is null."""
    if None not in values:
        return None
    bits = bytearray((len(values) + 7) // 8)
    for i, v in enumerate(values):
        if v is not None:
            bits[i >> 3] |= 1 << (i & 7)
    return pa.py_buffer(bits)


def _offsets(lengths: Iterable[int]) -> pa.Buffer:
    return pa.py_buffer(array("i", accumulate(lengths, initial=0)))


def default_cpus() -> int:
    """``local[N]`` parallelism: ``SPARK_GRAFT_CPUS``, else the host's core
    count.  More Python workers than cores only multiplies the cost each
    worker pays on its first task."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def build_session(
    cpus: int | None = None,
    app_name: str = "go_readability_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # articles/documents tables are scan-bound at corpus scale; zstd
        # cuts bytes-on-disk ~1.5-2x vs snappy at comparable decode cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # extraction at high parallelism is allocation-heavy (arrow buffers
        # per concurrent task); a larger heap measurably reduces GC stalls
        # (local[16]: 2637 -> 2954 docs/s from 8g -> 24g alone)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_arrow_limits(spark)
    return spark
