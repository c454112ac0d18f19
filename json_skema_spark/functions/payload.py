"""The one Python-worker boundary of every stage that reads a ``binary``
payload column, and the one codec dispatch those stages share.

The reference checks string content with one keyword, ``format``, behind one
dispatch (Format.kt). The audio/image payload checks are its analogue here,
and every one of them is a per-row numpy function behind two shared pieces:

- ``map_payload``: ``select(cols).mapInArrow`` with one pass over each Arrow
  record batch. Scalar columns arrive as Python values (``to_pylist``); a
  ``binary``/``large_binary`` column arrives as zero-copy ``memoryview``
  slices of the Arrow data buffer (``None`` for nulls), so no payload is
  copied into a Python ``bytes`` on the way in. Python cost is per batch;
  the per-row work is the stage's own numpy. Each input batch gives one
  output batch, typed from the stage's DDL schema.
- ``Decoders``: a by-value snapshot of a codec registry, callable as
  ``decode(codec, payload)``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

Row = Callable[..., Iterable[tuple]]


def _views(arr: pa.Array) -> list[memoryview | None]:
    """One zero-copy ``memoryview`` per row of a binary/large_binary array,
    ``None`` for nulls. A sliced array shares its parent's buffers, so the
    offsets are read from the array's own slice offset on."""
    n = len(arr)
    if n == 0:
        return []
    _validity, offsets, data = arr.buffers()
    dtype = np.dtype(np.int64 if pa.types.is_large_binary(arr.type) else np.int32)
    offs = np.frombuffer(offsets, dtype, count=n + 1,
                         offset=arr.offset * dtype.itemsize).tolist()
    mv = memoryview(b"" if data is None else data)
    return [None if null else mv[a:b] for null, a, b in
            zip(arr.is_null().to_pylist(), offs, offs[1:])]


def batch_columns(batch: pa.RecordBatch) -> list[list]:
    """The batch's columns as Python lists: payload views for binary
    columns, ``to_pylist`` values for the rest."""
    return [_views(c) if pa.types.is_binary(c.type)
            or pa.types.is_large_binary(c.type) else c.to_pylist()
            for c in batch.columns]


def map_payload(df: DataFrame, cols: Sequence[str], schema: str,
                task: Callable[[], Row]) -> DataFrame:
    """Run a per-row function over ``df.select(*cols)`` in Arrow batches.

    ``task()`` is called once per Spark task and returns the per-row
    function, so a stage may keep per-task state (a cache) in its closure.
    The row function takes one argument per column of ``cols``, in order,
    and returns an iterable of output rows (0, 1 or many), each a tuple in
    the field order of the DDL ``schema``."""
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        row = task()
        for batch in batches:
            out = [r for values in zip(*batch_columns(batch))
                   for r in row(*values)]
            columns = list(zip(*out)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
                schema=arrow_schema)

    return df.select(*cols).mapInArrow(run, schema)


class Decoders:
    """A by-value snapshot of a codec registry and the one decode dispatch.

    ``registry`` maps codec -> decoder; ``known`` names the codecs a
    deployment may register, so a known codec without a decoder reports
    ``codec_not_supported:<codec>`` and any other ``unknown_codec:<codec>``.
    ``failed`` is what a failed decode returns before its error string,
    e.g. ``(None, 0)`` for ``(signal, sr_hz, error)`` decoders. A decoder
    exception, or a result of the wrong arity, is contained per row as
    ``decode_error:<type>``: a bad row gives a verdict, never a task failure.

    The ``native`` decoders (this package's own) read the payload view
    directly; registered ones receive ``bytes`` (``None`` for a null
    payload). A stage builds the snapshot on the driver and its closure
    ships it to the executors by value, with the known set: an executor's
    re-imported module holds only the built-in decoders, so a module-level
    lookup there would lose runtime registrations and report
    ``unknown_codec`` where the driver says ``codec_not_supported``.
    Register decoders before building the DataFrame plan."""

    def __init__(self, registry: dict[str, Any], known: Iterable[str],
                 failed: tuple, native: tuple):
        self.fns = dict(registry)
        self.known = frozenset(known)
        self.failed = failed
        self.native = native

    def __call__(self, codec: Any, payload: Any) -> tuple:
        fn = self.fns.get(codec)
        if fn is None:
            kind = "codec_not_supported" if codec in self.known \
                else "unknown_codec"
            return (*self.failed, f"{kind}:{codec}")
        if payload is not None and fn not in self.native:
            payload = bytes(payload)
        try:
            out = tuple(fn(payload))
        except Exception as exc:  # a decoder bug must not kill the task
            return (*self.failed, f"decode_error:{type(exc).__name__}")
        if len(out) != len(self.failed) + 1:
            return (*self.failed, "decode_error:ValueError")
        return out
