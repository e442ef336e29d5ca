"""The one JVM↔Python row-map crossing: ``map_docs``.

Every row-map operator in the package is a *kernel* — per-slice Python over
plain lists — run by ``map_docs`` inside one ``mapInArrow``. The driver here
owns everything around the kernel, once:

- the output Arrow schema, derived from the operator's DDL string on the
  Spark driver, so no Arrow builder is kept in sync with the DDL by hand;
- the task's partition id, written to an ``exec_partition_id`` column;
- byte-budget slicing of the blob column: a batch holding several ~MiB
  blobs is processed and emitted in slices of at most ``byte_budget`` blob
  bytes (always ≥1 row), which bounds peak worker memory regardless of
  ``spark.sql.execution.arrow.maxRecordsPerBatch``;
- one bulk ``to_pylist`` per kernel input column per slice — never
  per-row Arrow scalars;
- pass-through columns, sliced (never re-converted) from the input, or
  null-filled when the input lacks them;
- the per-row never-raise guard of kernels whose output has ``parse_ok``;
- RecordBatch assembly.

Kernel contract: ``kernel(*lists) -> dict``. It receives one list per name
in ``args`` (None when the input lacks that column) and returns, for every
DDL column that is neither passed through nor ``exec_partition_id``, a list
or a ready Arrow array of that column's type. A kernel may emit any number
of rows per input row by also returning ``ROW``: the input-row index (within
the slice) of each output row, by which pass-through columns are taken.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import types as T

DEFAULT_BYTE_BUDGET = 32 << 20  # 32 MiB of raw blob bytes per slice
ROW = "__row__"
PARTITION_COL = "exec_partition_id"

_ATOMIC = {
    t().simpleString(): t()
    for t in (
        T.StringType, T.BinaryType, T.BooleanType, T.DateType,
        T.TimestampType, T.TimestampNTZType, T.DoubleType, T.FloatType,
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    )
}


def _parse_ddl(ddl: str) -> T.StructType:
    """Spark DDL (``name type, ...``; atomic types, ``array<…>``,
    ``struct<name:type, …>``) → StructType, without a JVM, so a kernel's
    Arrow schema can also be derived off Spark."""
    toks = re.findall(r"\w+|\S", ddl)
    pos = 0

    def take(expect: str | None = None) -> str:
        nonlocal pos
        tok = toks[pos] if pos < len(toks) else ""
        if expect is not None and tok != expect:
            raise ValueError(f"DDL {ddl!r}: expected {expect!r}, got {tok!r}")
        pos += 1
        return tok

    def dtype() -> T.DataType:
        name = take().lower()
        if name == "array":
            take("<")
            elem = dtype()
            take(">")
            return T.ArrayType(elem)
        if name == "struct":
            take("<")
            inner = fields(">")
            take(">")
            return inner
        if name not in _ATOMIC:
            raise ValueError(f"DDL {ddl!r}: unsupported type {name!r}")
        return _ATOMIC[name]

    def fields(end: str) -> T.StructType:
        out = T.StructType()
        while True:
            name = take()
            if pos < len(toks) and toks[pos] == ":":
                take(":")
            out.add(name, dtype())
            if pos == len(toks) or toks[pos] == end:
                return out
            take(",")

    return fields("")


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark expects back for output DDL ``ddl``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_parse_ddl(ddl))


def _slice_offsets(blob_col, byte_budget: int) -> list[tuple[int, int]]:
    """Split a batch's rows into [start, end) slices whose summed blob bytes
    stay under ``byte_budget`` (always ≥1 row per slice). Lengths come from
    one vectorized kernel — no per-row Arrow scalar objects."""
    import pyarrow.compute as pc

    lens = pc.binary_length(blob_col).fill_null(0).to_pylist()
    slices = []
    start = 0
    acc = 0
    for i, ln in enumerate(lens):
        if acc + ln > byte_budget and i > start:
            slices.append((start, i))
            start = i
            acc = 0
        acc += ln
    if start < len(lens):
        slices.append((start, len(lens)))
    return slices


def _partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def _as_array(values, typ: pa.DataType) -> pa.Array:
    return values if isinstance(values, pa.Array) else pa.array(values, typ)


def _guarded(kernel: Callable, ins: list, n: int, made: list[pa.Field]) -> dict:
    """Run ``kernel`` over the slice; if it raises, run it row by row and
    give each raising row ``parse_ok=false`` and nulls in every other
    column the kernel makes — one poison document never kills the task."""
    try:
        return kernel(*ins)
    except Exception:
        pass
    parts: dict[str, list[pa.Array]] = {f.name: [] for f in made}
    for i in range(n):
        try:
            out = kernel(*(None if c is None else c[i : i + 1] for c in ins))
            row = {f.name: _as_array(out[f.name], f.type) for f in made}
        except Exception:
            row = {f.name: pa.nulls(1, f.type) for f in made}
            row["parse_ok"] = pa.array([False])
        for name, arr in row.items():
            parts[name].append(arr)
    return {name: pa.concat_arrays(arrs) for name, arrs in parts.items()}


def arrow_map(
    kernel: Callable[..., dict],
    out_ddl: str,
    args: Sequence[str],
    keep: Sequence[str] = (),
    blob: str | None = None,
    byte_budget: int = DEFAULT_BYTE_BUDGET,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` callable running ``kernel`` (see the module
    docstring). ``keep`` names the pass-through columns of ``out_ddl``;
    ``blob`` names the column whose byte lengths drive slicing (None: one
    slice per batch). Works off Spark too, with ``exec_partition_id`` -1."""
    schema = arrow_schema(out_ddl)
    made = [f for f in schema if f.name not in keep and f.name != PARTITION_COL]
    guarded = "parse_ok" in schema.names

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        for batch in batches:
            cols = dict(zip(batch.schema.names, batch.columns))
            if blob is not None:
                slices = _slice_offsets(cols[blob], byte_budget)
            else:
                slices = [(0, batch.num_rows)]
            for lo, hi in slices:
                n = hi - lo
                ins = [
                    cols[a].slice(lo, n).to_pylist() if a in cols else None
                    for a in args
                ]
                out = _guarded(kernel, ins, n, made) if guarded else kernel(*ins)
                rows = out.get(ROW)
                m = n if rows is None else len(rows)
                arrays = []
                for f in schema:
                    if f.name in keep:
                        if f.name not in cols:
                            arrays.append(pa.nulls(m, f.type))
                            continue
                        arr = cols[f.name].slice(lo, n)
                        if rows is not None:
                            arr = arr.take(pa.array(rows, pa.int64()))
                        arrays.append(arr)
                    elif f.name == PARTITION_COL:
                        arrays.append(pa.array([pid] * m, f.type))
                    else:
                        arrays.append(_as_array(out[f.name], f.type))
                yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return run


def map_docs(
    df,
    kernel: Callable[..., dict],
    out_ddl: str,
    args: Sequence[str],
    keep: Sequence[str] = (),
    blob: str | None = None,
    byte_budget: int = DEFAULT_BYTE_BUDGET,
):
    """``df`` → ``out_ddl`` frame through ONE ``mapInArrow`` running
    ``kernel``. Only the kernel's inputs and the pass-through columns cross
    the JVM↔Python boundary."""
    cols = [c for c in dict.fromkeys((*args, *keep)) if c in df.columns]
    return df.select(*cols).mapInArrow(
        arrow_map(kernel, out_ddl, args, keep, blob, byte_budget), out_ddl
    )
