"""The one Arrow adapter behind every per-row (id, bytes) decode pass.

Every per-clip / per-image / per-video operator has the same shape: read the
payload column, decode each row, turn the decode into zero, one or many
output rows, and turn a malformed payload into a ``decode_error`` row rather
than a failed Spark task. :func:`map_payloads` owns that shape once; an
operator is a plain ``fn(raw) -> row dict | [row dicts]`` that stays callable
on local bytes.

Execution: ``mapInArrow`` over the projection ``(id cast to string, bytes)``,
so the scan prunes every other column. ``raw`` is a zero-copy numpy slice of
the Arrow value heap (a pandas conversion would allocate one PyBytes per
payload); each output batch is built once, typed from the DDL, so 64-bit
hashes next to NULLs keep every bit (no pandas float64 coercion).
"""

from __future__ import annotations

import struct
import zlib
from typing import Callable, Iterable, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: what a per-row decode raises for a malformed or unsupported payload; the
#: adapter turns these into one ``decode_error`` row. Anything else is a bug
#: and fails the task. ``zlib.error`` comes from corrupt PNG IDAT streams,
#: ``struct.error`` from truncated fixed-size headers.
DECODE_ERRORS = (ValueError, TypeError, NotImplementedError, struct.error,
                 zlib.error)

#: per-row function: payload view (None for a NULL payload) -> one row dict,
#: or an iterable of 0..n row dicts; keys absent from a row are NULL
RowFn = Callable[..., Union[dict, Iterable[dict]]]


def _binary_views(bin_col, n_rows: int):
    """Zero-copy (offsets, value-heap, null-mask) views over an Arrow binary
    column: validity bitmap, offsets, and the contiguous value heap — per-row
    payloads become numpy slices of the heap, never PyBytes copies (the pandas
    conversion would allocate a ~60 KB bytes object per clip, doubling memory
    traffic). Handles both ``binary`` (int32 offsets) and ``large_binary``
    (int64 offsets, e.g. under spark.sql.execution.arrow.useLargeVarTypes)."""
    import pyarrow as pa

    if pa.types.is_large_binary(bin_col.type):
        off_dtype, off_width = np.int64, 8
    elif pa.types.is_binary(bin_col.type):
        off_dtype, off_width = np.int32, 4
    else:
        raise TypeError(f"expected a (large_)binary payload column, got {bin_col.type}")
    bufs = bin_col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype,
                            count=n_rows + 1, offset=bin_col.offset * off_width)
    heap = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else None
    nulls = bin_col.is_null().to_numpy(zero_copy_only=False)
    return offsets, heap, nulls


def ddl_schemas(ddl: str):
    """(Spark StructType, Arrow schema) of a DDL string; parsed on the driver,
    so the Arrow schema ships to the workers inside the batch function."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    return schema, to_arrow_schema(schema)


def map_payloads(df: DataFrame, id_col: str, bytes_col: str, ddl: str,
                 fn: RowFn, with_id: bool = False) -> DataFrame:
    """Run ``fn`` once per row of ``df``'s payload column in one mapInArrow.

    ``ddl``'s first column is the output id column: the adapter fills it with
    the row's ``id_col`` (cast to string) on every row ``fn`` emits, in input
    order. ``fn(raw)`` — ``fn(raw, rid)`` when ``with_id`` — gets a zero-copy
    uint8 view of the payload, or None for a NULL payload, and returns one
    row dict or an iterable of 0..n row dicts. If it raises one of
    :data:`DECODE_ERRORS`, the row becomes exactly one output row: the id,
    ``decode_error=str(e)`` when ``ddl`` has that column, NULL elsewhere.

    State ``fn`` closes over (e.g. a filterbank cache) is unpickled with the
    function once per Spark task, so it is per task, never shared.
    """
    schema, arrow_schema = ddl_schemas(ddl)
    id_name = arrow_schema.names[0]
    has_error = "decode_error" in arrow_schema.names

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            n_rows = batch.num_rows
            ids = batch.column(0).to_pylist()
            offsets, heap, nulls = _binary_views(batch.column(1), n_rows)
            rows = []
            for i in range(n_rows):
                rid = ids[i]
                raw = None if nulls[i] else heap[offsets[i]:offsets[i + 1]]
                try:
                    out = fn(raw, rid) if with_id else fn(raw)
                    out = [out] if isinstance(out, dict) else list(out)
                except DECODE_ERRORS as e:
                    out = [{"decode_error": str(e)} if has_error else {}]
                rows.extend({**r, id_name: rid} for r in out)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.select(F.col(id_col).cast("string"), F.col(bytes_col)
                     ).mapInArrow(run, schema=schema)
