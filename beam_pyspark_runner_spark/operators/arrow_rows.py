"""Exact Arrow <-> Python elements for every per-element Python kernel
(``PCol._rows`` and the CombineFn fold, both on ``mapInArrow``).

No pandas in between, so an element's types never depend on its batch:
each value equals what ``df.collect()`` returns for the row (``None`` for
NULL, ints stay ints, decimals exact). Deliberate differences: timestamps
are tz-aware (the same instant ``collect()`` returns naive), and maps
nested in arrays or structs are ``(key, value)`` lists, structs dicts.
"""

import pyarrow as pa

_NUMPY_EXACT = (pa.types.is_integer, pa.types.is_floating, pa.types.is_boolean,
                pa.types.is_string)


def arrow_struct(ddl: str) -> pa.StructType:
    """Arrow struct type of a DDL schema string. Parses through the JVM,
    so call it on the driver and capture the result in the kernel."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return pa.struct(list(to_arrow_schema(_parse_datatype_string(ddl))))


def columns(batch: pa.RecordBatch) -> list[list]:
    """Each column as a list of exact Python values. A null-free
    primitive column goes through numpy: exact without nulls, and
    several times cheaper than ``to_pylist``."""
    cols = []
    for c in batch.columns:
        if c.null_count == 0 and any(is_t(c.type) for is_t in _NUMPY_EXACT):
            cols.append(c.to_numpy(zero_copy_only=False).tolist())
        elif pa.types.is_map(c.type):
            cols.append([None if m is None else dict(m) for m in c.to_pylist()])
        else:
            cols.append(c.to_pylist())
    return cols


def to_batch(rows: list[tuple], struct: pa.StructType) -> pa.RecordBatch:
    """One RecordBatch from row tuples laid out as ``struct``."""
    return pa.RecordBatch.from_struct_array(pa.array(rows, type=struct))
