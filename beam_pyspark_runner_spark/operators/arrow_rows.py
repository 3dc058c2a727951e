"""Every Python <-> Arrow type rule of the engine's Python kernels, all on
``mapInArrow``: exact Python elements for ``PCol._rows`` and the
CombineFn fold, and pandas frames for ``par_do``.

Elements (``columns``/``to_batch``): no pandas in between, so an element's
types never depend on its batch: each value equals what ``df.collect()``
returns for the row (``None`` for NULL, ints stay ints, decimals exact).
Deliberate differences: timestamps are tz-aware (the same instant
``collect()`` returns naive), and maps nested in arrays or structs are
``(key, value)`` lists, structs dicts.

Frames (``to_pandas``/``from_pandas``): the same values, one column a
Series, and again the same dtypes whatever the batching. Integer, boolean
and float columns take pandas' nullable dtypes (``Int64``, ``boolean``,
``Float64``...), so a NULL is ``pd.NA`` and a NaN stays a NaN, apart from
NULL. Nested columns (arrays, maps, structs) are object Series of the
element values above; timestamps are tz-aware in UTC. pandas is imported
only here, inside the kernel, never on the driver.
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


def _values(c: pa.Array) -> list:
    """One column as a list of exact Python values. A null-free
    primitive column goes through numpy: exact without nulls, and
    several times cheaper than ``to_pylist``."""
    if c.null_count == 0 and any(is_t(c.type) for is_t in _NUMPY_EXACT):
        return c.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_map(c.type):
        return [None if m is None else dict(m) for m in c.to_pylist()]
    return c.to_pylist()


def columns(batch: pa.RecordBatch) -> list[list]:
    """Each column as a list of exact Python values."""
    return [_values(c) for c in batch.columns]


def to_batch(rows: list[tuple], struct: pa.StructType) -> pa.RecordBatch:
    """One RecordBatch from row tuples laid out as ``struct``."""
    return pa.RecordBatch.from_struct_array(pa.array(rows, type=struct))


def to_pandas(batch: pa.RecordBatch):
    """``batch`` as a pandas frame with the dtypes of the module docstring."""
    import pandas as pd

    nullable = {pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
                pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(),
                pa.bool_(): pd.BooleanDtype(), pa.float32(): pd.Float32Dtype(),
                pa.float64(): pd.Float64Dtype()}
    series = [pd.Series(_values(c), dtype=object) if pa.types.is_nested(c.type)
              else c.to_pandas(types_mapper=nullable.get) for c in batch.columns]
    pdf = pd.DataFrame(dict(enumerate(series)), index=pd.RangeIndex(batch.num_rows))
    pdf.columns = batch.schema.names
    return pdf


def from_pandas(pdf, struct: pa.StructType) -> pa.RecordBatch:
    """A frame as one RecordBatch laid out as ``struct``, with the result
    rules of Spark's ``mapInPandas``: columns are taken by name, or by
    position when no label is a string; extra columns are ignored and a
    missing one raises ``KeyError``; a frame without columns gives
    all-NULL rows (none when it is empty)."""
    if len(pdf.columns) == 0:
        return to_batch([{}] * len(pdf), struct)
    if not any(isinstance(c, str) for c in pdf.columns):
        pdf = pdf.iloc[:, :struct.num_fields]
        pdf = pdf.set_axis([f.name for f in struct][:pdf.shape[1]], axis=1)
    return pa.RecordBatch.from_pandas(pdf, schema=pa.schema(struct), preserve_index=False)
