from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .tables import load_tables, register_views

__all__ = ["load_tables", "register_views"]


def arrow_rows(
    frame: DataFrame,
    columns_of: Callable[..., dict],
    schema: StructType | str,
) -> DataFrame:
    """The one Python row node of the package: every executor-side
    Python mapper that turns input rows into output rows is this
    `mapInArrow` node with its own `columns_of`.

    Per Arrow batch, `columns_of` receives `frame`'s columns as Python
    lists, in column order, and returns `{field: values}` for every
    field of `schema` (a StructType or a DDL string); a row may yield
    no output row or many. A timestamp arrives as a naive UTC datetime:
    pyarrow reads an aware datetime's wall time as UTC when it builds
    the column back, which would shift a passed-through value by the
    session time zone's offset.

    Each output column is built straight from its values as one Arrow
    array of its field's type, and one RecordBatch goes out per input
    batch (an empty batch gives an empty batch with the schema). `from_pandas=True` keeps the pandas
    converter's rules: a float NaN, also inside an array, arrives as
    NULL, and a float32 ndarray becomes a `list<float>` element without
    a Python float per point."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def values(column):
        if pa.types.is_timestamp(column.type) and column.type.tz:
            column = column.cast(pa.timestamp(column.type.unit))
        return column.to_pylist()

    def batches(it):
        for batch in it:
            columns = columns_of(*map(values, batch.columns))
            yield pa.RecordBatch.from_arrays(
                [pa.array(columns[f.name], type=f.type, from_pandas=True)
                 for f in arrow_schema],
                schema=arrow_schema,
            )

    return frame.mapInArrow(batches, schema=schema)


def _file_rows_df(
    binary: DataFrame,
    rows_of_file: Callable[[str, bytes], list[dict]],
    schema: StructType,
) -> DataFrame:
    """The file-to-rows UDTF of the binary sources: a (path, content)
    DataFrame — a `binaryFile` scan or any frame with those two columns
    — becomes `rows_of_file(path, content)`'s rows, decoded
    executor-side in the `arrow_rows` node, with columns in `schema`
    order. Every `*_df` reader in this package (GRIB decode and scan,
    CDXJ, sitemap, WARC/WET, JSONL) is this adapter with its own
    per-file function; a key a row lacks is NULL."""
    names = schema.fieldNames()

    def columns_of(paths, contents):
        rows = [row for path, content in zip(paths, contents)
                for row in rows_of_file(path, content)]
        return {name: [r.get(name) for r in rows] for name in names}

    return arrow_rows(binary.select("path", "content"), columns_of, schema)
