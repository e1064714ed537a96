from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .tables import load_tables, register_views

__all__ = ["load_tables", "register_views"]


def _file_rows_df(
    binary: DataFrame,
    rows_of_file: Callable[[str, bytes], list[dict]],
    schema: StructType,
) -> DataFrame:
    """The one file-to-rows UDTF of the binary sources: a (path,
    content) DataFrame — a `binaryFile` scan or any frame with those
    two columns — becomes `rows_of_file(path, content)`'s rows, decoded
    executor-side in a `mapInArrow` node, with columns in `schema`
    order. Every `*_df` reader in this package (GRIB decode and scan,
    CDXJ, sitemap, WARC/WET, JSONL) is this node with its own per-file
    function.

    Each output column is built straight from the row values as one
    Arrow array of its field's type (a float32 ndarray becomes a
    `list<float>` element without a Python float per point); a key a
    row lacks is NULL. `from_pandas=True` keeps the pandas converter's
    rule that a float NaN, also inside an array, arrives as NULL."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def batches(it):
        for batch in it:
            rows: list[dict] = []
            paths = batch.column(0).to_pylist()
            contents = batch.column(1).to_pylist()
            for path, content in zip(paths, contents):
                rows.extend(rows_of_file(path, content))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r.get(f.name) for r in rows], type=f.type,
                             from_pandas=True)
                    for f in arrow_schema
                ],
                schema=arrow_schema,
            )

    return binary.select("path", "content").mapInArrow(batches, schema=schema)
