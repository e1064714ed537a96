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
    executor-side in Arrow batches, with columns in `schema` order.
    Every `*_df` reader in this package (GRIB decode and scan, CDXJ,
    sitemap, WARC/WET, JSONL) is this node with its own per-file
    function."""
    import pandas as pd

    columns = schema.names

    def batches(it):
        for pdf in it:
            rows: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(rows_of_file(path, bytes(content)))
            yield pd.DataFrame(rows, columns=columns)

    return binary.select("path", "content").mapInPandas(batches, schema=schema)

