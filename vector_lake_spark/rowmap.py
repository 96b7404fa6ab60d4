"""The one per-document Arrow operator: ``map_rows``.

Every codec, probe and fixture stage that runs Python once per document
(decode a payload, mux a fixture, hash pixels) goes through this
function, so the batch loop, the output frame build and the single
``mapInPandas`` node live in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T


def map_rows(df: DataFrame, fn, schema) -> DataFrame:
    """One ``mapInPandas`` stage that calls ``fn(row)`` for every row of
    ``df`` (a namedtuple over ``df``'s columns: ``row.media_id`` and
    positional unpacking both work). ``fn``
    yields zero or more output rows, each a tuple in ``schema``'s field
    order, so 1:1 (probe/decode) and 1:N (frames, windows, records)
    stages share one shape. ``schema`` is a ``StructType`` or a DDL
    string; its field names are resolved once, on the driver."""
    struct = schema
    if not isinstance(struct, T.StructType):
        struct = T.StructType.fromDDL(schema)
    names = struct.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = [
                out for row in pdf.itertuples(index=False) for out in fn(row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema=struct)
