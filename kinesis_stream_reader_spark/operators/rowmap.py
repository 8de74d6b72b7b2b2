"""Row-map adapter: run a plain per-row Python kernel over a DataFrame
in one ``mapInArrow`` pass.

A media kernel decodes, explodes or parses ONE record and returns its
output rows. Everything around it — reading the Arrow columns, gathering
the output tuples, building typed RecordBatches — lives here once
instead of in a hand-written batch closure per kernel. Payloads stay
opaque to the JVM (no codegen over blob contents) and one task never
holds more than ``spark.sql.execution.arrow.maxRecordsPerBatch`` input
rows of payload at a time.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Apply ``fn`` to every row of ``df``; the result has DDL ``schema``.

    ``fn`` receives the row's column values positionally, as plain
    Python values (``bytes`` for BINARY, ``dict`` for structs), and
    returns an iterable of output tuples in ``schema`` column order: a
    one-element list for a 1->1 kernel, any number of tuples for a 1->N
    kernel (frames, cuts, chunks). The Arrow schema is derived once on
    the driver, so every output batch carries exactly the types the JVM
    reads back.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def batches(it):
        for batch in it:
            args = zip(*(col.to_pylist() for col in batch.columns))
            rows = [out for row in args for out in fn(*row)]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                # from_pandas=True: a NaN result reads back as null
                [
                    pa.array(col, type=field.type, from_pandas=True)
                    for col, field in zip(cols, arrow_schema)
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(batches, schema)


def doc_id_seed(documents: DataFrame) -> DataFrame:
    """``documents.doc_id`` spread over ``spark.sql.shuffle.partitions``
    partitions: the seed every synthetic media corpus is built from.

    A column-pruned parquet scan often lands in ONE split, which would
    serialize the Arrow codec batches — and AQE would coalesce a
    column-repartition right back (it sizes by bytes, blind to
    Python-UDF cost), so the count is EXPLICIT, which AQE respects.
    Shuffling longs costs nothing next to the codec work."""
    n_parts = int(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return documents.select("doc_id").repartition(n_parts)
