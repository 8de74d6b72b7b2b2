"""Arrow adapters: run a plain Python kernel over a DataFrame in one
``mapInArrow`` or ``applyInArrow`` pass.

``map_rows``: a media kernel decodes, explodes or parses ONE record and
returns its output rows. ``map_batches``: a numpy kernel scores a whole
Arrow batch of vectors at once (GEMMs, argmins, census partials).
``group_batches``: a numpy kernel sees one whole group, or one
cogrouped pair of groups (a top-k grid cell, a dedup block, a fixture
shard). Everything around the kernel — reading the Arrow columns,
building typed RecordBatches from the Arrow schema derived once from
the DDL — lives here once instead of in a hand-written closure per
kernel, with no pandas round trip. Payloads stay opaque to the JVM (no
codegen over blob contents) and a map task never holds more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` input rows at a time.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
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


def map_batches(
    df: DataFrame,
    kernel: Callable[[Iterator[dict]], Iterable[dict]],
    schema: str,
) -> DataFrame:
    """Run the numpy ``kernel`` over every partition of ``df``; the
    result has DDL ``schema``.

    ``kernel`` receives an iterator of ``{column: ndarray}`` dicts, one
    per non-empty Arrow batch of the partition: scalar columns arrive
    1-D, array columns 2-D ``(rows, width)``. It yields dicts of output
    columns in any number, per batch or once after draining the
    iterator (a per-task census); a 2-D value becomes an ARRAY column.
    A null vector, a null element or unequal widths in an array column
    raise ``ValueError`` naming the column.
    """
    arrow_schema = _arrow_schema(schema)

    def batches(it):
        inputs = (_batch_columns(b) for b in it if b.num_rows)
        for out in kernel(inputs):
            yield _record_batch(out, arrow_schema)

    return df.mapInArrow(batches, schema)


def group_batches(
    df: DataFrame,
    keys: list[str],
    kernel: Callable[..., dict],
    schema: str,
    other: DataFrame | None = None,
) -> DataFrame:
    """Run the numpy ``kernel`` once per ``keys`` group of ``df``; the
    result has DDL ``schema``.

    ``kernel`` receives the group as one ``{column: ndarray}`` dict, key
    columns included, shaped as in ``map_batches`` (and rejecting the
    same malformed vectors), and returns one dict of output columns.
    With ``other``, both sides are grouped by ``keys`` and cogrouped:
    ``kernel(left, right)`` runs once per key present on either side,
    and a side with no rows for the key arrives as a 0-row dict. A group
    is held in memory whole, so the caller bounds group sizes (grid
    cells, clusters, shards).
    """
    import pyarrow as pa

    arrow_schema = _arrow_schema(schema)

    def columns(table) -> dict:
        return _batch_columns(
            pa.RecordBatch.from_arrays(
                [c.combine_chunks() for c in table.columns], schema=table.schema
            )
        )

    def table(out: dict):
        return pa.Table.from_batches([_record_batch(out, arrow_schema)])

    grouped = df.groupBy(*keys)
    if other is None:
        return grouped.applyInArrow(lambda t: table(kernel(columns(t))), schema)
    return grouped.cogroup(other.groupBy(*keys)).applyInArrow(
        lambda lt, rt: table(kernel(columns(lt), columns(rt))), schema
    )


def _arrow_schema(schema: str):
    """The Arrow schema of DDL ``schema``, derived once on the driver."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromDDL(schema))


def _record_batch(out: dict, arrow_schema):
    """Kernel output ``{column: ndarray}`` as a RecordBatch typed by
    ``arrow_schema``; a 2-D value becomes an ARRAY column."""
    import pyarrow as pa

    cols = []
    for field in arrow_schema:
        col = np.asarray(out[field.name])
        if col.ndim == 2:
            offsets = np.arange(len(col) + 1) * col.shape[1]
            cols.append(
                pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.array(col.ravel(), field.type.value_type),
                )
            )
        else:
            cols.append(pa.array(col, field.type))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _batch_columns(batch) -> dict:
    """One Arrow batch as ``{column: ndarray}``; list columns 2-D."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for name, col in zip(batch.schema.names, batch.columns):
        if not pa.types.is_list(col.type):
            cols[name] = col.to_numpy(zero_copy_only=False)
            continue
        if col.null_count:
            raise ValueError(f"column {name!r}: null vector")
        values = col.flatten()
        if values.null_count:
            raise ValueError(f"column {name!r}: null vector element")
        widths = pc.list_value_length(col).to_numpy()
        width = int(widths[0]) if len(widths) else 0
        if (widths != width).any():
            raise ValueError(
                f"column {name!r}: unequal vector widths "
                f"{int(widths.min())}..{int(widths.max())}"
            )
        cols[name] = values.to_numpy(zero_copy_only=False).reshape(
            len(col), width
        )
    return cols


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
