"""Clustered rewrites: the one row distribution behind Delta OPTIMIZE
ZORDER BY, Iceberg sorted and z-ordered ``rewrite_data``, and the
VersionedCatalog's ``cluster_by``/``zorder_by`` writes — one
implementation, so the layouts' clustering semantics cannot drift.

``clustered`` returns the rows range-distributed on (partition tuple,
key) and sorted within each task. Every caller stages the result as ONE
spanning frame of ``parquet_io.staged_slices``: each task writes one file
per tuple it holds, so each file covers one tuple and one narrow key
range, and manifest/footer min/max stay tight on every key column.

The key is the sort columns themselves, or for a z-order a Morton key:
each dimension quantized into 8-bit bins over the TUPLE'S OWN min/max,
the bits interleaved (pure integer codegen — the key never reaches the
data pages). A dimension that is all NULL within a tuple is an inert
axis; a row with a NULL dimension gets key -1, so NULL-keyed rows
cluster together at the low end of their tuple instead of dropping out.

Cost: at most one grouped aggregate — a row count per tuple plus each
z dimension's min/max, a bounded metadata-scale result joined back as a
broadcast (literals when there are no tuple columns); it is skipped for
a sort without tuple columns, which needs neither. The range exchange
samples its bounds, and the caller's staging job is the one write.

File counts: ``files`` per tuple is a target. Without tuple columns the
range has ``files`` tasks, so at most ``files`` files. With ``k``
non-empty tuples it has ``files * k`` tasks; a task boundary inside a
tuple splits it, so a partitioned rewrite writes at most
``files * k + k - 1`` files. ``files == 1`` ranges on the tuple alone:
exactly one file per tuple.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["clustered"]

ZORDER_BITS = 8
TUPLE_CEILING = 10_000  # non-empty partition tuples one rewrite may span


def clustered(
    df: DataFrame,
    by: list[str],
    order: list[str],
    files: int,
    zorder: bool = False,
) -> tuple[DataFrame, int | None]:
    """``df`` distributed for a clustered write, and its row count.

    ``by`` names the partition-tuple columns (none for an unpartitioned
    table), ``order`` the sort columns, or the z-order dimensions when
    ``zorder``; ``files`` is the target file count per tuple. The row
    count comes from the aggregate; it is None for a sort without tuple
    columns, which runs none. An empty input comes back as it is, with
    count 0."""
    from ..operators.util import bounded_rows, local_df

    by, order = list(by), list(order)
    k, n_rows, helpers = 1, None, []
    key = [F.col(c) for c in order]
    if by or zorder:
        dims = order if zorder else []
        stats = bounded_rows(
            df.groupBy(*by).agg(
                F.count(F.lit(1)).alias("_rows"),
                *[F.min(F.col(c).cast("double")).alias(f"_mn{i}")
                  for i, c in enumerate(dims)],
                *[F.max(F.col(c).cast("double")).alias(f"_mx{i}")
                  for i, c in enumerate(dims)],
            ),
            TUPLE_CEILING,
        )
        n_rows = sum(int(r["_rows"]) for r in stats)
        if not n_rows:
            return df, 0
        k = len(stats)
        if zorder:
            mns = [f"_mn{i}" for i in range(len(dims))]
            mxs = [f"_mx{i}" for i in range(len(dims))]
            if by:
                tags = [f"_by{j}" for j in range(len(by))]
                bounds = local_df(
                    df.sparkSession,
                    [tuple(r)[: len(by)] + tuple(r)[len(by) + 1:] for r in stats],
                    T.StructType(
                        [T.StructField(t, df.schema[c].dataType)
                         for t, c in zip(tags, by)]
                        + [T.StructField(m, T.DoubleType()) for m in mns + mxs]
                    ),
                )
                df = df.join(
                    F.broadcast(bounds),
                    [F.col(c).eqNullSafe(F.col(t)) for c, t in zip(by, tags)],
                )
                helpers = tags + mns + mxs
                mns, mxs = [F.col(m) for m in mns], [F.col(m) for m in mxs]
            else:
                mns, mxs = (
                    [F.lit(stats[0][m]).cast("double") for m in ms]
                    for ms in (mns, mxs)
                )
            df = df.withColumn(
                "_zkey",
                _morton(
                    [_bin(F.col(c), mn, mx) for c, mn, mx in zip(dims, mns, mxs)]
                ),
            )
            key, helpers = [F.col("_zkey")], helpers + ["_zkey"]
    ranged = by if files == 1 and by else [*by, *key]
    out = df.repartitionByRange(files * k, *ranged).sortWithinPartitions(*by, *key)
    return out.drop(*helpers), n_rows


def _bin(x: Column, mn: Column, mx: Column) -> Column:
    """``x``'s 8-bit bin over [mn, mx]; 0 on an all-NULL axis (NULL mn),
    NULL for a NULL ``x``."""
    span = mx - mn
    scaled = (x.cast("double") - mn) * F.when(
        span > 0, (2**ZORDER_BITS - 1) / span
    ).otherwise(F.lit(0.0))
    return F.when(mn.isNull(), F.lit(0)).otherwise(F.floor(scaled)).cast("long")


def _morton(bins: list[Column]) -> Column:
    """The bit-interleaved key of ``bins``; -1 when any bin is NULL."""
    zkey = F.lit(0).cast("long")
    for bit in range(ZORDER_BITS):
        for ci, bn in enumerate(bins):
            zkey = zkey + F.shiftleft(
                F.shiftright(bn, bit).bitwiseAND(F.lit(1)), bit * len(bins) + ci
            )
    return F.coalesce(zkey, F.lit(-1).cast("long"))
