"""Physical layout for data skipping: sort-clustered parquet writes.

Parquet readers prune ROW GROUPS by min/max statistics before reading
data pages.  Stats only help if values are clustered: a randomly-ordered
table has every row group spanning the full value range (no skip);
sorting by the filter column first makes row-group ranges disjoint, so a
selective predicate reads a small fraction of groups.  This is the
single cheapest scan optimization a 100 TB lake has — pay one sort at
write, skip forever.

``write_sorted`` uses ``repartitionByRange`` + ``sortWithinPartitions``:
the range exchange clusters globally (file-level skipping across files),
the local sort clusters within files (row-group-level skipping), and no
single task ever holds the full dataset — this is exactly Spark's
distributed ORDER BY shape, scaling to any size.  For multi-column
skipping, pass several columns; first column dominates (for true
multi-dimensional locality a space-filling-curve key would be the
extension point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _write(df: DataFrame, path: str, parquet_block_bytes: int | None) -> None:
    w = df.write.mode("overwrite")
    if parquet_block_bytes:
        # Row-group granularity bounds how finely stats pruning can skip:
        # a file is pruned row-group-at-a-time, so clustering pays off in
        # proportion to groups-per-file.  Default (128 MB) is right for
        # production files; tests shrink it to model a many-group file.
        w = w.option("parquet.block.size", parquet_block_bytes)
    w.parquet(path)


def write_sorted(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    parquet_block_bytes: int | None = None,
) -> None:
    out = (
        df.repartitionByRange(num_files, *cluster_cols)
        if num_files
        else df.repartitionByRange(*cluster_cols)
    )
    _write(out.sortWithinPartitions(*cluster_cols), path, parquet_block_bytes)


def row_group_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) per row group across all files — what the reader's
    stats-based pruning sees.  pyarrow footer read, no data scan."""
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    return ranges


def skipping_fraction(ranges: list[tuple], lo, hi) -> float:
    """Fraction of row groups a [lo, hi] predicate can SKIP."""
    if not ranges:
        return 0.0
    skipped = sum(1 for mn, mx in ranges if mx < lo or mn > hi)
    return skipped / len(ranges)


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = 16,
    num_files: int | None = None,
    parquet_block_bytes: int | None = None,
) -> None:
    """Write clustered on the Z-order key of (col1, col2): range-exchange
    + local sort on the interleaved key, key column dropped from the
    stored data.  Same distributed-sort shape as ``write_sorted``.

    The Z-curve trades a little locality on each column for real
    locality on BOTH, so range predicates on either column prune row
    groups (the Delta/Iceberg OPTIMIZE ZORDER layout).  Inputs must be
    non-negative ints below 2^bits (rank or bucket other columns
    first): larger values wrap around, which only costs locality.
    """
    from processo_etl_spark.operators.layout import zorder_key

    keyed = df.withColumn("__z", zorder_key([col1, col2], bits))
    out = (
        keyed.repartitionByRange(num_files, "__z")
        if num_files
        else keyed.repartitionByRange("__z")
    )
    _write(out.sortWithinPartitions("__z").drop("__z"), path, parquet_block_bytes)
