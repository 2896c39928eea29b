"""Data-layout management — the write-side operations that keep a 100 TB
parquet lake scannable.

Two chronic lake problems and their operators:

* **Small files.** Streaming ingest and fine-grained partitioning produce
  thousands of KB-sized files; every one costs a task, a footer read, and a
  namenode/objectstore round-trip, and scan throughput collapses.
  ``compact_parquet`` rewrites a dataset into size-targeted files.

* **No data locality for range predicates.** Row-group min/max pruning only
  helps if values are clustered; a randomly-written table has every file
  spanning the whole value domain, so nothing prunes.
  ``write_range_clustered`` range-partitions and sorts on the cluster
  column(s) — each output file then covers a narrow, near-disjoint value
  band, and any range predicate skips all but a few files (the poor man's
  Z-order; exact for single-column predicates).

Both are plain DataFrame writes — no table format required — and both are
the in-repo analog of what Delta/Iceberg `OPTIMIZE` does.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith("_")
        )
    return out


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the parquet dataset at ``src`` into ``dst`` with file count
    chosen from the dataset's ACTUAL byte size (sum of file lengths /
    target). Returns the number of output files written.

    Uses coalesce, not repartition: compaction must not pay a shuffle —
    each output task just concatenates input splits. Data content is
    unchanged (pinned by test); only the file layout changes. 128 MB
    default matches the usual HDFS/objectstore sweet spot."""
    files = parquet_files(src)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    spark.read.parquet(src).coalesce(n_files).write.mode("overwrite").parquet(dst)
    return len(parquet_files(dst))


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
) -> None:
    """Range-partition on ``cluster_cols`` then sort within each partition
    before writing: every output file holds one contiguous value band, so
    min/max footer stats become tight and range scans prune whole files.

    repartitionByRange samples the column to build balanced boundaries (one
    pass + one shuffle); the within-partition sort is the piece that also
    tightens PAGE-level stats for predicate pushdown inside a file."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_column_ranges(path: str, column: str) -> list[tuple]:
    """(file, min, max) of ``column`` per parquet file, straight from the
    footer statistics — exactly the metadata a scan planner prunes with."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(parquet_files(path)):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((os.path.basename(f), lo, hi))
    return out


def _bin_expr(col: str, boundaries: list[float]):
    """Bin index of ``col`` against sorted ``boundaries`` (count of
    boundaries <= value) as a JVM HOF — no UDF, no when-chain blowup."""
    from pyspark.sql import functions as F

    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.size(
        F.filter(arr, lambda b: b <= F.col(col).cast("double"))
    ).cast("long")


def zorder_value(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-address column: per-column quantile-bin ids (2^bits bins each,
    boundaries from one approxQuantile pass — a few-KB driver model, the
    same justification as the k-means centroids) with their bits interleaved
    into one long. Sorting by this value gives MULTI-dimensional locality:
    a range predicate on ANY of ``cols`` prunes files, where a plain
    lexicographic sort only prunes on the leading column.

    Bit interleave is a statically-unrolled shiftleft/or expression — all
    JVM codegen, no UDF. bits * len(cols) must fit in 63."""
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError("interleaved z-address exceeds int64")
    n_bins = 1 << bits
    # evenly-spaced interior quantiles; approx is fine — binning only
    # affects locality, never correctness of the data itself
    probs = [i / n_bins for i in range(1, n_bins)]
    z = F.lit(0).cast("long")
    bin_cols = []
    for ci, c in enumerate(cols):
        bounds = df.approxQuantile(c, probs, 0.001)
        bin_cols.append((ci, _bin_expr(c, sorted(set(bounds)))))
    for bit in range(bits - 1, -1, -1):  # MSB first
        for ci, b in bin_cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(b, bit).bitwiseAND(F.lit(1).cast("long"))
            )
    return z


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Z-order clustering (the Delta/Iceberg `OPTIMIZE ZORDER BY` analog):
    range-partition + sort on the interleaved z-address so every output
    file covers a small HYPER-RECTANGLE of the value space — footer min/max
    stats are tight on EVERY cluster column at once, and a selective
    predicate on any one of them skips most files. write_range_clustered
    remains the better choice when queries only ever filter the leading
    column (z-order trades per-column tightness for multi-column
    coverage). Locality win is pinned in tests/test_layout.py by comparing
    per-file footer ranges against a single-column sort."""
    z = zorder_value(df, cluster_cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_in_place(
    spark: SparkSession,
    data_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a parquet directory IN PLACE with a temp-and-swap:
    the rewrite lands in ``<dir>.compact``, then two renames swap it live.
    A crash before the first rename leaves the live data untouched. Between
    the two renames there is a brief window with no live directory: a crash
    THERE leaves the data stranded in ``<dir>.old`` — this function restores
    it on any failure it can catch, and the streaming sinks' reconcile pass
    self-heals on restart; a direct (non-streaming) caller killed at exactly
    that point recovers manually by renaming ``<dir>.old`` back. Returns the
    output file count. ``operators.lsh_index.compact`` delegates here for
    both index kinds after streaming appends decay into thousands of small
    files."""
    import shutil

    tmp = data_dir + ".compact"
    old = data_dir + ".old"
    compact_parquet(spark, data_dir, tmp, target_file_bytes)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(data_dir, old)
    try:
        os.rename(tmp, data_dir)
    except OSError:
        # restore the live directory before propagating — the no-live-dir
        # window must not outlive this call
        os.rename(old, data_dir)
        raise
    # post-swap reap is best-effort: the swap already succeeded, so a
    # cleanup failure must not fail the compaction (stale .old is reclaimed
    # by the next run's pre-swap rmtree)
    shutil.rmtree(old, ignore_errors=True)
    return len(parquet_files(data_dir))
