"""Sinks. The reference writes ``histogram.csv`` via
``np.savetxt(fmt="%1.2f, %d")`` — two columns, no header (main.py:124,
README.md:5).

``write_histogram_csv`` reproduces that byte format. ``coalesce(1)`` exists
only for single-file parity with the reference; at scale leave
``single_file=False`` and let each reducer write its shard (the histogram is
small post-aggregation anyway, so even coalesce(1) is cheap — it happens
*after* the final aggregation, not on raw data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_histogram_csv(histo: DataFrame, path: str, single_file: bool = True) -> None:
    """``(value, pixel_count)`` -> lines ``"%1.2f, %d"`` (main.py:124)."""
    lines = histo.orderBy("bin").select(
        F.format_string("%1.2f, %d", F.col("value"), F.col("pixel_count")).alias("line")
    )
    if single_file:
        lines = lines.coalesce(1)
    lines.write.mode("overwrite").text(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Generic columnar sink; ``partition_by`` drives partition pruning for
    downstream readers (the 100 TB default for fact tables)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 64,
    key_col: str = "doc_id",
    shuffle: bool = True,
) -> None:
    """Training-data export: exactly ``n_shards`` balanced JSON-lines
    shards with a DETERMINISTIC global pseudo-shuffle.

    Trainers stream shards sequentially, so corpus order must be
    decorrelated from ingest order (domain/time clumps bias early steps) —
    but reproducibly, or two exports of the same corpus train different
    models. Both come from one md5 digest per row: shard = hash partition
    of the digest (same key -> same shard on every run, shard sizes
    balanced by uniformity), order-within-shard = sort by digest
    (rerun-invariant, no RNG state anywhere). One repartition exchange +
    in-partition sort; no global sort, no driver involvement — the same
    layout/rerun-invariance argument as the hash split/sample operators
    (operators/pipeline.py).
    """
    digest = F.md5(
        F.concat(F.lit("shard:"), F.col(key_col).cast("string"))
    )
    keyed = df.withColumn("_h", digest).repartition(n_shards, F.col("_h"))
    if shuffle:
        keyed = keyed.sortWithinPartitions("_h")
    keyed.drop("_h").write.mode("overwrite").json(path)

