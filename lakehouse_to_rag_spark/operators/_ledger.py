"""Shared scheme-record I/O for the append-only bucketed ingest
ledgers (curation.admit_batch's fingerprint table, dedup.
admit_media_batch's signature table).

A ledger directory carries a tiny ``_scheme`` parquet recording how
its rows were bucketed (and, for the media ledger, banded). The
record is load-bearing: reads prune to the batch's own buckets, so a
ledger read under the WRONG scheme would silently miss duplicates.
Two crash classes threaten it (r13 self-review):

- death BETWEEN the data write and the scheme write (bootstrap /
  migration) — handled by the callers' migrate paths, which treat a
  scheme-less table as pre-scheme and re-derive it atomically;
- death MID scheme write — previously left a half-written ``_scheme``
  directory that *exists* but cannot be read, bricking every
  subsequent batch with an AnalysisException. Fixed here twice over:
  ``write_scheme`` stages to a ``staged_dir`` sibling and commits
  it with ``sources.lakehouse.swap_dir`` (so the torn state can no
  longer be created), and ``read_scheme`` treats an unreadable
  record as ABSENT, routing the caller into the same migrate
  self-heal as the other crash class instead of raising forever.

Underscore- and dot-prefixed names are hidden from Spark/Hadoop file
listings, so neither ``_scheme`` nor a swap remnant ever pollutes a
data read; remnants are healed by ``recover_dir`` on the next write.
Single-writer contract throughout (the ledgers' documented
ingest-loop discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def migrate_ledger(
    spark: SparkSession,
    path: str,
    rebucket,
    scheme_fields: dict[str, int],
) -> None:
    """One-time migration of a ledger to its bucket-partitioned
    append-only layout: read the existing table, rewrite it through
    ``rebucket`` (a callable DataFrame -> rows carrying a ``bucket``
    column — the caller's distinct + banding/bucketing projection,
    which also heals a crashed bootstrap's partial rows), record the
    scheme, and commit both in one ``swap_dir`` (remnants healed by
    ``recover_dir``). O(cumulative) once; every subsequent batch
    reads only its colliding buckets."""
    from lakehouse_to_rag_spark.sources.lakehouse import (
        recover_dir,
        staged_dir,
        swap_dir,
        write_layer,
    )

    recover_dir(path)
    rows = spark.read.parquet(path)
    tmp = staged_dir(path)
    write_layer(
        rebucket(rows), tmp, partition_by=["bucket"], fmt="parquet"
    )
    write_scheme(spark, tmp, scheme_fields)
    swap_dir(tmp, path)


def compact_ledger(spark: SparkSession, path: str, split_col: str) -> int:
    """Compact a bucketed ledger through the shared
    ``_compact_index_layout`` swap, ``_scheme`` carried verbatim.
    Single-writer contract: run with the ingest loop QUIESCED.
    Returns the data file count written."""
    from lakehouse_to_rag_spark.operators.similarity import (
        _compact_index_layout,
    )

    return _compact_index_layout(
        spark, path, "bucket",
        carry_dirs=("_scheme",), rewrite_dirs=(), split_col=split_col,
    )


def compact_if_deep(
    spark: SparkSession, path: str, threshold: int, split_col: str
) -> None:
    """The admit loops' in-band compaction trigger: a partitioned
    append writes one file per TOUCHED bucket per batch, so the
    trigger is the MAX per-bucket file count exceeding
    ``threshold``."""
    import pathlib

    per_bucket = [
        len(list(d.glob("*.parquet")))
        for d in pathlib.Path(path).glob("bucket=*")
    ]
    if per_bucket and max(per_bucket) > threshold:
        compact_ledger(spark, path, split_col)


def write_scheme(
    spark: SparkSession, table_path: str, fields: dict[str, int]
) -> None:
    """Atomically record ``fields`` (int-valued) as the one-row
    ``{table_path}/_scheme`` parquet: stage under ``staged_dir``,
    then ``swap_dir`` it into place (replacing any existing record) so
    no reader can ever observe a half-written one."""
    from lakehouse_to_rag_spark.sources.lakehouse import (
        recover_dir,
        staged_dir,
        swap_dir,
        write_layer,
    )

    final = os.path.join(table_path, "_scheme")
    recover_dir(final)
    tmp = staged_dir(final)
    schema = ", ".join(f"{k} int" for k in fields)
    from lakehouse_to_rag_spark.sources.tables import tiny_df

    write_layer(
        tiny_df(spark, [tuple(fields.values())], schema),
        tmp,
        fmt="parquet",
    )
    swap_dir(tmp, final)


def read_scheme(
    spark: SparkSession, table_path: str, keys: tuple[str, ...]
) -> dict[str, int] | None:
    """The ledger's scheme record as ``{key: int}``, or None when the
    record is absent OR unreadable (a torn pre-atomic write, an empty
    directory, garbage bytes) — both route the caller into its
    migrate self-heal, which re-derives data + scheme in one atomic
    swap. Returning None for transient read failures is also correct,
    merely paying one unnecessary O(cumulative) migration."""
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer

    sdir = os.path.join(table_path, "_scheme")
    if not os.path.exists(sdir):
        return None
    try:
        row = read_layer(spark, sdir, fmt="parquet").collect()[0]
        return {k: int(row[k]) for k in keys}
    except Exception:
        return None
