"""Lakehouse layer sinks/readers.

The reference persists every medallion layer as a Delta table with
``mode="overwrite"`` (airflow/dags/etl.py:110-115, 134-139, 239-244 via
delta-rs). Spark-native equivalent: ``df.write.format("delta")`` when
delta-spark is on the classpath, plain parquet otherwise (this harness
container has no delta-spark — the format is resolved at runtime, and
the engine's semantics don't depend on it).

Scale notes: layer writes partition by a low-cardinality column when
given (e.g. source / date) so downstream reads prune partitions;
``maxRecordsPerFile`` caps file size skew.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Remnant names a crash leaves beside a target: staged dirs
# (``staged_dir``'s ``__upsert_``, then names earlier versions staged
# under) and the displaced old dir (``swap_dir`` writes
# ``.{name}._old_``; the other two are earlier versions' names).
_STAGED = ("__upsert_", "._compact_", "__v_", "__tmp_")
_DISPLACED = ("{}__old_", "{}._old_", ".{}._old_")
# Reserved partition-column name for the key-bucketed upsert layout,
# and the remnant of one of its buckets inside the layer root.
_KB_COL = "_kb"
_KB_REMNANT = re.compile(rf"\.?({_KB_COL}=\d+)(?:__|\._)")


def staged_dir(target: str) -> str:
    """A fresh path to write a rewrite of ``target`` under before
    ``swap_dir`` commits it: a sibling (same filesystem) whose name
    ``recover_dir(target)`` discards if the swap never happens."""
    return f"{target.rstrip('/')}__upsert_{uuid.uuid4().hex[:8]}"


def swap_dir(staged: str, target: str) -> None:
    """Commit the fully written dir ``staged`` as ``target`` — the one
    directory swap behind every parquet-fallback rewrite (the Delta
    overwrite's atomic commit, done by hand). An existing ``target``
    is first renamed to the dot-prefixed sibling
    ``.{name}._old_<uuid>``, then ``staged`` takes its name and the
    old dir is deleted; an absent ``target`` is one rename. Spark's
    file index skips dot-prefixed names, so the displaced dir is never
    read, even when it sits inside a layer root (a ``_kb=N`` bucket).

    A crash at any step leaves a state ``recover_dir(target)`` heals:
    before the first rename the target is intact; between the renames
    only the old dir holds it; after the second the new one serves.
    ``staged`` comes from ``staged_dir(target)``, or lies inside a dir
    that came from ``staged_dir`` of ``target``'s layer (the bucketed
    upsert's per-bucket swaps), so recovery can discard it."""
    head, name = os.path.split(target.rstrip("/"))
    if os.path.exists(target):
        old = os.path.join(head, f".{name}._old_{uuid.uuid4().hex[:8]}")
        os.rename(target, old)
        os.rename(staged, target)
        shutil.rmtree(old)
    else:
        os.rename(staged, target)


def recover_dir(target: str) -> None:
    """Heal the remnants of crashed ``swap_dir`` commits of ``target``:
    staged dirs are discarded (the swap never started, the source is
    intact); a missing ``target`` with a displaced old dir is the
    between-renames window, so the old dir (byte-complete) is renamed
    back; with ``target`` present, old dirs are deleted (death before
    cleanup). The ``_kb=N`` buckets of a bucketed layer at ``target``
    are healed the same way, since the bucketed upsert swaps them one
    by one inside it. Writers call it before reading what they
    rewrite; readers never do, because a rename-back during a live
    writer's between-renames window would make its second rename fail.

    Only names derived from ``target``'s own name (and its buckets'
    names inside it) are touched, never the rest of its parent, so a
    concurrent swap of a sibling layer is left alone. One ``listdir``
    of the parent and one of ``target``; no glob, so paths holding
    ``[?*`` are safe."""
    head, name = os.path.split(target.rstrip("/"))
    _heal(head, name)
    try:
        inner = os.listdir(target)
    except (FileNotFoundError, NotADirectoryError):
        return
    for b in sorted({m[1] for n in inner if (m := _KB_REMNANT.match(n))}):
        _heal(target, b, inner)


def _heal(head: str, name: str, names: list[str] | None = None) -> None:
    """``recover_dir``'s repair of the one name ``name`` in dir
    ``head``, whose listing is ``names`` (listed here when None)."""
    if names is None:
        try:
            names = os.listdir(head or ".")
        except FileNotFoundError:
            return
    staged = tuple(name + s for s in _STAGED)
    displaced = tuple(p.format(name) for p in _DISPLACED)
    olds = []
    for n in sorted(names):
        if n.startswith(staged):
            shutil.rmtree(os.path.join(head, n), ignore_errors=True)
        elif n.startswith(displaced):
            olds.append(os.path.join(head, n))
    target = os.path.join(head, name)
    if olds and not os.path.exists(target):
        # single writer: the between-renames window holds one old dir
        os.rename(olds.pop(0), target)
    for o in olds:
        shutil.rmtree(o, ignore_errors=True)


def _delta_available(spark: SparkSession) -> bool:
    try:
        # py4j resolves attribute chains lazily, so probe the actual
        # classloader instead of touching spark._jvm.io.delta...
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def write_layer(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str | None = None,
) -> str:
    """Write a medallion layer; returns the format used."""
    fmt = fmt or ("delta" if _delta_available(df.sparkSession) else "parquet")
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    return fmt


def read_layer(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    df = spark.read.format(fmt).load(path)
    # layers maintained by the bucketed upsert (below) carry a hidden
    # `_kb=<n>` partition directory level; readers see the layer's
    # logical schema, never the maintenance key. Only the
    # directory-derived partition column is hidden — a layer whose
    # DATA happens to contain a `_kb` column has no `_kb=` subdirs.
    if _KB_COL in df.columns and _kb_partition_dirs(path):
        df = df.drop(_KB_COL)
    return df


def read_partitions(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    schema=None,
    fmt: str | None = None,
) -> DataFrame:
    """Read the rows of a ``partitionBy(col)`` layout whose ``col`` is
    in ``values``, LISTING only their ``{col}=<v>`` directories.

    ``read_layer(path).filter(col.isin(values))`` prunes only after
    Spark's file index has listed every partition directory under
    ``path`` — above ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (32) dirs as a distributed listing job with one task
    per dir (a 64-task job, ~0.43 s, on every served BM25 query).
    Here the existing dirs of the wanted values are passed as the load
    paths, with ``basePath`` keeping ``col`` a partition column, so
    the listing is bounded by ``len(values)``. Values without a
    directory (a query term hashing to an empty bucket, a centroid
    with no vectors) are skipped; when none has one, the result is an
    empty frame with the layout's schema. Swap remnants inside the
    root (``{col}=<v>._old_*``, ``._compact_*``) are never read.
    Values are formatted with ``str()``, the directory names
    ``partitionBy`` writes for integer keys.

    ``schema`` (optional) skips footer-sampling schema inference; it
    must name ``col`` as well. Delta layouts read through
    ``read_layer`` and filter: the Delta log prunes partitions
    without listing directories."""
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    if fmt == "delta":
        return read_layer(spark, path, fmt).filter(F.col(col).isin(list(values)))
    wanted = [os.path.join(path, f"{col}={v}") for v in sorted(set(values))]
    dirs = [d for d in wanted if os.path.isdir(d)]
    reader = spark.read.format(fmt).option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    if dirs:
        return reader.load(dirs)
    # no probed value has a directory: take the schema from any one
    # partition dir (not the root, which would list them all)
    present = sorted(
        n for n in os.listdir(path)
        if n.startswith(f"{col}=") and "._" not in n
    )
    return reader.load(
        os.path.join(path, present[0]) if present else path
    ).where(F.lit(False))


def _kb_partition_dirs(path: str) -> list[str]:
    """The `_kb=<n>` partition dirs of a bucketed layer ([] for flat
    layouts / missing paths)."""
    try:
        return sorted(
            n for n in os.listdir(path)
            if n.startswith(f"{_KB_COL}=")
            and os.path.isdir(os.path.join(path, n))
        )
    except OSError:
        return []


def _kb_col(key_cols: list[str], n_kb: int):
    """Deterministic maintenance bucket of a row's key: xxhash64 over
    the key columns, mod n_kb. Deterministic (guide §2.5: retried
    tasks must reproduce the row-to-partition assignment) and
    key-functional, so a key lives in exactly one bucket forever."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_kb)
    ).cast("int")


def upsert_by_key(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    fmt: str | None = None,
    n_kb: int | None = None,
) -> str:
    """Keyed upsert into a layer — the incrementality the reference
    lacks (it full-overwrites every run, etl.py:113/137/242; SURVEY.md
    §4.1 names Delta MERGE as the fix).

    With delta-spark present this is a real `MERGE INTO` (file-level
    rewrite of only touched files). The parquet fallback reads the
    existing layer, anti-joins away rows whose key is being replaced,
    unions the updates, and atomically swaps the directory — a full
    rewrite, correct but O(layer); the docstring-level contract (same
    keys in → replaced, new keys in → appended) is identical, so
    callers are delta-ready.

    ``n_kb`` (r14, guide §6 — VERDICT r13 task 5) opts the parquet
    fallback into a KEY-BUCKETED layout: rows live under hidden
    ``_kb=<xxhash64(key) % n_kb>`` partition dirs (``read_layer``
    hides the column), and an upsert rewrites ONLY the buckets the
    batch's keys hash to — O(batch/n_kb · layer) instead of O(layer),
    the parquet-era analogue of MERGE's file-level rewrite. The
    layer's ``n_kb`` is recorded in its one-row ``_scheme`` (written
    into the staged dir, so data and record land in one swap) and
    every bucketed upsert reads it: ``n_kb=None`` on a bucketed layer
    uses the recorded value and still rewrites only the touched
    buckets; a different ``n_kb``, or ``_kb=`` dirs without a record,
    raise ``ValueError`` (a wrong modulus would put a key's new row in
    another bucket than its old one). Each touched bucket commits
    through its own ``swap_dir``, so a crash mid-upsert leaves SOME
    buckets upserted and the rest untouched — a coarser window than
    the flat layout's all-or-nothing swap, converged by the
    single-writer replay contract (re-running the same upsert is
    idempotent per key; the medallion caller additionally orders its
    commit-marker layer last). A flat layer is migrated to the
    bucketed layout on its first ``n_kb`` upsert (one full rewrite,
    after which rewrites prune). Delta MERGE ignores ``n_kb`` (the
    log already prunes at file level).
    """
    recover_dir(path)
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    if fmt == "delta":
        from delta.tables import DeltaTable  # type: ignore

        target = DeltaTable.forPath(spark, path)
        cond = " AND ".join(f"t.{k} = u.{k}" for k in key_cols)
        (
            target.alias("t")
            .merge(updates.alias("u"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return fmt

    if (
        n_kb is not None
        or _kb_partition_dirs(path)
        or os.path.exists(os.path.join(path, "_scheme"))
    ):
        return _upsert_bucketed(spark, path, updates, key_cols, fmt, n_kb)
    merged = updates
    if os.path.exists(path):
        existing = spark.read.format(fmt).load(path)
        keys = updates.select(*key_cols).distinct()
        merged = existing.join(keys, key_cols, "left_anti").unionByName(updates)
    tmp = staged_dir(path)
    merged.write.format(fmt).save(tmp)
    swap_dir(tmp, path)
    return fmt


def _upsert_bucketed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    fmt: str,
    n_kb: int | None,
) -> str:
    """Parquet-fallback upsert into the key-bucketed layout (see
    ``upsert_by_key``). ``updates`` is evaluated once (lazy local
    checkpoint, materialized by the touched-bucket collect), so a
    non-deterministic plan cannot put a key in the anti-join but not
    the union. Only the touched ``_kb=N`` dirs are read
    (partition-pruned scan), merged, rewritten to a sibling staged
    dir, and swapped per bucket (``recover_dir`` heals a crashed
    bucket swap on the next upsert). Untouched buckets' files are not
    opened, read or rewritten — the file-count/pruning evidence is
    pinned by tests/test_sources.py."""
    from lakehouse_to_rag_spark.operators._ledger import (
        read_scheme,
        write_scheme,
    )

    recorded = None
    if os.path.exists(path):
        recorded = (read_scheme(spark, path, ("n_kb",)) or {}).get("n_kb")
        if recorded is None and (n_kb is None or _kb_partition_dirs(path)):
            raise ValueError(
                f"upsert_by_key: {path} is bucketed but has no readable "
                "_scheme n_kb record; refusing to guess the modulus"
            )
        if None not in (recorded, n_kb) and recorded != n_kb:
            raise ValueError(
                f"upsert_by_key: n_kb={n_kb} but {path} is bucketed "
                f"with n_kb={recorded}"
            )
    n_kb = recorded or n_kb
    kb = _kb_col(key_cols, n_kb)
    up = updates.withColumn(_KB_COL, kb).localCheckpoint(eager=False)
    keys = up.select(*key_cols).distinct()
    tmp = staged_dir(path)
    if recorded is None:
        # bootstrap, or the one-time migration of a flat layer: the
        # whole layer and its n_kb record land in one root swap
        merged = up
        if os.path.exists(path):
            existing = spark.read.format(fmt).load(path)
            kept = existing.join(keys, key_cols, "left_anti")
            merged = kept.withColumn(_KB_COL, kb).unionByName(up)
        merged.write.format(fmt).partitionBy(_KB_COL).save(tmp)
        write_scheme(spark, tmp, {"n_kb": n_kb})
        swap_dir(tmp, path)
        return fmt
    touched = sorted(
        r[_KB_COL] for r in up.select(_KB_COL).distinct().collect()
    )
    if not touched:  # empty batch: nothing to rewrite
        return fmt
    existing = read_partitions(spark, path, _KB_COL, touched, fmt=fmt)
    kept = existing.join(keys, key_cols, "left_anti")
    merged = kept.unionByName(up.select(*kept.columns))
    merged.write.format(fmt).partitionBy(_KB_COL).save(tmp)
    for d in _kb_partition_dirs(tmp):
        swap_dir(os.path.join(tmp, d), os.path.join(path, d))
    shutil.rmtree(tmp)
    return fmt


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join
    key — the shuffle-free co-located join path for repeated big⋈big
    joins (fact tables joined every run shuffle ONCE at write time,
    never again at read time). Both sides of a join bucketed on the
    same key with the same bucket count join with zero Exchange; with
    sort_cols the SortMergeJoin also skips its Sort.

    Bucketing requires the table catalog (`saveAsTable`); the files
    land in the session's warehouse dir.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_sorted(
    df: DataFrame,
    path: str,
    by_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-cluster a layer on its dominant filter columns before
    writing — the parquet data-skipping layout.

    ``repartitionByRange`` range-partitions rows across ``n_files``
    writers and ``sortWithinPartitions`` orders rows inside each file,
    so every file (and every row group within it) covers a narrow,
    non-overlapping min/max band of ``by_cols``. A reader filtering on
    those columns then prunes whole row groups from the footer stats
    (PushedFilters + parquet column-index) instead of scanning — at
    100 TB a time-range query over a ts-clustered events table reads
    only the files whose band intersects the predicate.

    Single-column clustering is plain range sort; for two columns the
    leading column dominates (lexicographic) — the right trade when
    filters are hierarchical (e.g. date, then user). Equal-width
    multi-dim skipping (Z-order) only pays when filters hit either
    column independently.
    """
    (
        df.repartitionByRange(n_files, *by_cols)
        .sortWithinPartitions(*by_cols)
        .write.mode(mode)
        .parquet(path)
    )


def _spread_bits16(col):
    """Spread the low 16 bits of ``col`` so bit i lands at position 2i
    (the classic mask-shift interleave, 4 steps) — pure JVM bitwise
    expressions, whole-stage-codegen'd."""
    from pyspark.sql import functions as F

    x = col.bitwiseAND(F.lit(0xFFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(col_a, col_b, a_min, a_max, b_min, b_max):
    """Z-order (Morton) key of two numeric columns: each is scaled to a
    16-bit rank over its [min, max] range, then the bits interleave.
    Locality property: rows close in BOTH dimensions get close keys,
    so range-clustering on the key gives row-group skipping for
    predicates on EITHER column (a lexicographic sort only skips on
    its leading column)."""
    from pyspark.sql import functions as F

    def rank16(c, lo, hi):
        span = float(hi - lo) or 1.0
        return F.least(
            F.lit(65535),
            F.greatest(
                F.lit(0),
                ((c.cast("double") - F.lit(float(lo))) / F.lit(span) * 65535).cast("long"),
            ),
        )

    return _spread_bits16(rank16(col_a, a_min, a_max)).bitwiseOR(
        F.shiftleft(_spread_bits16(rank16(col_b, b_min, b_max)), 1)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered write: range-partition + sort on the
    Morton key of (col_a, col_b), so parquet footer min/max stats on
    BOTH columns are narrow per row group. The one extra cost over
    ``write_sorted`` is a min/max aggregation to scale the dims (at
    100 TB: read from table stats instead). Delta/Iceberg OPTIMIZE
    ZORDER is this exact layout produced by a rewrite job."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    key = zorder_key(F.col(col_a), F.col(col_b), lo_a, hi_a, lo_b, hi_b)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_layer(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    fmt: str | None = None,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a layer into ``target_files``
    files (default: one per ``target_file_bytes`` of input, min 1)
    with an atomic directory swap. Streaming/incremental sinks accrete many small
    files; scans then pay per-file open cost and tiny row groups
    defeat pruning — periodic compaction is the standard fix. Uses
    coalesce (no shuffle) since output count only shrinks. Returns
    the file count written.

    NOT safe on IVF index layouts: this swaps the layer ROOT (which
    would drop the ``_centroids`` quantizer and the streaming sink's
    ``_ledger``) and flattens any partition directories. Use
    ``operators.similarity.compact_ivf_index`` for those.
    """
    import math
    import pathlib

    recover_dir(path)
    fmt = fmt or ("delta" if _delta_available(spark) else "parquet")
    df = spark.read.format(fmt).load(path)
    if target_files is None:
        size = sum(
            f.stat().st_size
            for f in pathlib.Path(path).rglob("*")
            if f.is_file()
        )
        target_files = max(1, math.ceil(size / target_file_bytes))
    tmp = staged_dir(path)
    # coalesce narrows without a shuffle; growing the file count (re-
    # splitting an over-compacted layer) genuinely needs repartition
    parts = df.rdd.getNumPartitions()
    sized = (
        df.coalesce(target_files)
        if target_files <= parts
        else df.repartition(target_files)
    )
    sized.write.format(fmt).mode("overwrite").save(tmp)
    swap_dir(tmp, path)
    n = len(
        [
            f
            for f in pathlib.Path(path).rglob("*" + fmt)
            if f.is_file()
        ]
    )
    return n


def read_layer_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the schemas of all parquet files
    under the layer (columns added by later writers appear as NULL in
    older rows) — the read-side half of additive schema evolution
    without a table format."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_col: int = 8,
    fmt: str | None = None,
) -> str:
    """Z-order clustered write: interleave the bits of each column's
    rank-bucket into a Morton key, range-partition + sort the data by
    it, and write — so EVERY listed column has a bounded value range
    per output file and parquet min/max row-group stats prune scans
    filtered on ANY of them (single-column sorting only prunes its own
    column). This is Delta OPTIMIZE ZORDER BY re-expressed as plain
    DataFrame ops: quantile bucket -> bit-interleave ->
    repartitionByRange + sortWithinPartitions.

    Relationship to ``write_zordered`` below: that one scales values
    linearly over [min, max] (pure JVM bit-spread, zero extra passes —
    right for uniform-ish columns); THIS one buckets by approximate
    quantiles, which survives skewed distributions and low-cardinality
    columns (where min-max scaling parks most rows in a few codes, and
    collapsed buckets here are spread back across the full bit range —
    the footer-stats test pins that property on a 15-value column).

    Rank-bucketing (not raw bit-slicing) makes the curve robust to
    skewed value distributions; ties share a bucket, which only
    relaxes pruning, never breaks correctness. Buckets come from
    ``approxQuantile`` boundaries (Greenwald-Khanna, distributed, one
    pass, driver holds only 2^bits-1 cut points) — NOT a global
    rank window, which would funnel the corpus through one task.
    """
    fmt = fmt or ("delta" if _delta_available(df.sparkSession) else "parquet")
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    zcols = []
    for c in cols:
        bounds = sorted(set(df.approxQuantile(c, probs, 0.001)))
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        # bucket = #boundaries <= value (codegen'd array filter). A
        # low-cardinality column collapses to len(bounds)+1 < 2^bits
        # buckets; SPREAD them across the full bit range, otherwise
        # their high Morton bits are constant zero and the interleave
        # degenerates to a sort on the other columns alone.
        bucket = F.size(
            F.filter(arr, lambda x: x <= F.col(c).cast("double"))
        ).cast("long")
        spread = n_buckets // (len(bounds) + 1)
        if spread > 1:
            bucket = bucket * F.lit(spread)
        zcols.append(bucket)
    # interleave: bit b of column i lands at position b*len(cols)+i
    z = F.lit(0).cast("long")
    for b in range(bits_per_col):
        for i, bucket in enumerate(zcols):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                b * len(cols) + i,
            )
    keyed = df.withColumn("_zorder", z)
    (
        keyed.repartitionByRange(n_files, "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.format(fmt)
        .save(path)
    )
    return fmt
