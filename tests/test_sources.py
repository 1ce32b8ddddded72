"""Batch raw-JSON ingest (S2) + temp-view registry / SQL pass-through
(S6-S7, duckdb_queries.py run_custom_query parity) + lakehouse sink."""

import os
import json

import pytest
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.analytics import run_custom_query
from lakehouse_to_rag_spark.sources.lakehouse import read_layer, write_layer
from lakehouse_to_rag_spark.sources.raw_json import read_raw_json
from lakehouse_to_rag_spark.sources.tables import register_views


def test_read_raw_json_schema_and_source(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    recs = [
        {"url": "http://x", "scraped_at": 1.5, "status_code": 200,
         "title": "T", "content": "body text", "author": "a", "language": "en"},
        {"url": "http://y", "scraped_at": 2.5, "status_code": 404,
         "title": None, "content": None, "author": None, "language": None},
    ]
    for i, r in enumerate(recs):
        (d / f"page{i}.json").write_text(json.dumps(r))
    df = read_raw_json(spark, str(d) + "/*.json")
    rows = {r["url"]: r for r in df.collect()}
    assert rows["http://x"]["source"] == "page0.json"
    assert rows["http://x"]["status_code"] == 200
    assert rows["http://y"]["content"] is None
    assert dict(df.dtypes)["scraped_at"] == "double"


def test_register_views_and_custom_query(spark, sf_dir):
    register_views(spark, sf_dir, ["documents", "orders"])
    out = run_custom_query(
        spark,
        "SELECT source, COUNT(*) AS n FROM documents GROUP BY source ORDER BY source LIMIT 3",
    ).collect()
    assert len(out) == 3
    assert out[0]["n"] > 0


def test_lakehouse_roundtrip(spark, sf_dir, tmp_path):
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fmt = write_layer(docs, str(tmp_path / "bronze"), partition_by=["source"])
    assert fmt in ("delta", "parquet")
    back = read_layer(spark, str(tmp_path / "bronze"), fmt=fmt)
    assert back.count() == docs.count()
    # partition pruning: filter on the partition column prunes files
    pruned = back.filter(F.col("source") == "src0")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan or "src0" in plan


def test_lakehouse_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """The layer IO is format-pluggable; ORC (Spark's other built-in
    columnar format) must round-trip values and push filters into the
    scan exactly like parquet."""
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fmt = write_layer(docs, str(tmp_path / "orc_layer"), fmt="orc")
    assert fmt == "orc"
    back = read_layer(spark, str(tmp_path / "orc_layer"), fmt="orc")
    assert back.count() == docs.count()
    assert sorted(map(str, back.collect())) == sorted(map(str, docs.collect()))
    # predicate pushdown reaches the ORC scan
    plan = (
        back.filter(F.col("n_chars") > 500)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_chars" in plan


def test_upsert_by_key(spark, sf_dir, tmp_path):
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer, upsert_by_key
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    path = str(tmp_path / "layer")
    upsert_by_key(spark, path, docs, ["doc_id"])
    n0 = read_layer(spark, path).count()

    updates = spark.createDataFrame(
        [(0, "REPLACED", "srcX"), (10_000_000, "NEW", "srcX")],
        ["doc_id", "text", "source"],
    )
    upsert_by_key(spark, path, updates, ["doc_id"])
    after = read_layer(spark, path)
    assert after.count() == n0 + 1  # one replaced, one appended
    assert after.filter(F.col("doc_id") == 0).first()["text"] == "REPLACED"
    assert after.filter(F.col("doc_id") == 10_000_000).count() == 1


def test_upsert_key_bucketed_prunes_untouched_buckets(spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 task 5): the key-bucketed parquet upsert must
    (a) hide the `_kb` maintenance column from readers, (b) produce
    exactly the rows the flat upsert produces, and (c) rewrite ONLY
    the bucket dirs the batch's keys hash to — untouched buckets keep
    their files byte-for-byte (inode + mtime pinned). A flat layer
    migrates on its first bucketed upsert."""
    import os
    import pathlib

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    flat, bkt = str(tmp_path / "flat"), str(tmp_path / "bkt")
    upsert_by_key(spark, flat, docs, ["doc_id"])
    upsert_by_key(spark, bkt, docs, ["doc_id"], n_kb=8)
    assert sorted(
        os.path.basename(p) for p in pathlib.Path(bkt).glob("_kb=*")
    ) == [f"_kb={i}" for i in range(8)]
    # (a) hidden column + (b) equality with the flat layout
    b0 = read_layer(spark, bkt)
    assert "_kb" not in b0.columns
    assert sorted(map(tuple, b0.collect())) == sorted(
        map(tuple, read_layer(spark, flat).collect())
    )

    def fstate(root):
        return {
            str(f): (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(root).rglob("*.parquet")
        }

    before = fstate(bkt)
    updates = spark.createDataFrame(
        [(0, "REPLACED", "srcX"), (10_000_000, "NEW", "srcX")],
        ["doc_id", "text", "source"],
    )
    upsert_by_key(spark, flat, updates, ["doc_id"])
    upsert_by_key(spark, bkt, updates, ["doc_id"], n_kb=8)
    # (b) equality again after the incremental upsert
    assert sorted(map(tuple, read_layer(spark, bkt).collect())) == sorted(
        map(tuple, read_layer(spark, flat).collect())
    )
    # (c) at most 2 of 8 buckets rewritten; every other bucket's files
    # are the SAME files (not rewritten, not even touched)
    after = fstate(bkt)
    changed_dirs = {
        pathlib.Path(p).parent.name
        for p in set(before) ^ set(after)
    } | {
        pathlib.Path(p).parent.name
        for p in set(before) & set(after)
        if before[p] != after[p]
    }
    assert 1 <= len(changed_dirs) <= 2, changed_dirs
    untouched = [d for d in (f"_kb={i}" for i in range(8))
                 if d not in changed_dirs]
    assert len(untouched) >= 6
    # legacy migration: a flat layer's first n_kb upsert buckets it
    upsert_by_key(spark, flat, updates, ["doc_id"], n_kb=8)
    assert pathlib.Path(flat, "_kb=0").is_dir()
    assert sorted(map(tuple, read_layer(spark, flat).collect())) == sorted(
        map(tuple, read_layer(spark, bkt).collect())
    )


def test_upsert_key_bucketed_recovers_crashed_bucket_swap(
    spark, sf_dir, tmp_path
):
    """Per-bucket two-rename crash window: a bucket dir renamed to
    `._old_` with the new dir never landing must be restored by the
    NEXT upsert even when that upsert touches OTHER buckets — readers
    would otherwise silently lose the bucket."""
    import os
    import pathlib

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    path = str(tmp_path / "layer")
    upsert_by_key(spark, path, docs, ["doc_id"], n_kb=4)
    want = sorted(map(tuple, read_layer(spark, path).collect()))
    # simulate the between-renames crash on bucket 2
    os.rename(
        os.path.join(path, "_kb=2"), os.path.join(path, "_kb=2._old_dead1")
    )
    assert not pathlib.Path(path, "_kb=2").exists()
    # an upsert touching a single other bucket must first repair it
    one = spark.createDataFrame(
        [(0, "REPLACED", "srcX")], ["doc_id", "text", "source"]
    )
    upsert_by_key(spark, path, one, ["doc_id"], n_kb=4)
    got = sorted(map(tuple, read_layer(spark, path).collect()))
    want = [t if t[0] != 0 else (0, "REPLACED", "srcX") for t in want]
    assert got == sorted(want)


def test_upsert_bucketed_n_kb_is_recorded_and_fails_closed(spark, tmp_path):
    """The bucket modulus is the layer's recorded ``_scheme`` n_kb, not
    the count of ``_kb=`` dirs (wrong whenever a bucket is empty): a
    16-bucket layer holding 2 keys upserted with ``n_kb=None`` keeps 2
    rows; an explicit different ``n_kb``, or bucket dirs without a
    record, raise instead of re-bucketing only the batch's keys."""
    import shutil

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )

    def rows(p):
        return sorted(map(tuple, read_layer(spark, p).collect()))

    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    new = spark.createDataFrame([(1, "A"), (2, "B")], "k long, v string")
    inferred, explicit = str(tmp_path / "inferred"), str(tmp_path / "explicit")
    for p in (inferred, explicit):
        upsert_by_key(spark, p, old, ["k"], n_kb=16)
    upsert_by_key(spark, inferred, new, ["k"])
    assert rows(inferred) == [(1, "A"), (2, "B")]
    with pytest.raises(ValueError, match="n_kb"):
        upsert_by_key(spark, explicit, new, ["k"], n_kb=8)
    assert rows(explicit) == [(1, "a"), (2, "b")]
    shutil.rmtree(os.path.join(explicit, "_scheme"))
    with pytest.raises(ValueError, match="n_kb"):
        upsert_by_key(spark, explicit, new, ["k"])
    assert rows(explicit) == [(1, "a"), (2, "b")]


def test_upsert_bucketed_evaluates_updates_once(spark, tmp_path):
    """``updates`` feeds the touched-bucket set, the anti-join keys and
    the union; a plan that yields a different row set on each
    evaluation (a non-deterministic filter) must still neither
    duplicate a key nor lose an existing one."""
    import random

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )

    path = str(tmp_path / "layer")
    upsert_by_key(
        spark, path,
        spark.range(64).select(F.col("id").alias("k"), F.lit("old").alias("v")),
        ["k"], n_kb=4,
    )
    coin = F.udf(lambda k: random.random() < 0.5, "boolean")
    updates = (
        spark.range(64)
        .select(F.col("id").alias("k"), F.lit("new").alias("v"))
        .filter(coin.asNondeterministic()("k"))
    )
    upsert_by_key(spark, path, updates, ["k"], n_kb=4)
    keys = [r["k"] for r in read_layer(spark, path).collect()]
    assert sorted(keys) == list(range(64))


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key join WITHOUT a shuffle: the
    write-time bucketing replaces the per-query Exchange (the
    co-located big-big join pattern for 100 TB fact⋈fact joins)."""
    from pyspark.sql import functions as F
    from lakehouse_to_rag_spark.sources.lakehouse import write_bucketed
    from lakehouse_to_rag_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(
        l.select("l_orderkey", "l_quantity"), "lineitem_b",
        ["l_orderkey"], 8, ["l_orderkey"],
    )
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    joined = lb.join(ob, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"))
    # disable broadcast so the join planner must pick SMJ/SHJ — the
    # bucketing is what must remove the exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # no shuffle below the join: the only allowed Exchange is the
        # final aggregation's
        join_part = plan.split("HashAggregate")[-1]
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # result parity with the plain join
        plain = (
            l.select("l_orderkey", "l_quantity")
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_compact_layer(spark, tmp_path):
    """Compaction shrinks a many-file layer to N files, data intact."""
    from lakehouse_to_rag_spark.sources.lakehouse import compact_layer

    path = str(tmp_path / "small_files")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    df.repartition(20).write.parquet(path)
    import pathlib

    before = len(list(pathlib.Path(path).glob("*.parquet")))
    n = compact_layer(spark, path, target_files=2)
    assert before == 20 and n == 2
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert got.selectExpr("sum(v)").collect()[0][0] == 999 * 1000


def test_schema_evolution_read(spark, tmp_path):
    """Additive column evolution: old files read with NULL for the
    new column when merging schemas."""
    from lakehouse_to_rag_spark.sources.lakehouse import read_layer_merged

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v", "score"]
    ).write.mode("append").parquet(path)
    got = read_layer_merged(spark, path)
    assert set(got.columns) == {"id", "v", "score"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_write_sorted_enables_row_group_skipping(spark, sf_dir, tmp_path):
    """write_sorted must produce files whose ts min/max bands are
    non-overlapping, so a time-range predicate touches a small
    fraction of row groups (measured from parquet footer stats — the
    exact information a scan uses to skip)."""
    import pyarrow.parquet as pq

    from lakehouse_to_rag_spark.sources.lakehouse import write_sorted
    from lakehouse_to_rag_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    sorted_path = str(tmp_path / "events_sorted")
    unsorted_path = str(tmp_path / "events_unsorted")
    write_sorted(ev, sorted_path, by_cols=["ts"], n_files=8)
    ev.repartition(8).write.parquet(unsorted_path)

    def rg_bands(path):
        bands = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "ts"
                )
                bands.append((col.statistics.min, col.statistics.max))
        return bands

    sorted_bands = rg_bands(sorted_path)
    unsorted_bands = rg_bands(unsorted_path)
    assert len(sorted_bands) >= 8
    # across sorted files+row groups: bands must not overlap
    ordered = sorted(sorted_bands)
    for (_, amax), (bmin, _) in zip(ordered, ordered[1:]):
        assert amax <= bmin, (amax, bmin)

    # a predicate spanning ~1/8 of the time range touches few sorted
    # row groups but ALL unsorted ones
    glob_min = min(b[0] for b in sorted_bands)
    glob_max = max(b[1] for b in sorted_bands)
    span = glob_max - glob_min
    lo, hi = glob_min, glob_min + span / 8

    def touched(bands):
        return sum(1 for bmin, bmax in bands if not (bmax < lo or bmin > hi))

    assert touched(unsorted_bands) == len(unsorted_bands)
    assert touched(sorted_bands) <= max(2, len(sorted_bands) // 4)

    # and the clustered layer still reads back identically
    assert spark.read.parquet(sorted_path).count() == ev.count()


def test_write_zordered_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Morton-clustered layout must let a 2-D box predicate skip row
    groups on EITHER column's footer stats, where a lexicographic sort
    only skips on its leading column."""
    import pyarrow.parquet as pq

    from lakehouse_to_rag_spark.sources.lakehouse import write_sorted, write_zordered
    from lakehouse_to_rag_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    z_path = str(tmp_path / "z")
    lex_path = str(tmp_path / "lex")
    write_zordered(ev, z_path, "user_id", "value", n_files=16)
    write_sorted(ev, lex_path, by_cols=["user_id", "value"], n_files=16)

    def bands(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                out.append((c.statistics.min, c.statistics.max))
        return out

    # value-range-only predicate over the middle 1/8 of value's span
    vb_z = bands(z_path, "value")
    vb_lex = bands(lex_path, "value")
    glo = min(b[0] for b in vb_z)
    ghi = max(b[1] for b in vb_z)
    span = ghi - glo
    lo, hi = glo + span * 7 / 16, glo + span * 9 / 16

    def touched(bs):
        return sum(1 for bmin, bmax in bs if not (bmax < lo or bmin > hi))

    # lexicographic (user_id leading): value stats are useless — every
    # row group spans nearly the full value range
    assert touched(vb_lex) == len(vb_lex)
    # z-order: a large fraction of row groups is skippable on value
    assert touched(vb_z) <= len(vb_z) * 3 // 4, (touched(vb_z), len(vb_z))
    # ...while user_id skipping also works on the z layout
    ub_z = bands(z_path, "user_id")
    ulo = min(b[0] for b in ub_z)
    uhi = max(b[1] for b in ub_z)
    uspan = uhi - ulo
    lo, hi = ulo + uspan * 7 / 16, ulo + uspan * 9 / 16
    assert touched(ub_z) < len(ub_z)

    assert spark.read.parquet(z_path).count() == ev.count()


def test_python_datasource_json_docs(spark, tmp_path):
    """Spark 4 Python DataSource API: format("json_docs") must ingest
    one-object-per-file JSON with file-parallel partitions and the
    reference's source=object-basename tag, matching read_raw_json."""
    from lakehouse_to_rag_spark.sources.pyds import JsonDocsDataSource

    d = tmp_path / "objs"
    d.mkdir()
    docs = [
        {"url": f"http://x/{i}", "scraped_at": 1.5, "status_code": 200,
         "title": f"t{i}", "content": f"body {i}", "author": None,
         "language": "en"}
        for i in range(5)
    ]
    for i, rec in enumerate(docs):
        (d / f"obj{i}.json").write_text(json.dumps(rec))

    spark.dataSource.register(JsonDocsDataSource)
    df = spark.read.format("json_docs").load(str(d))
    rows = df.orderBy("url").collect()
    assert len(rows) == 5
    assert [r["source"] for r in rows] == [f"obj{i}.json" for i in range(5)]
    assert rows[2]["content"] == "body 2"
    assert rows[0]["status_code"] == 200
    # file-parallel: as many input partitions as objects
    assert df.rdd.getNumPartitions() == 5
    # equivalence with the native-reader path on the shared columns
    native = read_raw_json(spark, str(d) + "/*.json")
    a = {(r["url"], r["content"], r["source"]) for r in native.collect()}
    b = {(r["url"], r["content"], r["source"]) for r in rows}
    assert a == b


def _scan_metrics(df, metric_names):
    """Collect FileSourceScan metrics from the EXECUTED plan (the
    numbers the scan actually reported at runtime, incl. partition
    pruning results — .explain only shows the static filters)."""
    out = []

    def walk(node):
        name = node.nodeName()
        if "Scan" in name:
            got = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in metric_names:
                    got[kv._1()] = kv._2().value()
            if got:
                out.append(got)
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        if "QueryStage" in name:  # AQE stage wrappers are leaves;
            walk(node.plan())     # their subtree hangs off .plan()

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_read_partitions_lists_only_wanted_dirs(spark, sf_dir, tmp_path):
    """read_partitions reads exactly the wanted ``col=v`` dirs: every
    file of a dir that took appends, nothing for a value without a
    dir, an empty frame with the layout's schema when no value has
    one, and never a swap remnant inside the root (here full copies of
    the wanted dir, which would double its rows if read)."""
    import os
    import shutil

    from lakehouse_to_rag_spark.sources.lakehouse import read_partitions
    from lakehouse_to_rag_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = str(tmp_path / "layer")
    for half, mode in (("doc_id < 250", "overwrite"), ("doc_id >= 250", "append")):
        write_layer(docs.filter(half), path, mode=mode,
                    partition_by=["source"], fmt="parquet")
    layout = read_layer(spark, path, fmt="parquet")
    s0 = sorted(r[0] for r in layout.select("source").distinct().collect())[0]
    d0 = f"{path}/source={s0}"
    assert sum(f.endswith(".parquet") for f in os.listdir(d0)) >= 2
    shutil.copytree(d0, f"{d0}._old_deadbeef")
    shutil.copytree(d0, f"{d0}._compact_cafe")

    want = sorted(map(tuple, docs.filter(F.col("source") == s0).collect()))
    for schema in (None, "doc_id long, source string"):
        got = read_partitions(spark, path, "source", [s0, "no_such"],
                              schema=schema, fmt="parquet")
        assert sorted(map(tuple, got.collect())) == want
        empty = read_partitions(spark, path, "source", ["no_such"],
                                schema=schema, fmt="parquet")
        assert empty.schema == layout.schema and empty.collect() == []


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """write_ivf_index must lay the corpus out as cluster=N directories
    and ivf_topk_from_index must PRUNE non-probed ones: the executed
    scan's numPartitions metric equals the probed-cluster count, not
    the total (VERDICT r1 item 4 — the docstring's claim, exercised)."""
    import pathlib

    from lakehouse_to_rag_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        knn_bruteforce,
        write_ivf_index,
    )
    from lakehouse_to_rag_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, num_centroids=8)

    cluster_dirs = {
        p.name for p in pathlib.Path(path).iterdir()
        if p.name.startswith("cluster=")
    }
    assert len(cluster_dirs) >= 4  # quantizer spread the corpus out

    queries = emb.orderBy("vec_id").limit(3)
    res = ivf_topk_from_index(spark, path, queries, k=5, nprobe=2)
    rows = res.collect()
    assert rows  # probe returned neighbors

    # 3 queries x nprobe=2 -> at most 6 distinct clusters touched; the
    # partitioned corpus scan must report exactly that partition count
    scans = _scan_metrics(res, {"numPartitions"})
    parts = [m["numPartitions"] for m in scans if "numPartitions" in m]
    assert parts, "no partitioned scan found in executed plan"
    touched = max(parts)
    assert touched <= 6 < len(cluster_dirs) or touched < len(cluster_dirs)

    # probing every cluster must reproduce the in-memory IVF result
    # and exact search, with swap remnants of every cluster dir
    # planted inside the root (never read)
    import shutil

    for c in cluster_dirs:
        shutil.copytree(f"{path}/{c}", f"{path}/{c}._old_deadbeef")
    full_idx = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ivf_topk_from_index(
            spark, path, queries, k=5, nprobe=8
        ).collect()
    }
    full_mem = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=8).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    assert full_idx == full_mem == exact


def test_s3a_configuration_surface(spark):
    """configure_s3a must wire the MinIO-shaped confs (endpoint, key
    pair, path-style, TLS toggle) onto the LIVE hadoop configuration —
    inspectable without an object store; nothing validates until the
    first s3a:// read instantiates the filesystem."""
    from lakehouse_to_rag_spark.sources.object_store import (
        configure_s3a,
        get_s3a_conf,
        s3a_url,
    )

    applied = configure_s3a(
        spark,
        endpoint="minio.local:9000",
        access_key="ak",
        secret_key="sk",
        secure=False,
    )
    assert applied["fs.s3a.path.style.access"] == "true"
    for k, want in [
        ("fs.s3a.endpoint", "minio.local:9000"),
        ("fs.s3a.access.key", "ak"),
        ("fs.s3a.secret.key", "sk"),
        ("fs.s3a.connection.ssl.enabled", "false"),
        ("fs.s3a.path.style.access", "true"),
        (
            "fs.s3a.aws.credentials.provider",
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
        ),
    ]:
        assert get_s3a_conf(spark, k) == want, k

    # no key pair -> chain provider (no hardcoded credentials conf)
    applied2 = configure_s3a(spark, endpoint="other:9000", secure=True)
    assert "fs.s3a.access.key" not in applied2
    assert get_s3a_conf(spark, "fs.s3a.endpoint") == "other:9000"
    assert get_s3a_conf(spark, "fs.s3a.connection.ssl.enabled") == "true"

    assert s3a_url("raw", "/a/b.json") == "s3a://raw/a/b.json"
    assert s3a_url("raw") == "s3a://raw"


def _try_import_delta():
    try:
        import delta.tables  # noqa: F401

        return True
    except Exception:
        return False


def test_upsert_delta_merge_real(spark, tmp_path):
    """Real Delta MERGE roundtrip — runs only where delta-spark is
    installed (probed at test time; this container has neither the
    python package nor the jars, so the MERGE branch is exercised by
    the offline double below)."""
    import pytest

    if not _try_import_delta():
        pytest.skip(
            "delta-spark not installed (no python module, no delta jars "
            "under pyspark/jars) — MERGE branch covered by the offline "
            "double in test_upsert_delta_merge_branch_with_double"
        )
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
        write_layer,
    )

    path = str(tmp_path / "delta_layer")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    assert write_layer(base, path) == "delta"
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    assert upsert_by_key(spark, path, upd, ["id"]) == "delta"
    rows = {r["id"]: r["v"] for r in read_layer(spark, path).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_upsert_delta_merge_branch_with_double(spark, sf_dir, tmp_path, monkeypatch):
    """Drive upsert_by_key's MERGE branch (sources/lakehouse.py) against
    an offline DeltaTable double: validates the branch end-to-end — the
    alias/merge/whenMatchedUpdateAll/whenNotMatchedInsertAll builder
    chain, the generated join condition, and MERGE end-state semantics
    (matched keys updated, unmatched inserted) — with the double
    applying the same semantics over parquet via real Spark ops."""
    import re
    import sys
    import types

    from lakehouse_to_rag_spark.sources import lakehouse

    calls = []

    class FakeMerge:
        def __init__(self, spark_, path, updates, cond):
            self._spark = spark_
            self._path = path
            self._updates = updates
            self._cond = cond

        def whenMatchedUpdateAll(self):
            calls.append("whenMatchedUpdateAll")
            return self

        def whenNotMatchedInsertAll(self):
            calls.append("whenNotMatchedInsertAll")
            return self

        def execute(self):
            calls.append("execute")
            # the branch must emit an AND-joined t.<k> = u.<k> condition
            keys = re.findall(r"t\.(\w+) = u\.\1", self._cond)
            assert keys, f"unexpected merge condition: {self._cond}"
            existing = self._spark.read.parquet(self._path)
            kept = existing.join(
                self._updates.select(*keys).distinct(), keys, "left_anti"
            )
            merged = kept.unionByName(self._updates).localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(self._path)

    class FakeDeltaTable:
        def __init__(self, spark_, path):
            self._spark = spark_
            self._path = path

        @classmethod
        def forPath(cls, spark_, path):
            calls.append("forPath")
            return cls(spark_, path)

        def alias(self, name):
            assert name == "t"
            return self

        def merge(self, updates, cond):
            calls.append("merge")
            # upsert_by_key aliases the update side as "u"
            return FakeMerge(self._spark, self._path, updates, cond)

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)
    monkeypatch.setattr(lakehouse, "_delta_available", lambda s: True)

    path = str(tmp_path / "merge_layer")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "v", "score"]
    )
    base.write.parquet(path)

    upd = spark.createDataFrame(
        [(2, "UPDATED", 99.0), (3, "new", 30.0)], ["id", "v", "score"]
    )
    fmt = lakehouse.upsert_by_key(spark, path, upd, ["id"])
    assert fmt == "delta"
    assert calls == [
        "forPath",
        "merge",
        "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll",
        "execute",
    ]
    rows = {r["id"]: (r["v"], r["score"]) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10.0), 2: ("UPDATED", 99.0), 3: ("new", 30.0)}


class TestLayoutMaintenance:
    """Compaction + Z-order clustering: the operational layout ops."""

    def test_compact_layer_shrinks_file_count(self, spark, sf_dir, tmp_path):
        import os

        from lakehouse_to_rag_spark.sources.lakehouse import compact_layer
        from lakehouse_to_rag_spark.sources.tables import load_table

        path = str(tmp_path / "shattered")
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(40).write.parquet(path)

        def parquet_files(p):
            return [f for r, _, fs in os.walk(p) for f in fs
                    if f.endswith(".parquet")]

        before = len(parquet_files(path))
        assert before >= 40
        n = compact_layer(spark, path, target_file_bytes=64 << 20)
        after = len(parquet_files(path))
        assert after == n < before
        # explicit file-count override wins over the byte target
        assert compact_layer(spark, path, target_files=3) == 3
        got = spark.read.parquet(path)
        assert got.count() == ev.count()
        assert got.exceptAll(ev).count() == 0

    def test_zorder_bounds_both_columns_per_file(self, spark, sf_dir, tmp_path):
        """Footer-stats proof: after zorder_write(user_id, value) the
        per-file min/max span of BOTH columns is a fraction of the
        global span, while a single-column sort bounds only its own
        column — the property parquet data skipping prunes on."""
        import os

        import pyarrow.parquet as pq

        from lakehouse_to_rag_spark.sources.lakehouse import zorder_write
        from lakehouse_to_rag_spark.sources.tables import load_table

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        zpath = str(tmp_path / "zordered")
        spath = str(tmp_path / "single_sorted")
        zorder_write(ev, zpath, ["user_id", "value"], n_files=16)
        (
            ev.repartitionByRange(16, "user_id")
            .sortWithinPartitions("user_id")
            .write.parquet(spath)
        )

        def spans(path, col):
            out = []
            for r, _, fs in os.walk(path):
                for f in fs:
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(r, f)).metadata
                    idx = md.schema.names.index(col)
                    lo = min(md.row_group(i).column(idx).statistics.min
                             for i in range(md.num_row_groups))
                    hi = max(md.row_group(i).column(idx).statistics.max
                             for i in range(md.num_row_groups))
                    out.append(hi - lo)
            return out

        stats = ev.agg(
            F.max("value") - F.min("value"),
            F.max("user_id") - F.min("user_id"),
        ).collect()[0]
        vspan, uspan = float(stats[0]), int(stats[1])

        z_v = spans(zpath, "value")
        s_v = spans(spath, "value")
        z_u = spans(zpath, "user_id")
        avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
        # z-order bounds value per file at a fraction of what the
        # user_id-only sort leaves (which is near-global), and still
        # clusters user_id well below its global span
        assert avg(z_v) < 0.5 * avg(s_v)
        assert avg(z_v) < 0.4 * vspan
        assert avg(z_u) < 0.5 * uspan


def test_dir_swap_recovery_restores_between_renames_crash(spark, tmp_path):
    """upsert_by_key / compact_layer two-rename swaps: simulate the
    crash window where the layer sits under ``__old_*`` (plus a dead
    ``__upsert_*`` partial) and verify the next swap operation repairs
    it instead of treating the layer as absent — which would have
    reduced the layer to just the update rows."""
    import os

    from lakehouse_to_rag_spark.sources.lakehouse import (
        compact_layer,
        upsert_by_key,
    )

    path = str(tmp_path / "layer")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).write.parquet(path)

    # between-renames crash remnants
    os.rename(path, path + "__old_deadbeef")
    os.makedirs(path + "__upsert_dead")
    with open(path + "__upsert_dead/part-junk.parquet", "w") as f:
        f.write("junk")

    upsert_by_key(
        spark,
        path,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        ["k"],
        fmt="parquet",
    )
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert not os.path.exists(path + "__old_deadbeef")
    assert not os.path.exists(path + "__upsert_dead")

    # same window ahead of a compaction (._old_ naming)
    os.rename(path, path + "._old_cafe")
    compact_layer(spark, path, target_files=1, fmt="parquet")
    again = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert again == got
    assert not os.path.exists(path + "._old_cafe")
