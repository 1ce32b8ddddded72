"""Crash matrix for the parquet fallback's one directory swap
(``sources.lakehouse.swap_dir`` / ``recover_dir``).

Every caller runs once per crash point: ``os.rename`` and
``shutil.rmtree`` are patched so that call number k, and every call
after it, raises (the process dies there). Then:

1. a plain read (no recovery: readers stay read-only) sees the old
   state or the new one, never both, and no key twice. A target in its
   between-renames window reads as absent until a writer heals it;
2. the next call heals: re-running the operation gives the new state;
3. that call leaves no swap remnant anywhere under the state root.

Bucketed layers commit bucket by bucket, so their read is checked per
``_kb`` bucket: each bucket reads as its old rows or its new ones, or
is empty while its displaced dir is parked (its between-renames
window).
"""

import contextlib
import os
import pathlib
import re
import shutil
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators import curation, retrieval, similarity
from lakehouse_to_rag_spark.operators._ledger import (
    compact_ledger,
    migrate_ledger,
    read_scheme,
    write_scheme,
)
from lakehouse_to_rag_spark.operators.pipeline import (
    documents_as_raw,
    run_medallion_incremental,
)
from lakehouse_to_rag_spark.sources.lakehouse import (
    compact_layer,
    read_layer,
    upsert_by_key,
)
from lakehouse_to_rag_spark.streaming.pipeline import stream_scd2_sink

REMNANT = re.compile(r"__upsert_|\._compact_|__v_|__tmp_|__old_|\._old_")
# Crash runs are tiny Spark jobs bound by per-job latency, not CPU:
# running a few at once overlaps that latency.
THREADS = 5


class Crash(Exception):
    pass


@contextlib.contextmanager
def crash_gate():
    """Patch ``os.rename`` and ``shutil.rmtree``; yields ``(arm,
    calls)``. ``arm(root, k)`` counts the calls on paths under ``root``
    in ``calls[root]`` and makes call ``k`` and every later one raise
    ``Crash``; ``arm(root)`` only counts. Keyed by path, not thread,
    so one case's crash points run concurrently and the medallion's
    own worker threads are gated too."""
    crash_at, calls, lock = {}, {}, threading.Lock()
    rename, rmtree = os.rename, shutil.rmtree

    def arm(root, k=None):
        with lock:
            calls.setdefault(root, 0)
            crash_at[root] = float("inf") if k is None else k

    def gate(fn):
        def wrapped(path, *args, **kwargs):
            with lock:
                for root in calls:
                    if str(path).startswith(root + os.sep):
                        if calls[root] >= crash_at[root]:
                            raise Crash(f"simulated crash under {root}")
                        calls[root] += 1
            return fn(path, *args, **kwargs)

        return wrapped

    os.rename, shutil.rmtree = gate(rename), gate(rmtree)
    try:
        yield arm, calls
    finally:
        os.rename, shutil.rmtree = rename, rmtree


def keyed(spark, path, key_cols, cols=None):
    """Sorted ``(key, row)`` pairs from a plain ``read_layer``; None
    when ``path`` is absent."""
    if not os.path.exists(path):
        return None
    df = read_layer(spark, path)
    cols = cols or sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in key_cols), tuple(r[c] for c in cols))
        for r in df.select(*cols).collect()
    )


def kv(spark, lo, hi, tag):
    return spark.createDataFrame(
        [(i, f"{tag}{i}") for i in range(lo, hi)], "k long, v string"
    )


def docs(spark, sf_dir, lo, hi):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        f"doc_id >= {lo} AND doc_id < {hi} AND text IS NOT NULL"
    )


def vectors(spark, sf_dir, lo, hi):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        f"vec_id >= {lo} AND vec_id < {hi}"
    )


# Each case: setup(spark, sf_dir, root) builds the old state;
# op(spark, sf_dir, root) is the swap caller under test;
# snap(spark, root) -> {target: pairs or None}; heal (default: op)
# is the documented next call.


def _layer(root):
    return f"{root}/layer"


def _flat_setup(spark, sf_dir, root):
    upsert_by_key(spark, _layer(root), kv(spark, 0, 8, "old"), ["k"])


def _layer_snap(spark, root):
    return {"layer": keyed(spark, _layer(root), ["k"], ["k", "v"])}


def _upsert(n_kb):
    def op(spark, sf_dir, root):
        upsert_by_key(
            spark, _layer(root), kv(spark, 4, 12, "new"), ["k"], n_kb=n_kb
        )

    return op


def _bucketed_setup(spark, sf_dir, root):
    upsert_by_key(spark, _layer(root), kv(spark, 0, 8, "old"), ["k"], n_kb=2)


def _compact_setup(spark, sf_dir, root):
    for lo in (0, 3, 6):
        kv(spark, lo, lo + 3, "old").write.mode("append").parquet(_layer(root))


def _compact_op(spark, sf_dir, root):
    compact_layer(spark, _layer(root), target_files=1, fmt="parquet")


def _bm25_setup(spark, sf_dir, root):
    retrieval.write_bm25_index(docs(spark, sf_dir, 0, 12), f"{root}/idx", 4)


def _bm25_append(spark, sf_dir, root):
    retrieval.append_to_bm25_index(
        spark, f"{root}/idx", docs(spark, sf_dir, 12, 18)
    )


def _bm25_rebuild(spark, sf_dir, root):
    retrieval.rebuild_bm25_stats(spark, f"{root}/idx")


def _stats_snap(spark, root):
    snap = {"_stats": keyed(spark, f"{root}/idx/_stats", [])}
    if os.path.exists(f"{root}/idx/_ids"):
        snap["_ids"] = keyed(spark, f"{root}/idx/_ids", ["id"])
    return snap


def _stale_stats_setup(spark, sf_dir, root):
    # postings of 18 docs under the _stats of the first 12: the state a
    # crash in the append's half-commit window leaves
    _bm25_setup(spark, sf_dir, root)
    shutil.copytree(f"{root}/idx/_stats", f"{root}/stats12")
    _bm25_append(spark, sf_dir, root)
    shutil.rmtree(f"{root}/idx/_stats")
    shutil.move(f"{root}/stats12", f"{root}/idx/_stats")


def _bm25_compact_setup(spark, sf_dir, root):
    _bm25_setup(spark, sf_dir, root)
    _bm25_append(spark, sf_dir, root)


def _bm25_compact(spark, sf_dir, root):
    retrieval.compact_bm25_index(spark, f"{root}/idx")


def _postings_snap(spark, root):
    return {"idx": keyed(spark, f"{root}/idx", ["word", "id"])}


def _ivf_setup(spark, sf_dir, root):
    similarity.write_ivf_index(
        vectors(spark, sf_dir, 0, 24), f"{root}/idx", num_centroids=4
    )
    similarity.append_to_ivf_index(
        spark, f"{root}/idx", vectors(spark, sf_dir, 24, 36)
    )


def _ivf_compact(spark, sf_dir, root):
    similarity.compact_ivf_index(spark, f"{root}/idx")


def _ivf_snap(spark, root):
    return {"idx": keyed(spark, f"{root}/idx", ["vec_id"], ["vec_id", "cluster"])}


def _ledger_setup(spark, sf_dir, root):
    for lo in (0, 6):
        curation.admit_batch(spark, f"{root}/fps", docs(spark, sf_dir, lo, lo + 6))


def _ledger_compact(spark, sf_dir, root):
    compact_ledger(spark, f"{root}/fps", "content_fp")


def _ledger_snap(spark, root):
    return {"fps": keyed(spark, f"{root}/fps", ["content_fp"])}


def _migrate_setup(spark, sf_dir, root):
    kv(spark, 0, 8, "old").write.parquet(f"{root}/tbl")


def _migrate_op(spark, sf_dir, root):
    migrate_ledger(
        spark, f"{root}/tbl",
        lambda df: df.withColumn("bucket", F.pmod("k", F.lit(4)).cast("int")),
        {"n_buckets": 4},
    )


def _tbl_snap(spark, root):
    return {"tbl": keyed(spark, f"{root}/tbl", ["k"], ["k", "v"])}


def _scheme_setup(spark, sf_dir, root):
    os.makedirs(f"{root}/tbl")
    write_scheme(spark, f"{root}/tbl", {"n": 1})


def _scheme_op(spark, sf_dir, root):
    write_scheme(spark, f"{root}/tbl", {"n": 2})


def _scheme_snap(spark, root):
    got = read_scheme(spark, f"{root}/tbl", ("n",))
    return {"_scheme": None if got is None else [((), (got["n"],))]}


def _shards(lo, hi):
    def run(spark, sf_dir, root):
        curation.write_training_shards(
            docs(spark, sf_dir, lo, hi).select("doc_id", "text"),
            f"{root}/shards", token_budget=400,
        )

    return run


def _shards_snap(spark, root):
    return {"shards": keyed(spark, f"{root}/shards", ["doc_id"], ["doc_id", "shard"])}


_EVENTS = "event_id long, ts timestamp, user_id long, event_type string"


def _scd2_run(spark, root):
    stream = (
        spark.readStream.schema(_EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src/*")
    )
    ck = f"{root}/ck/{uuid.uuid4().hex[:8]}"
    stream_scd2_sink(stream, f"{root}/dim", ck).awaitTermination(120)


def _scd2_setup(spark, sf_dir, root):
    from datetime import datetime

    def batch(name, rows):
        spark.createDataFrame(rows, _EVENTS).coalesce(1).write.parquet(
            f"{root}/src/{name}"
        )

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    batch("b1", [(1, t(0), 7, "a"), (2, t(1), 8, "b")])
    _scd2_run(spark, root)
    batch("b2", [(3, t(2), 7, "c"), (4, t(3), 9, "x")])


def _scd2_op(spark, sf_dir, root):
    _scd2_run(spark, root)


def _scd2_snap(spark, root):
    return {"dim": keyed(spark, f"{root}/dim", ["user_id", "version"])}


def _medallion(batch, n_kb=None):
    def run(spark, sf_dir, root):
        run_medallion_incremental(
            spark, [batch(spark, sf_dir)], f"{root}/state", upsert_buckets=n_kb
        )

    return run


def _b1(spark, sf_dir):
    return documents_as_raw(docs(spark, sf_dir, 0, 8))


def _recrawl(spark, sf_dir):
    # re-crawls of b1's urls, which admission must reject
    return (
        documents_as_raw(docs(spark, sf_dir, 0, 3))
        .withColumn("doc_id", F.col("doc_id") + 1000)
        .withColumn("content", F.concat(F.lit("RECRAWL "), "content"))
    )


def _b2(spark, sf_dir):
    # new urls plus re-crawls
    new = documents_as_raw(docs(spark, sf_dir, 8, 12))
    return new.unionByName(_recrawl(spark, sf_dir))


def _medallion_snap(spark, root):
    s = f"{root}/state"
    return {
        "bronze": keyed(spark, f"{s}/bronze", ["doc_id"], ["doc_id", "content"]),
        "silver": keyed(spark, f"{s}/silver", ["url"], ["url", "doc_id"]),
        "gold": keyed(
            spark, f"{s}/gold", ["url", "chunk_index"], ["url", "chunk_index"]
        ),
    }


CASES = {
    "upsert_flat": (_flat_setup, _upsert(None), _layer_snap, None),
    "upsert_migration": (_flat_setup, _upsert(4), _layer_snap, None),
    "upsert_bucketed": (_bucketed_setup, _upsert(2), _layer_snap, None),
    "compact_layer": (_compact_setup, _compact_op, _layer_snap, None),
    "append_to_bm25_index": (_bm25_setup, _bm25_append, _stats_snap, _bm25_rebuild),
    "rebuild_bm25_stats": (_stale_stats_setup, _bm25_rebuild, _stats_snap, None),
    "compact_ivf_index": (_ivf_setup, _ivf_compact, _ivf_snap, None),
    "compact_bm25_index": (_bm25_compact_setup, _bm25_compact, _postings_snap, None),
    "compact_ledger": (_ledger_setup, _ledger_compact, _ledger_snap, None),
    "migrate_ledger": (_migrate_setup, _migrate_op, _tbl_snap, None),
    "write_scheme": (_scheme_setup, _scheme_op, _scheme_snap, None),
    "write_training_shards": (_shards(0, 12), _shards(6, 16), _shards_snap, None),
    "scd2_sink": (_scd2_setup, _scd2_op, _scd2_snap, None),
    "run_medallion_incremental": (
        _medallion(_b1), _medallion(_b2), _medallion_snap, None
    ),
    # a pure re-crawl wave: only bronze commits (bucket by bucket), and
    # a crash in any bronze bucket's between-renames window must not
    # let the next run's admission miss that bucket's urls
    "run_medallion_bucketed": (
        _medallion(_b1, 2), _medallion(_recrawl, 2), _medallion_snap, None
    ),
}
# Cases whose layers commit bucket by bucket: target -> (its path
# under the case root, its key columns).
BUCKETED = {
    "upsert_bucketed": {"layer": ("layer", ["k"])},
    "run_medallion_bucketed": {
        "bronze": ("state/bronze", ["doc_id"]),
        "silver": ("state/silver", ["url"]),
        "gold": ("state/gold", ["url", "chunk_index"]),
    },
}


def bucket_of(spark, name, roots):
    """``{target: {key: _kb}}`` of a bucketed case's layers under
    ``roots`` (the bucket is a function of the key)."""
    out = {}
    for target, (rel, key_cols) in BUCKETED.get(name, {}).items():
        rows = [
            r
            for root in roots
            for r in spark.read.parquet(f"{root}/{rel}")
            .select(*key_cols, "_kb").collect()
        ]
        out[target] = {tuple(r[c] for c in key_cols): r["_kb"] for r in rows}
    return out


def _check_read(name, work, got, old, new, kb):
    for target, pairs in got.items():
        if pairs is None:  # between-renames window: absent until healed
            continue
        keys = [k for k, _ in pairs]
        assert len(keys) == len(set(keys)), (name, target, "duplicate key")
        if target not in kb:
            assert pairs in (old[target], new[target]), (name, target)
            continue

        def split(ps):
            out = {}
            for p in ps or []:
                out.setdefault(kb[target][p[0]], []).append(p)
            return out

        got_b, old_b, new_b = split(pairs), split(old[target]), split(new[target])
        parked = os.listdir(f"{work}/{BUCKETED[name][target][0]}")
        for b in set(got_b) | set(old_b) | set(new_b):
            rows = got_b.get(b, [])
            if rows in (old_b.get(b, []), new_b.get(b, [])):
                continue
            assert not rows and f"_kb={b}" not in parked and any(
                n.startswith(f"._kb={b}._old_") for n in parked
            ), (name, target, b, "bucket is neither old nor new")


@pytest.fixture(scope="module")
def prepared(spark, sf_dir, tmp_path_factory):
    """Per case: the old state's root, its snapshot, the snapshot after
    a clean run, that run's rename/rmtree count, and the key-to-bucket
    map of a bucketed case. Built for all cases concurrently."""
    top = tmp_path_factory.mktemp("crash_matrix")

    def prepare(name):
        setup, op, snap, _ = CASES[name]
        base, ref = f"{top}/{name}/base", f"{top}/{name}/ref"
        setup(spark, sf_dir, base)
        old = snap(spark, base)
        shutil.copytree(base, ref)
        arm(ref)
        op(spark, sf_dir, ref)
        kb = bucket_of(spark, name, (base, ref))
        return name, (base, old, snap(spark, ref), calls[ref], kb)

    with crash_gate() as (arm, calls), ThreadPoolExecutor(THREADS) as pool:
        cases = dict(pool.map(prepare, CASES))
    yield cases
    # hundreds of concurrent tiny jobs grow the shared session's heap;
    # a full GC hands it back so later tests keep their memory headroom
    spark._jvm.java.lang.System.gc()


@pytest.mark.parametrize("name", sorted(CASES))
def test_crash_at_every_swap_step(spark, sf_dir, tmp_path, prepared, name):
    _, op, snap, heal = CASES[name]
    heal = heal or op
    base, old, new, n_calls, kb = prepared[name]
    assert n_calls >= 1, name

    def crash_then_heal(k):
        work = str(tmp_path / f"k{k}")
        shutil.copytree(base, work)
        arm(work, k)
        with pytest.raises(Exception):
            op(spark, sf_dir, work)
        assert calls[work] == k, (name, k, "failed before its crash point")
        arm(work)
        _check_read(name, work, snap(spark, work), old, new, kb)
        heal(spark, sf_dir, work)
        assert snap(spark, work) == new, (name, k)
        left = [p for p in pathlib.Path(work).rglob("*") if REMNANT.search(p.name)]
        assert not left, (name, k, left)

    with crash_gate() as (arm, calls), ThreadPoolExecutor(THREADS) as pool:
        list(pool.map(crash_then_heal, range(n_calls)))


def test_os_rename_only_in_swap_primitive():
    """The package commits directories only through ``swap_dir`` and
    heals them only through ``recover_dir`` (and its ``_heal``): no
    other ``os.rename(``."""
    import ast

    import lakehouse_to_rag_spark

    pkg = pathlib.Path(lakehouse_to_rag_spark.__file__).parent
    allowed = set()
    primitive = pkg / "sources" / "lakehouse.py"
    for node in ast.walk(ast.parse(primitive.read_text())):
        if isinstance(node, ast.FunctionDef) and node.name in (
            "swap_dir", "recover_dir", "_heal"
        ):
            allowed |= set(range(node.lineno, node.end_lineno + 1))
    hits = [
        f"{f.relative_to(pkg)}:{i}"
        for f in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if "os.rename(" in line and not (f == primitive and i in allowed)
    ]
    assert allowed and not hits, hits
