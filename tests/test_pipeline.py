"""Medallion pipeline property tests (SURVEY.md §5.2 items 3-4)."""

import re

from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.pipeline import run_medallion
from lakehouse_to_rag_spark.operators.silver import dedup_keep_first


def test_medallion_runs_and_row_counts(spark, sf_dir):
    layers = run_medallion(spark, sf_dir)
    n_raw = layers["raw"].count()
    n_bronze = layers["bronze"].count()
    n_silver = layers["silver"].count()
    n_gold = layers["gold"].count()
    assert n_raw == 500
    assert 0 < n_bronze <= n_raw
    assert 0 < n_silver <= n_bronze
    assert n_gold >= n_silver  # explode fans out


def test_silver_normalization_shape(spark, sf_dir):
    layers = run_medallion(spark, sf_dir)
    rows = layers["silver"].select("content").limit(50).collect()
    pat = re.compile(r"^[a-z0-9\s.,!?;:\-()_]*$")
    for r in rows:
        assert pat.match(r["content"]), r["content"][:80]
        assert "  " not in r["content"]
        assert r["content"] == r["content"].strip()


def test_silver_dedup_unique_keys(spark, sf_dir):
    layers = run_medallion(spark, sf_dir)
    n = layers["silver"].count()
    n_keys = layers["silver"].select("url").distinct().count()
    assert n == n_keys


def test_gold_chunk_bounds_and_index(spark, sf_dir):
    layers = run_medallion(spark, sf_dir)
    bad = layers["gold"].filter(F.length("chunk") > 200).count()
    assert bad == 0
    # chunk_index dense from 0 per document
    agg = (
        layers["gold"]
        .groupBy("url")
        .agg(F.min("chunk_index").alias("mn"), F.max("chunk_index").alias("mx"),
             F.count(F.lit(1)).alias("cnt"))
    )
    assert agg.filter((F.col("mn") != 0) | (F.col("mx") != F.col("cnt") - 1)).count() == 0


def test_dedup_keep_first_matches_row_number(spark, sf_dir):
    from lakehouse_to_rag_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected = (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    got = dedup_keep_first(ev, ["user_id"], ["ts", "event_id"])
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_run_etl_end_to_end(spark, tmp_path):
    """Reference-user migration path: dir of scraped JSON -> persisted
    bronze/silver/gold layers (gold to the GOLD path — the reference
    writes gold over silver, etl.py:240; we implement the intent)."""
    import json

    from lakehouse_to_rag_spark.etl import run_etl

    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(6):
        (raw / f"p{i}.json").write_text(json.dumps({
            "url": f"http://site/{i % 4}",  # 2 duplicate urls
            "scraped_at": float(i),
            "status_code": 200,
            "title": f"T{i}",
            "content": (f"Document {i} body. " * 8) if i != 5 else "  ",
            "author": None,
            "language": "en",
        }))
    out = tmp_path / "lake"
    paths = run_etl(spark, str(raw) + "/*.json", str(out),
                    processed_at="2025-01-01 00:00:00")
    bronze = spark.read.parquet(paths["bronze"])
    silver = spark.read.parquet(paths["silver"])
    gold = spark.read.parquet(paths["gold"])
    assert bronze.count() == 5          # empty content dropped
    assert silver.count() == 4          # dedup by url
    assert gold.count() >= silver.count()
    assert "chunk" in gold.columns and "chunk_index" in gold.columns
    assert paths["gold"].endswith("/gold")


def test_medallion_incremental_equals_overwrite(spark, sf_dir, tmp_path):
    """Maintained-mode medallion == one overwrite run over the union:
    feed the corpus as three disjoint batches plus (a) a re-crawl
    batch resending existing urls with altered content (must all be
    rejected — first crawl wins) and (b) a batch-boundary case: a url
    whose FIRST version fails the length filter and whose re-crawl
    would pass (must stay out — the reference ranks before filtering,
    so the first crawl wins even when it yields nothing)."""
    from lakehouse_to_rag_spark.operators.pipeline import (
        documents_as_raw,
        run_medallion_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = documents_as_raw(docs)
    short_first = raw.filter("doc_id = 0").select(
        F.lit("doc://edge").alias("url"), "source",
        F.lit("edge").alias("title"),
        F.lit("tiny.").alias("content"),
        F.lit(99_000_000).cast("long").alias("doc_id"), "lang",
    )
    long_second = short_first.select(
        "url", "source", "title",
        F.lit("now the content is long enough to clear the fifty "
              "character silver floor easily.").alias("content"),
        (F.col("doc_id") + 1).alias("doc_id"), "lang",
    )
    recrawl = (
        raw.filter("doc_id < 100")
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        .withColumn(
            "content", F.concat(F.lit("RECRAWLED COPY "), F.col("content"))
        )
    )
    batches = [
        raw.filter("doc_id % 3 = 0").unionByName(short_first),
        raw.filter("doc_id % 3 = 1"),
        raw.filter("doc_id % 3 = 2").unionByName(long_second),
        recrawl,
    ]
    maintained = run_medallion_incremental(
        spark, batches, str(tmp_path / "state")
    )

    from lakehouse_to_rag_spark.operators.bronze import bronze_transform
    from lakehouse_to_rag_spark.operators.gold import gold_transform
    from lakehouse_to_rag_spark.operators.silver import silver_transform

    union = raw.unionByName(short_first).unionByName(long_second).unionByName(recrawl)
    bronze = bronze_transform(
        union, id_cols=("url", "source", "title", "doc_id", "lang"),
        processed_at="2025-01-01 00:00:00",
    )
    silver = silver_transform(
        bronze, key_col="url", order_cols=("processed_at", "doc_id"),
        silver_processed_at="2025-01-01 00:00:00",
    )
    gold = gold_transform(silver, with_index=True)

    for layer, want in (("bronze", bronze), ("silver", silver), ("gold", gold)):
        cols = sorted(want.columns)
        a = sorted(map(tuple, maintained[layer].select(*cols).collect()))
        b = sorted(map(tuple, want.select(*cols).collect()))
        assert a == b and a, layer
    urls = {r["url"] for r in maintained["silver"].select("url").collect()}
    assert "doc://edge" not in urls  # rank-before-filter: first crawl wins


def test_medallion_incremental_crash_replay(spark, sf_dir, tmp_path):
    """The ADVICE r7 crash window: a turn that dies AFTER its
    silver/gold upserts but BEFORE bronze must replay losslessly.
    Bronze (the admission-key layer) now upserts LAST, so the dead
    turn's urls are not yet 'seen' and the replay re-admits them
    through the idempotent by-key upserts. We simulate the crash by
    running a turn's silver/gold upserts manually and skipping
    bronze, then replaying the batch through the real operator."""
    from lakehouse_to_rag_spark.operators.bronze import bronze_transform
    from lakehouse_to_rag_spark.operators.gold import gold_transform
    from lakehouse_to_rag_spark.operators.pipeline import (
        documents_as_raw,
        run_medallion_incremental,
    )
    from lakehouse_to_rag_spark.operators.silver import silver_transform
    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        upsert_by_key,
    )

    ts = "2025-01-01 00:00:00"
    raw = documents_as_raw(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    b1 = raw.filter("doc_id % 2 = 0")
    b2 = raw.filter("doc_id % 2 = 1")

    crashed = str(tmp_path / "crashed")
    run_medallion_incremental(spark, [b1], crashed)

    # --- the dying turn for b2: silver + gold land, bronze does NOT
    bronze_b = bronze_transform(
        b2, id_cols=("url", "source", "title", "doc_id", "lang"),
        processed_at=ts,
    )
    seen = read_layer(spark, f"{crashed}/bronze").select("url").distinct()
    fresh = (
        silver_transform(
            bronze_b, key_col="url", order_cols=("processed_at", "doc_id"),
            silver_processed_at=ts,
        )
        .join(seen, "url", "left_anti")
        .localCheckpoint(eager=True)
    )
    upsert_by_key(spark, f"{crashed}/silver", fresh, ["url"])
    upsert_by_key(
        spark, f"{crashed}/gold", gold_transform(fresh, with_index=True),
        ["url", "chunk_index"],
    )
    # crash here: bronze never upserted — now the foreachBatch replay
    replayed = run_medallion_incremental(spark, [b2], crashed)

    clean = run_medallion_incremental(
        spark, [b1, b2], str(tmp_path / "clean")
    )
    for layer in ("bronze", "silver", "gold"):
        cols = sorted(clean[layer].columns)
        a = sorted(map(tuple, replayed[layer].select(*cols).collect()))
        b = sorted(map(tuple, clean[layer].select(*cols).collect()))
        assert a == b and a, layer


def test_medallion_incremental_heals_bronze_before_admission(
    spark, sf_dir, tmp_path
):
    """A crash in bronze's between-renames window leaves no bronze at
    its path, only the displaced old dir. The next batch must heal it
    BEFORE the admission read: otherwise the read finds no bronze,
    every re-crawled url is re-admitted and its first-crawl silver and
    gold rows are replaced."""
    import os

    from lakehouse_to_rag_spark.operators.pipeline import (
        documents_as_raw,
        run_medallion_incremental,
    )

    raw = documents_as_raw(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    b1 = raw.filter("doc_id < 40")
    recrawl = (
        raw.filter("doc_id < 10")
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        .withColumn(
            "content", F.concat(F.lit("RECRAWLED COPY "), F.col("content"))
        )
    )
    state = str(tmp_path / "crashed")
    run_medallion_incremental(spark, [b1], state)
    os.rename(f"{state}/bronze", f"{state}/bronze__old_deadbeef")
    crashed = run_medallion_incremental(spark, [recrawl], state)
    clean = run_medallion_incremental(
        spark, [b1, recrawl], str(tmp_path / "clean")
    )
    for layer in ("bronze", "silver", "gold"):
        cols = sorted(clean[layer].columns)
        a = sorted(map(tuple, crashed[layer].select(*cols).collect()))
        b = sorted(map(tuple, clean[layer].select(*cols).collect()))
        assert a == b and a, layer
    assert not os.path.exists(f"{state}/bronze__old_deadbeef")


def test_observed_medallion_metrics_match_direct_aggregates(spark, sf_dir):
    """Observation metrics (computed inside the job, zero extra scan)
    must equal the values a separate aggregation job computes, and one
    gold action must populate all three layers' observations."""
    from lakehouse_to_rag_spark.operators.observe import (
        metrics_row,
        run_medallion_observed,
    )

    layers, obs = run_medallion_observed(spark, sf_dir)
    n_gold = layers["gold"].count()  # the ONE action

    m_bronze = metrics_row(obs["bronze"])
    m_silver = metrics_row(obs["silver"])
    m_gold = metrics_row(obs["gold"])

    assert m_gold["rows"] == n_gold
    # cross-check against independent aggregation jobs
    direct = run_medallion(spark, sf_dir)
    for name, m, col in (
        ("bronze", m_bronze, "content"),
        ("silver", m_silver, "content"),
    ):
        row = direct[name].agg(
            F.count(F.lit(1)).alias("rows"),
            F.round(F.avg(F.length(col)), 4).alias("avg_content_length"),
        ).collect()[0]
        assert m["rows"] == row["rows"], name
        assert m["avg_content_length"] == row["avg_content_length"], name
    assert m_bronze["empty_rows"] == 0  # bronze filters empties


def test_evidence_rounds_ignores_failing_rows(tmp_path, monkeypatch):
    """The driver-window staleness metric must count only HASH-GREEN
    evidence: a real `err` row, a hash-diverged row (`hash_match`
    false, err null), AND — since r11 — an `err: no_oracle` row all
    rotate the entry back in as maximally stale instead of parking it
    out of the window for a full cycle (for an oracle-backed entry a
    no_oracle row means the hash gate never ran; rows-only entries no
    longer rotate at all, so the clause protected nothing)."""
    import json

    from lakehouse_to_rag_spark.plans import registry

    rows = {
        "green": {"hash_match": True, "err": None, "spark_rows": 5},
        "rows_only": {"hash_match": None, "err": "no_oracle",
                      "spark_rows": 5},
        "hash_diverged": {"hash_match": False, "err": None,
                          "spark_rows": 5},
        "hard_error": {"hash_match": None, "err": "boom",
                       "spark_rows": 5},
    }
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps(rows))

    # point the scanner at the fixture dir
    import pathlib

    orig = pathlib.Path.glob

    def fake_glob(self, pattern):
        if pattern == "CORRECTNESS_r*.json":
            return orig(tmp_path, pattern)
        return orig(self, pattern)

    monkeypatch.setattr(pathlib.Path, "glob", fake_glob)
    ev = registry._evidence_rounds()
    assert ev.get("green") == 7
    assert "rows_only" not in ev
    assert "hash_diverged" not in ev
    assert "hard_error" not in ev


def test_driver_window_bounds_staleness_to_arithmetic_cycle():
    """The mechanical rotation must actually retire staleness: with
    the REAL CORRECTNESS files on disk, every entry whose newest
    driver evidence is >= B rounds old must be inside the upcoming
    50-entry window (VERDICT r5 'freshness follow-through'), where
    B = max(3, ceil(non_fixed / free_slots)) is the stalest-first
    fill's provable re-confirmation cycle — a fixed B=3 became
    arithmetically impossible once the registry outgrew 150 entries.
    If the rotation logic regresses (or fixed slots crowd out the
    backlog) this fails loudly instead of letting entries silently
    age out."""
    import math

    from lakehouse_to_rag_spark.plans import registry

    ev = registry._evidence_rounds()
    if not ev:  # fresh clone without CORRECTNESS files
        return
    newest = max(ev.values())
    n_fixed = len(
        set(registry._CANARIES)
        | {p for p in registry._PINS if p in registry.QUERIES}
    )
    free = 50 - n_fixed
    # r11: only oracle-backed entries rotate (the structurally
    # no-oracle rows-only class is excluded from the window — VERDICT
    # r10 task 2). r14: the cycle arithmetic runs over the ROTATION
    # POOL — ORACLES minus the growth-policy-step-3 consolidated twins
    # (each gated by a rotating base entry + the full local oracle
    # suite every session), so window capacity is spent on entries
    # that gate distinct code paths.
    pool = registry.rotation_pool()
    bound = max(3, math.ceil((len(pool) - n_fixed) / free))
    assert bound <= 5, (
        f"re-confirmation cycle has grown to {bound} rounds "
        f"({len(pool)} rotating entries, {free} free slots) — trim "
        "fixed slots or accept and document the longer cycle"
    )
    # consolidated twins must never be silently dropped from the
    # registry itself: still registered, still oracle-backed
    assert all(
        n in registry.ORACLES for n in registry._CONSOLIDATED
    )
    window = set(registry._driver_window())
    stale = [
        n for n in pool
        if ev.get(n, 0) <= newest - bound
    ]
    left_out = [n for n in stale if n not in window]
    assert not left_out, (
        f"{len(left_out)} entries with evidence older than {bound} "
        f"rounds did not rotate into the window: {left_out[:10]}"
    )


def test_no_bare_whitespace_regex_in_split_oracles():
    """Java's \\s includes \\x0B; RE2's (DuckDB's) does not. Every
    word-split site in the oracle SQL must therefore use the explicit
    WS_CLASS character class (or the documented single-space /
    chr(10) conventions) — a bare '\\s+' split silently diverges on
    vertical-tab text. Mechanical guard: scan every registered
    oracle."""
    import re

    from lakehouse_to_rag_spark.functions.text import WS_CLASS
    from lakehouse_to_rag_spark.plans.registry import ORACLES

    bad = []
    for name, sql in ORACLES.items():
        if sql is None:
            continue
        for m in re.finditer(
            r"regexp_split_to_array\(\s*\w+\s*,\s*'([^']*)'", sql
        ):
            pat = m.group(1)
            if pat == "\\s+" or pat == r"\s+":
                bad.append((name, pat))
            # any OTHER class containing \s is suspect too
            elif "\\s" in pat:
                bad.append((name, pat))
    assert not bad, f"oracles splitting on RE2 \\s (diverges from Java): {bad}"
    # and the canonical class is what the split sites actually use
    users = [n for n, sql in ORACLES.items()
             if sql and WS_CLASS in sql]
    assert len(users) >= 3, users  # gopher, pipeline, sequence_pack
