"""Session-factory conf contracts added by the r13 optimization round."""

import os

from lakehouse_to_rag_spark.session import get_spark


def test_blas_threads_pinned_in_worker_env(spark):
    """get_spark pins per-worker BLAS threading to 1 (guide §4.5:
    one Python worker per task slot — nested BLAS auto-threading
    oversubscribes cores slot×threads) unless the caller exported an
    explicit override."""
    for var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        expected = os.environ.get(var, "1")
        assert spark.conf.get(f"spark.executorEnv.{var}") == expected


def test_tiny_df_is_single_slice(spark):
    """tiny_df keeps driver-bounded row lists in ONE slice — the
    defaultParallelism fan-out made every single-task consumer
    (coalesce(1) writes above all) serially re-evaluate 32 pickled
    slices through the Python worker protocol."""
    from lakehouse_to_rag_spark.sources.tables import tiny_df

    df = tiny_df(spark, [(1, "a"), (2, "b")], "id long, s string")
    assert df.rdd.getNumPartitions() == 1
    assert sorted((r["id"], r["s"]) for r in df.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    empty = tiny_df(spark, [], "id long")
    assert empty.count() == 0


def test_blas_pin_respects_explicit_env(monkeypatch):
    """An exported thread-count env var must win over the default pin
    (helper-level check — getOrCreate() would reuse the fixture's
    context without re-applying builder configs)."""
    from lakehouse_to_rag_spark.session import _blas_worker_env

    monkeypatch.setenv("OPENBLAS_NUM_THREADS", "4")
    env = _blas_worker_env()
    assert env["OPENBLAS_NUM_THREADS"] == "4"
    assert env["OMP_NUM_THREADS"] == "1"
    monkeypatch.delenv("OPENBLAS_NUM_THREADS")
    assert _blas_worker_env()["OPENBLAS_NUM_THREADS"] == "1"


def _bits(v):
    """Collected value with every double as its exact bit pattern, so
    equality below is bit-identity (``-0.0 == 0.0`` and NaN would slip
    past plain ``==``)."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _tiny_df_vs_python_rdd_path(spark):
    """Compare tiny_df with the ``createDataFrame(parallelize(rows, 1))``
    path it replaced, for the schemas its callers pass; raise on the
    first difference. Run in a process whose TZ was set before Spark
    started: the old path converted rows in Python workers, which
    inherit the process environment at their launch."""
    import datetime as dt

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.sources.tables import tiny_df

    served = spark.range(3).selectExpr(
        "id AS query_id", "id + 1 AS rank", "id * 7 AS doc_id",
        "CAST(id AS DOUBLE) / 3 AS score",
    )
    cases = [
        ([(1, "a"), (-(2**62), None)], "query_id long, query string"),
        (
            [(0, [0.1, -0.0, float("nan"), 1e-300]), (1, [])],
            StructType([
                StructField("centroid_id", LongType()),
                StructField("cvec", ArrayType(DoubleType())),
            ]),
        ),
        ([(2, 64)], "num_bands int, n_buckets int"),
        ([(7,)], "batch_id long"),
        ([(10, 5000, 500 / 10, 64)],
         "n_docs long, sum_dl long, avgdl double, n_buckets long"),
        ([(1, 42, 0.25), (2, 7, None)], "rank long, doc_id long, radius double"),
        (served.collect(), served.schema),
        ([], "index string, part bigint, n_rows bigint"),
        (
            [
                (dt.datetime(2025, 1, 1, 12), dt.date(2025, 3, 9),
                 dt.datetime(2025, 3, 9, 2, 30), [dt.datetime(2024, 11, 3, 1, 30)]),
                (dt.datetime(2025, 1, 1, 12, tzinfo=dt.timezone.utc), None, None, None),
            ],
            "ts timestamp, d date, ntz timestamp_ntz, tss array<timestamp>",
        ),
    ]
    for rows, schema in cases:
        new = tiny_df(spark, rows, schema)
        old = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )
        assert new.schema == old.schema, schema
        assert [_bits(tuple(r)) for r in new.collect()] == [
            _bits(tuple(r)) for r in old.collect()
        ], schema
        # the instants as the JVM holds them, not only as collected
        for f in new.schema.fields:
            if f.dataType.typeName() == "timestamp":
                q = f"unix_micros({f.name})"
                assert new.selectExpr(q).collect() == old.selectExpr(q).collect()
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_tiny_df_values_match_python_rdd_path_under_hostile_tz(tmp_path):
    """tiny_df's JVM-local frame holds bit-identical values to the
    Python-RDD path it replaced while the process runs in
    America/New_York and the session in Asia/Kolkata. A naive datetime
    must be read as process-local time (``TimestampType.toInternal``),
    not as UTC wall-clock — what a plain Arrow conversion does, a 5 h
    shift here. Runs in a fresh process so its Python workers start
    with the hostile TZ as well."""
    import subprocess
    import sys

    script = tmp_path / "hostile_tz.py"
    script.write_text(
        "import importlib.util\n"
        "from lakehouse_to_rag_spark.session import get_spark\n"
        f"spec = importlib.util.spec_from_file_location('t', {__file__!r})\n"
        "t = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(t)\n"
        "spark = get_spark('tiny-df-hostile-tz', cpus=1)\n"
        "spark.conf.set('spark.sql.session.timeZone', 'Asia/Kolkata')\n"
        "t._tiny_df_vs_python_rdd_path(spark)\n"
        "spark.stop()\n"
        "print('TINY_DF_OK')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, str(script)], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0 and "TINY_DF_OK" in out.stdout, out.stderr[-4000:]
