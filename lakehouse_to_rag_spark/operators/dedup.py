"""Deduplication operators for training-data pipelines (SURVEY.md §2.13).

Exact, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
near-dup — all expressed with JVM-side built-ins (xxhash64, explode,
hash-joins, bit ops); zero Python UDFs. Every operator is shaped for
100 TB:

- shingling/minhash signatures are partial-aggregatable groupBys
  (map-side combine shrinks data before the shuffle);
- candidate generation is an equi-join on band keys (hash shuffle on
  band, never an all-pairs product);
- exact verification joins only the candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_to_rag_spark.operators.similarity import _round_away


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup on a key set — generalization of reference W1/D1
    (SURVEY.md §2.13). Keeps one arbitrary row per key; for a
    deterministic keeper use silver.dedup_keep_first."""
    return df.dropDuplicates(cols)


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup summary: one row per distinct text with
    its content hash, the kept (min) id, and the copy count. The md5 is
    computed pre-shuffle; the groupBy is a 2-phase hash aggregate."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------- word shingles

def _shingle_expr(n: int):
    """Array of word n-gram shingles from a materialized `_words`
    column. The split MUST be a real column (not an inline expr): an
    expression referenced inside a transform() lambda is re-evaluated
    per element access, so an inline split would re-run the regex ~3n
    times per document (measured 4x slowdown)."""
    words = F.col("_words")
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(words, i + j) for j in range(n)]
    )
    return F.when(
        F.size(words) >= n, F.transform(idx, gram)
    ).otherwise(F.array().cast("array<string>"))


def _with_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(df.select(F.col(id_col), F.col(text_col)))
    return narrow.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ", -1).alias("_words"),
    )


def _char_shingle_expr(n: int):
    """Array of character n-gram shingles from a materialized `_text`
    column — one substring per position, code-point semantics on both
    Spark and DuckDB (substring/length count code points in both
    engines, unlike split('') — so char-shingle oracles hold beyond
    ASCII). substr is O(n) per element against the bound column; no
    expensive expression is re-evaluated per element (the fold-
    inlining rule)."""
    t = F.col("_text")
    idx = F.sequence(F.lit(1), F.length(t) - (n - 1))
    return F.when(
        F.length(t) >= n, F.transform(idx, lambda i: t.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


_CHAR_SLICE_LEN = 4096
_CHAR_ARRAY_MAX_TEXT_LEN = 100_000


def _char_slices_expr(n: int, slice_len: int = _CHAR_SLICE_LEN):
    """Array of overlapping fixed-size slices of `_text` — the
    bounded-memory form of char shingling (VERDICT r11 task 5): the
    naive ``transform(sequence(1, len-n+1), substr)`` materializes an
    O(len * n) array of n-char strings per ROW before explode, so a
    1 MB document becomes tens of MB of string objects inside a single
    row — the executor-OOM shape the family otherwise avoids. Slices
    of ``slice_len + n - 1`` chars starting every ``slice_len``
    positions (n-1 overlap) cover every global shingle position
    EXACTLY once: position p (1-based, p <= len-n+1) falls in slice
    k = floor((p-1)/slice_len) at local offset p - k*slice_len in
    [1, slice_len], and the overlap guarantees the full n chars are
    inside the slice. The slices array is O(len) CHARS but only
    ceil(len/slice_len) strings (object overhead amortized 4096x);
    after explode each row holds one 4 KB slice and the per-slice
    shingle array is O(slice_len * n) — bounded regardless of
    document length. Last slice index = floor((len-n)/slice_len):
    later slices could hold no complete shingle start."""
    t = F.col("_text")
    last = F.floor((F.length(t) - F.lit(n)) / F.lit(slice_len)).cast("int")
    return F.when(
        F.length(t) >= n,
        F.transform(
            F.sequence(F.lit(0), last),
            lambda k: t.substr(k * slice_len + 1, F.lit(slice_len + n - 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _slice_shingle_expr(n: int):
    """Char n-gram shingles WITHIN a materialized `_slice` column —
    same substring/code-point semantics as ``_char_shingle_expr``,
    bounded by the slice width. Local positions run to
    length(slice) - n + 1, which never exceeds slice_len (slices are
    slice_len + n - 1 wide), so no position is double-counted across
    the n-1 overlap."""
    s = F.col("_slice")
    idx = F.sequence(F.lit(1), F.length(s) - (n - 1))
    return F.when(
        F.length(s) >= n, F.transform(idx, lambda i: s.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def _guarded_char_text(max_text_len: int | None, op_name: str):
    """`_text` with a LAZY fail-closed length bound (the
    ``max_broadcast_rows`` convention, riding the row like
    retrieval_metrics' qrels guard — no extra action, no extra pass):
    the per-row char-shingle ARRAY form is O(len) strings in ONE row,
    so past the bound the correct move is the exploded chunked form
    (``word_shingles(unit='char')``), not a silent multi-MB row."""
    t = F.col("_text")
    if max_text_len is None:
        return t
    if max_text_len < 1:
        raise ValueError(
            f"{op_name}: max_text_len must be >= 1 or None, "
            f"got {max_text_len}"
        )
    return F.when(F.length(t) <= max_text_len, t).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: document of "),
                F.length(t).cast("string"),
                F.lit(
                    f" code points exceeds max_text_len={max_text_len}; "
                    "the per-row char-shingle array is O(len) strings in "
                    "one row (executor-OOM shape). Use the exploded "
                    "chunked form (word_shingles unit='char') for long "
                    "documents, or raise the bound deliberately."
                ),
            )
        )
    )


def _shingle_unit(unit: str, op_name: str) -> None:
    if unit not in ("word", "char"):
        raise ValueError(
            f"{op_name}: unit must be 'word' or 'char', got {unit!r}"
        )


def _with_chars(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The char-mode twin of ``_with_words``: narrow projection with
    the text bound to ``_text`` (one shared shape for the exploded
    and array shingle forms — tests assert those agree)."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(df.select(F.col(id_col), F.col(text_col)))
    return narrow.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_text")
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Distinct n-gram shingles per document: (id, shingle) — the
    exploded inverted-index form. ``unit="word"`` (default): word
    n-grams from the whitespace split; documents shorter than n words
    produce no shingles. ``unit="char"`` (r11 — VERDICT r10 task 4):
    character n-grams via a substring sequence, the shingle unit that
    works on UNSEGMENTED scripts (CJK, Thai) where the whitespace
    split yields one giant token and word mode silently produces zero
    shingles — exactly the documents that would otherwise escape
    near-dup detection in a multilingual corpus. Same banding/capping
    downstream; only the shingle universe changes.

    Char mode is CHUNKED (r12 — VERDICT r11 task 5): explode the text
    into 4 KB slices with n-1 overlap first, then shingle within each
    slice — per-row memory is O(slice), not O(document), so a 1 MB
    document never materializes a multi-MB shingle array in one row.
    The produced (id, shingle) SET is identical to the naive form
    (each global position covered exactly once; equality-tested
    across slice widths). explode_outer + null filter, not plain
    explode, at BOTH levels: Catalyst infers size>0 on plain explode
    and pushes it below the parallelizing repartition with the whole
    array expression inlined (the shingle_novelty trap — the slicing
    would run twice per row inside the single-split scan)."""
    _shingle_unit(unit, "word_shingles")
    if unit == "char":
        sliced = (
            _with_chars(df, id_col, text_col)
            .select(
                F.col("id"),
                F.explode_outer(_char_slices_expr(n)).alias("_slice"),
            )
            .filter(F.col("_slice").isNotNull())
        )
        return (
            sliced.select(
                F.col("id"),
                F.explode_outer(_slice_shingle_expr(n)).alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
            .distinct()
        )
    return (
        _with_words(df, id_col, text_col)
        .select(F.col("id"), F.explode(_shingle_expr(n)).alias("shingle"))
        .distinct()
    )


def _resolve_shingle_cap(
    df: DataFrame,
    text_col: str,
    max_shingle_df: int | str | None,
    op_name: str,
) -> int | None:
    """Resolve the stop-shingle DF cap shared by the exact pair
    operators. ``"auto"`` (the default since r10 — VERDICT r9: an
    unbounded shingle self-join was the one remaining
    quadratic-by-default path in the dedup family) derives the same
    corpus-calibrated cap winnowing uses: clamp(ceil(1% of the
    non-null doc count), 16, 1000) — a FRACTION-of-corpus rule
    (MOSS's own semantic), robust where a df-quantile is not on
    boilerplate-heavy corpora (the boilerplate mass IS the tail).
    The floor-16 means any corpus of <= 16 documents is provably
    uncapped (df can never exceed the doc count), so hand-sized
    exactness tests are unaffected by construction. ``None`` =
    unbounded (the gated-oracle pin: exact whole-corpus semantics,
    scale-independent); an int is an explicit absolute cap. Costs one
    count for "auto"."""
    if max_shingle_df == "auto":
        n_docs = df.filter(F.col(text_col).isNotNull()).count()
        return int(min(1000, max(16, -(-n_docs // 100))))
    if max_shingle_df is None or isinstance(max_shingle_df, int):
        return max_shingle_df
    raise ValueError(
        f"{op_name}: max_shingle_df must be an int, None, or 'auto', "
        f"got {max_shingle_df!r}"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | str | None = "auto",
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).

    Shuffle shape: one exchange on `shingle` for the self-join.
    Skew guard: a stop-shingle shared by m documents contributes
    O(m^2) join rows — ``max_shingle_df`` drops shingles whose
    document frequency exceeds the cap BEFORE the join, bounding
    per-shingle fan-out at cap^2. Implemented as a COUNT window over
    `shingle` (one exchange, no second pass over the shingle
    pipeline — measured faster than both the agg+semi-join form and
    the uncapped form at sf0.1, since it pre-clusters the join key).

    SEMANTICS WHEN CAPPED (the DEFAULT since r10 — ``"auto"`` derives
    clamp(ceil(1% of docs), 16, 1000), the winnowing cap's
    fraction-of-corpus rule; pass ``None`` for exact whole-corpus
    Jaccard, the gated-oracle pin): the capped universe is used
    consistently for intersections AND set sizes, so jaccard is a
    true Jaccard over the FILTERED shingle space — pairs and
    denominators both change wherever a shingle's document frequency
    exceeds the cap. Ubiquitous shingles carry no near-dup signal
    (and each contributes O(df²) join rows — the quadratic-by-default
    path VERDICT r9 flagged), which is why capped is now the default;
    results are bit-identical to the uncapped form whenever no
    shingle exceeds the cap (always true below 17 documents — the
    floor). Intersection counts and set sizes are integers, so
    jaccard is bit-deterministic.

    The shingle table feeds THREE consumers (both join sides + the
    size aggregate) — localCheckpoint materializes the split+explode+
    distinct pipeline once instead of re-running it per consumer
    (plan sweep showed 4 document scans / 14 exchanges without it).
    """
    _shingle_unit(unit, "ngram_jaccard_pairs")
    cap = _resolve_shingle_cap(
        df, text_col, max_shingle_df, "ngram_jaccard_pairs"
    )
    sh = word_shingles(df, id_col, text_col, n, unit=unit)
    if cap is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= cap)
            .drop("_df")
        )
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(jac >= threshold)
    )


# ------------------------------------------------- auto unit dispatch

_AVG_TOKEN_LEN_CUTOFF = 20.0


def _is_unsegmented_expr(text_col: str, cutoff: float = _AVG_TOKEN_LEN_CUTOFF):
    """Per-document script heuristic (r12 — VERDICT r11 task 4): a
    document whose average whitespace-token length reaches ``cutoff``
    code points is treated as UNSEGMENTED (CJK/Thai/no-space) — its
    whitespace split is one giant token, so word shingles see nothing
    and the char unit is the only one that works. Space-delimited
    prose averages ~5-6 chars/token, so the default 20 is a wide
    margin in both directions. Pure row expression (length + split —
    no joins, no UDF) and exactly replayable in SQL, so auto-unit
    operators keep full oracles. NULL text classifies as word-regime
    (it produces no shingles either way)."""
    t = F.col(text_col)
    n_tokens = F.size(F.filter(F.split(t, " ", -1), lambda w: F.length(w) > 0))
    ratio = F.length(t) / F.greatest(n_tokens, F.lit(1))
    return F.coalesce(ratio >= F.lit(cutoff), F.lit(False))


# Expression classes Spark marks deterministic (constant WITHIN one
# query execution) whose value still differs BETWEEN the two
# independent regime scans split_by_script issues — per-query clock
# reads. Everything else is caught by Expression.deterministic().
_PER_QUERY_CLOCK_EXPR_CLASSES = frozenset(
    {
        "CurrentTimestamp",
        "Now",
        "CurrentDate",
        "LocalTimestamp",
        "CurrentTimeZone",
        "CurrentBatchTimestamp",
    }
)


def _iter_jseq(jseq):
    """Iterate a py4j-wrapped Scala Seq."""
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


# Subquery expression classes whose nested plan is reachable via
# .plan() — descended into because Catalyst marks a subquery over a
# clock read deterministic, yet its value differs across the two
# regime scans just like a top-level clock.
_SUBQUERY_EXPR_CLASSES = frozenset(
    {"ScalarSubquery", "ListQuery", "Exists", "LateralSubquery"}
)


def _first_nondet_in_expr(jexpr) -> str | None:
    """Deepest non-deterministic (or per-query-clock) expression class
    name under ``jexpr``, else None. Children first so the error names
    the culprit leaf (``Rand``), not the arithmetic wrapping it.
    Iterative post-order (explicit stack), NOT recursion: a
    programmatically built lineage can nest expressions thousands
    deep, and a RecursionError inside the walk would be swallowed by
    the advisory try in ``_plan_nondeterminism_marker`` — silently
    disabling the guard for exactly the lineages it exists for."""
    stack = [(jexpr, False)]
    while stack:
        e, children_done = stack.pop()
        if not children_done:
            stack.append((e, True))
            for child in _iter_jseq(e.children()):
                stack.append((child, False))
            continue
        cls = e.getClass().getSimpleName()
        if cls in _PER_QUERY_CLOCK_EXPR_CLASSES:
            return cls
        if cls in _SUBQUERY_EXPR_CLASSES:
            got = _walk_jplan(e.plan())
            if got is not None:
                return got
        if not e.deterministic():
            # No nondeterministic descendant returned first (post-
            # order) -> this node is the culprit. A nondeterministic
            # subquery lands here too (its own deterministic() covers
            # the nested plan) — fail closed.
            return cls
    return None


def _walk_jplan(jplan) -> str | None:
    """First risky expression class in a Catalyst logical plan tree
    (shared by the top-level walk and subquery descent)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Sample":
            return "Sample"
        for child in _iter_jseq(node.children()):
            stack.append(child)
        for jexpr in _iter_jseq(node.expressions()):
            got = _first_nondet_in_expr(jexpr)
            if got is not None:
                return got
    return None


def _plan_nondeterminism_marker(df: DataFrame) -> str | None:
    """Exact walk of the ANALYZED logical plan for expressions whose
    value can differ between two evaluations of the same lineage:
    anything Catalyst itself marks non-deterministic
    (``Expression.deterministic`` — Rand/Uuid/Shuffle/
    MonotonicallyIncreasingID/...), per-query clock reads
    (deterministic within one query, different across the two regime
    scans), and ``Sample`` plan nodes (seeded, but row membership
    still depends on partitioning, which two scans need not share).
    Returns the culprit's Catalyst class name, else None.

    r13 (self-review): replaces a lowercase substring scan of the
    plan's toString, which false-positived on column NAMES and string
    LITERALS containing e.g. ``current_timestamp`` or ``now()`` —
    breaking composition with the medallion pipeline, whose ingest-ts
    projection puts exactly those tokens in every downstream plan.
    Class identity via py4j can't collide with user data. Subquery
    plans are descended (a clock inside a deterministic subquery is
    still per-query). Best-effort by contract: non-JVM backends
    (Connect) return None (advisory guard), and a re-read mutable
    SOURCE remains undetectable."""
    try:
        return _walk_jplan(df._jdf.queryExecution().analyzed())
    except Exception:  # non-JVM backends (Connect) — guard is advisory
        return None


def split_by_script(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cutoff: float = _AVG_TOKEN_LEN_CUTOFF,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(word_regime, char_regime) split of a mixed-script corpus by
    ``_is_unsegmented_expr`` — the dispatch step of the auto-unit
    operators, exposed for callers composing their own per-regime
    pipelines.

    By default the two regimes each re-scan the input: for the normal
    case (a parquet-backed corpus with column pruning) two pushed-down
    scans are strictly cheaper at 100 TB than ``localCheckpoint``'s
    alternative — materializing the ENTIRE corpus to executor-local
    storage just to read it back twice (the dispatch predicate itself
    is one cheap row expression, re-evaluated per branch). Pass
    ``materialize=True`` when ``df`` is an EXPENSIVE derived lineage
    (joins/aggregations upstream) whose double evaluation would cost
    more than one materialization — the localCheckpoint convention
    the shingle-set pipelines use for exactly that shape.

    DETERMINISM CONTRACT (ADVICE r12): with ``materialize=False`` the
    dispatch predicate runs in two INDEPENDENT scans, so ``df``'s
    lineage must produce the same rows on both — a sampled,
    rand-derived, or clock-derived lineage can land a document in
    BOTH regimes (duplicate/contradictory pairs downstream) or in
    NEITHER (silently dropped). A best-effort plan scan fails closed
    when it spots such an expression, naming ``materialize=True`` as
    the fix (one pinned evaluation, both branches read the same
    rows); a re-read mutable SOURCE (a table another writer is
    updating mid-job) is undetectable from the plan and stays the
    caller's responsibility."""
    if not materialize:
        marker = _plan_nondeterminism_marker(df)
        if marker is not None:
            raise ValueError(
                "split_by_script: the input lineage contains a "
                f"non-deterministic expression ({marker!r}); two "
                "independent regime scans could disagree on which "
                "rows exist, landing documents in both regimes or "
                "neither. Pass materialize=True to pin one "
                "evaluation, checkpoint the input yourself, or — when "
                "the culprit is an injected ingest clock — rebuild the "
                "lineage with its deterministic literal mode (e.g. "
                "bronze_transform(processed_at=...))."
            )
    base = df.localCheckpoint(eager=False) if materialize else df
    flag = _is_unsegmented_expr(text_col, cutoff)
    return base.filter(~flag), base.filter(flag)


def ngram_jaccard_pairs_auto_unit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_word: int = 3,
    n_char: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | str | None = "auto",
    cutoff: float = _AVG_TOKEN_LEN_CUTOFF,
    materialize: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over a MIXED-SCRIPT corpus
    (r12 — VERDICT r11 task 4): each document is dispatched to the
    word or char shingle unit by the per-document script heuristic
    (``_is_unsegmented_expr`` — a real multilingual corpus is mixed,
    and without the dispatch a user must pre-split it by script
    themselves), pairs are found WITHIN each regime, and the union is
    returned with a ``unit`` column naming the regime that produced
    each pair. Cross-regime pairs are intentionally out of scope: a
    space-delimited and an unsegmented document have no shared
    shingle universe in either unit, so no single-unit operator could
    score them anyway (the documented contract, not a silent gap).

    Scale shape: the dispatch is one cheap row predicate over a
    single checkpointed base (no extra shuffle); each regime then
    runs the standard capped equi-join pipeline on its subset only —
    the corpus is never self-joined across regimes, so the union is
    strictly cheaper than running both units over everything.
    ``max_shingle_df="auto"`` derives each regime's stop-shingle cap
    from that regime's own document count (the fraction-of-corpus
    rule applied per shingle universe).

    Determinism (ADVICE r12): the dispatch evaluates ``df`` once per
    regime — see ``split_by_script``'s contract; a non-deterministic
    lineage fails closed there, and ``materialize=True`` pins one
    evaluation."""
    word_df, char_df = split_by_script(
        df, id_col, text_col, cutoff, materialize=materialize
    )
    pairs_w = ngram_jaccard_pairs(
        word_df, id_col, text_col, n_word, threshold, max_shingle_df,
        unit="word",
    )
    pairs_c = ngram_jaccard_pairs(
        char_df, id_col, text_col, n_char, threshold, max_shingle_df,
        unit="char",
    )
    return pairs_w.withColumn("unit", F.lit("word")).unionByName(
        pairs_c.withColumn("unit", F.lit("char"))
    )


def minhash_lsh_pairs_auto_unit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_word: int = 3,
    n_char: int = 5,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    cutoff: float = _AVG_TOKEN_LEN_CUTOFF,
    max_text_len: int | None = _CHAR_ARRAY_MAX_TEXT_LEN,
    materialize: bool = False,
) -> DataFrame:
    """Banded MinHash over a MIXED-SCRIPT corpus with per-document
    unit dispatch — the SCALE form of ``ngram_jaccard_pairs_auto_unit``
    and the production answer to the r12 probe find: running char
    5-gram MinHash on SPACE-DELIMITED text is pathological, because a
    5-char gram spans less than one word, the background char-Jaccard
    of unrelated prose is ~0.4, and at b=32/r=2 banding a background
    pair collides with probability ~1-(1-j²)^32 — measured 8.6M
    candidates among 5k sf0.1 documents (69% of ALL pairs, an
    all-pairs scan in disguise; the 10x probe ran >55 min before its
    timeout). Dispatching word-regime documents to word shingles —
    where background Jaccard is near 0 — removes the floor at the
    routing layer; char banding stays for the unsegmented regime it
    was built for, where a 5-gram carries ~3 words of information
    and unrelated documents share almost none (the planted CJK
    fixture's cross-doc candidate rate is ~0). For corpora that are
    genuinely unsegmented AND template-heavy, raise ``n_char``
    (measured on the probe corpus: candidates 8.6M @ n=5 -> 456k
    @ n=9 -> 15k @ n=13 with an IDENTICAL 256-pair true output);
    ``estimate_band_candidate_rate`` is the cheap pre-flight that
    tells you.

    Determinism (ADVICE r12): the dispatch evaluates ``df`` once per
    regime — see ``split_by_script``'s contract; a non-deterministic
    lineage fails closed there, and ``materialize=True`` pins one
    evaluation."""
    word_df, char_df = split_by_script(
        df, id_col, text_col, cutoff, materialize=materialize
    )
    pw = minhash_lsh_pairs(
        word_df, id_col, text_col, n_word, num_hashes, rows_per_band,
        threshold, unit="word",
    )
    pc = minhash_lsh_pairs(
        char_df, id_col, text_col, n_char, num_hashes, rows_per_band,
        threshold, unit="char", max_text_len=max_text_len,
    )
    return pw.withColumn("unit", F.lit("word")).unionByName(
        pc.withColumn("unit", F.lit("char"))
    )


def fuzzy_decontaminate_auto_unit(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n_word: int = 3,
    n_char: int = 5,
    threshold: float = 0.5,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    max_broadcast_rows: int = 2_000_000,
    cutoff: float = _AVG_TOKEN_LEN_CUTOFF,
    materialize: bool = False,
) -> DataFrame:
    """Mixed-script train/benchmark DECONTAMINATION with per-document
    unit dispatch (r12): a multilingual benchmark's unsegmented items
    are invisible to word-mode fuzzy decontamination (zero word
    shingles on both sides), and running char shingles over the whole
    space-delimited training corpus is the quadratic candidate floor
    the r12 probe measured — so BOTH sides split by the script
    heuristic, word-regime train docs screen against word-regime
    benchmark items and char against char, union tagged by unit.
    Determinism (ADVICE r12): BOTH inputs are evaluated once per
    regime — see ``split_by_script``'s contract; a non-deterministic
    lineage on either side fails closed there, and
    ``materialize=True`` pins one evaluation of each.
    Cross-regime leakage (an unsegmented benchmark item paraphrased
    into space-delimited training text) has no shared shingle
    universe in either unit and is out of scope for shingle methods —
    ``decontaminate_semantic`` (embedding rung of the ladder) is the
    operator that covers it."""
    tw, tc = split_by_script(
        train, id_col, text_col, cutoff, materialize=materialize
    )
    bw, bc = split_by_script(
        bench, bench_id_col, bench_text_col, cutoff,
        materialize=materialize,
    )
    hw = fuzzy_decontaminate(
        tw, bw, id_col, text_col, bench_id_col, bench_text_col,
        n_word, threshold, num_hashes, rows_per_band,
        max_broadcast_rows, unit="word",
    )
    hc = fuzzy_decontaminate(
        tc, bc, id_col, text_col, bench_id_col, bench_text_col,
        n_char, threshold, num_hashes, rows_per_band,
        max_broadcast_rows, unit="char",
    )
    return hw.withColumn("unit", F.lit("word")).unionByName(
        hc.withColumn("unit", F.lit("char"))
    )


def estimate_band_candidate_rate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    unit: str = "word",
    sample_docs: int = 256,
    seed: str = "candrate0",
) -> float:
    """Cheap pre-flight for the banded MinHash scale path: the
    estimated fraction of document pairs that the (n, unit, banding)
    parameterization would emit as CANDIDATES, measured on a
    deterministic hash-sample of ``sample_docs`` documents. LSH only
    beats all-pairs when the background similarity of UNRELATED
    documents sits far below the threshold; this returns the number
    that says whether it does (r12 probe find: char 5-grams on
    space-delimited prose -> 0.69, i.e. banding prunes nothing and
    the "sub-quadratic" join is an all-pairs scan in disguise; word
    3-grams on the same corpus -> ~0.0002). Rule of thumb: > ~0.05
    means raise ``n``, switch unit, or dispatch by script
    (``minhash_lsh_pairs_auto_unit``) before running at corpus
    scale. Cost: one sampled signature build + an all-pairs count
    over sample_docs² band rows — bounded by the sample, never the
    corpus. This is a DIAGNOSTIC (it runs an action); keep it out of
    transform-only pipelines (the plans-only-build invariant)."""
    _shingle_unit(unit, "estimate_band_candidate_rate")
    base = df.filter(F.col(text_col).isNotNull())
    # deterministic md5 top-k sample (the stratified-sample discipline:
    # layout-independent, engine-portable)
    key = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    ).alias("_k")
    sample = (
        base.select(F.col(id_col), F.col(text_col), key)
        .orderBy("_k")
        .limit(sample_docs)
        .drop("_k")
    )
    sets = shingle_arrays(
        sample, id_col, text_col, n, unit=unit, max_text_len=None
    ).localCheckpoint(eager=True)
    n_docs = sets.count()
    if n_docs < 2:
        return 0.0
    bands = _minhash_band_rows(sets, num_hashes, rows_per_band)
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select("x.id", "y.id")
        .distinct()
        .count()
    )
    return cand / (n_docs * (n_docs - 1) / 2)


# ------------------------------------------------------- MinHash + LSH

def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    unit: str = "word",
    max_text_len: int | None = _CHAR_ARRAY_MAX_TEXT_LEN,
) -> DataFrame:
    """Distinct n-gram shingles per document as ONE array column:
    (id, shingles: array<string>). Unlike ``word_shingles`` (the
    exploded inverted-index form), this keeps the set per row — zero
    shuffles to build, and set ops (size, intersect) become array
    expressions. Documents are bounded, so per-row arrays stay small
    even at 100 TB corpus scale. ``unit="char"`` shingles by
    character n-gram (the unsegmented-script mode — see
    ``word_shingles``); the MinHash/LSH pipeline downstream is
    unit-agnostic.

    The "documents are bounded" assumption is a GUARDED CONTRACT for
    char mode (r12 — VERDICT r11 task 5): the per-row char-shingle
    array is O(len) strings in ONE row, so a document longer than
    ``max_text_len`` code points (default 100k) raises lazily at
    first execution (the retrieval_metrics convention — the check
    rides the row, no extra action) instead of silently building a
    multi-MB single-row array. ``None`` = unbounded (caller accepts
    the memory shape); long-document corpora should use the exploded
    CHUNKED form instead. Word mode is not bounded here: the split
    array is already materialized one word per element and the
    shingle array is the same order of size."""
    _shingle_unit(unit, "shingle_arrays")
    if unit == "char":
        guarded = _with_chars(df, id_col, text_col).select(
            F.col("id"),
            _guarded_char_text(max_text_len, "shingle_arrays").alias("_text"),
        )
        return guarded.select(
            F.col("id"),
            F.array_distinct(_char_shingle_expr(n)).alias("shingles"),
        )
    return _with_words(df, id_col, text_col).select(
        F.col("id"), F.array_distinct(_shingle_expr(n)).alias("shingles")
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 126
) -> DataFrame:
    """MinHash signature per id from a (id, shingle) frame (exploded
    form). Hash family: one xxhash64 of the shingle STRING, then
    seeded xxhash64 mixes of that fixed-width value. The
    groupBy(min, ...) is partial-aggregatable: each upstream partition
    reduces to one candidate row per id before the shuffle.
    """
    # SQL-string expressions (one F.expr per aggregate) — the composed
    # Column form costs ~4 Py4J round-trips each (~1 s of driver time
    # per plan build at num_hashes=64); the string form parses
    # JVM-side into the identical tree. Seeds are INT literals in both
    # forms, so xxhash64 output is bit-identical.
    mins = [
        F.expr(f"min(xxhash64({i}, _h)) AS h{i}") for i in range(num_hashes)
    ]
    sig = (
        shingles.withColumn("_h", F.xxhash64(F.col("shingle")))
        .groupBy("id")
        .agg(*mins)
    )
    arr = "array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ") AS sig"
    return sig.select("id", F.expr(arr))


# Char-banding pre-flight defaults (r13 — VERDICT r12 task 4): below
# MIN_DOCS the quadratic floor cannot hurt (the whole corpus is one
# small join — gate fixtures and the sf0.1 bench corpus sit under it
# by design, so gated plans and bench rows are unchanged); past it, a
# sampled candidate rate above MAX_RATE means banding prunes (almost)
# nothing and the "sub-quadratic" join is an all-pairs scan in
# disguise — the r12 probe's 69%-of-all-pairs finding, silent until
# corpus scale.
_PREFLIGHT_MIN_DOCS = 10_000
_PREFLIGHT_MAX_RATE = 0.05
_PREFLIGHT_SAMPLE_DOCS = 256


def _char_banding_preflight(
    caller: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    rows_per_band: int,
    unit: str,
    preflight: str | None,
    preflight_min_docs: int,
    preflight_max_rate: float,
    consequence: str,
    router: str,
) -> None:
    """Shared mode-validation + guard for the char-banding pre-flight
    (r13 self-review: the ``minhash_lsh_pairs`` and
    ``fuzzy_decontaminate`` copies were drifting duplicates). For
    ``unit='char'`` with ``preflight='auto'``, a corpus past
    ``preflight_min_docs`` gets a bounded sampled
    ``estimate_band_candidate_rate`` check and the build fails closed
    past ``preflight_max_rate``, naming the measured rate, the
    caller-specific ``consequence`` at corpus scale, the n-lever
    census, and the caller's script-dispatch ``router``. The size
    probe (``limit(min_docs).count()``) is the only build-time action
    — never corpus-scale."""
    if preflight not in ("auto", None):
        raise ValueError(
            f"{caller}: preflight must be 'auto' or None, "
            f"got {preflight!r}"
        )
    if unit != "char" or preflight != "auto":
        return
    base = df.filter(F.col(text_col).isNotNull())
    if base.limit(preflight_min_docs).count() < preflight_min_docs:
        return
    rate = estimate_band_candidate_rate(
        df, id_col, text_col, n, num_hashes, rows_per_band,
        unit="char", sample_docs=_PREFLIGHT_SAMPLE_DOCS,
    )
    if rate > preflight_max_rate:
        raise ValueError(
            f"{caller}: char {n}-gram banding on this corpus has a "
            f"sampled candidate rate of {rate:.3f} "
            f"(> {preflight_max_rate}) — {consequence} Levers: raise "
            "n (measured census: 8.6M candidates @ n=5 -> 15k @ "
            f"n=13, identical true output), dispatch mixed corpora "
            f"by script ({router}), or pass preflight=None to accept "
            "the cost deliberately."
        )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    unit: str = "word",
    max_text_len: int | None = _CHAR_ARRAY_MAX_TEXT_LEN,
    preflight: str | None = "auto",
    preflight_min_docs: int = _PREFLIGHT_MIN_DOCS,
    preflight_max_rate: float = _PREFLIGHT_MAX_RATE,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.
    ``unit="char"`` shingles by character n-gram (the
    unsegmented-script mode — see ``word_shingles``); signatures,
    banding, and exact verification are unit-agnostic downstream, so
    this IS the 100 TB scale path for CJK/Thai near-dup detection.

    Banding: b = num_hashes / rows_per_band bands; a pair collides if
    any band signature matches. Defaults (b=32, r=2) give ~99.99%
    recall at jaccard 0.5; r=2's looser per-band specificity is free
    here because unrelated documents share almost no shingles (a
    band match needs BOTH minhashes equal — probability ~jaccard²),
    while halving the signature-aggregation work vs r=3/k=126. Candidates are found by an equi-join on
    (band_index, band_hash) — shuffle volume is O(docs × bands), never
    O(docs²). Verification joins candidate pairs back to the per-doc
    shingle ARRAYS and computes exact Jaccard via array_intersect — so
    there are zero shuffles before the band join (shingle sets and
    signatures are per-row array expressions) and no false positives
    in the output.

    CHAR-BANDING PRE-FLIGHT (r13 — VERDICT r12 task 4): for
    ``unit="char"`` with ``preflight="auto"`` (the default), corpora
    past ``preflight_min_docs`` documents get a sampled
    ``estimate_band_candidate_rate`` check BEFORE any corpus-scale
    work, and the build fails closed past ``preflight_max_rate`` —
    the ``max_broadcast_rows`` convention. The r12 probe measured why:
    on a genuinely unsegmented but TEMPLATE-HEAVY corpus (the case
    per-document script routing cannot help) char banding's
    background collision rate can make the candidate join an
    all-pairs scan — 8.6M candidates among 5k prose docs at n=5,
    invisible at gate scale, >55 min at 10x. The raise names the
    measured rate and the levers (raise ``n`` — census on the probe
    corpus: 8.6M @ n=5 -> 456k @ n=9 -> 15k @ n=13 with an IDENTICAL
    true-pair output — or route by script via
    ``minhash_lsh_pairs_auto_unit``); ``preflight=None`` opts out
    deliberately. The probe costs one ``limit(min_docs).count()``
    plus a 256-doc sampled signature build — bounded, never
    corpus-scale; corpora under ``preflight_min_docs`` never run the
    estimator (a sub-10k-doc char join is small regardless of rate).
    Gated oracle plans are unchanged — the only addition is the
    bounded ``limit(min_docs).count()`` size probe at build time, the
    ``knn_hard_negatives`` convention.
    """
    _char_banding_preflight(
        "minhash_lsh_pairs", df, id_col, text_col, n, num_hashes,
        rows_per_band, unit, preflight, preflight_min_docs,
        preflight_max_rate,
        consequence=(
            "banding prunes almost nothing and the join would "
            "degenerate toward an all-pairs scan at corpus scale "
            "(the r12 probe measured 69% of all pairs on 5k docs, "
            ">55 min at 10x)."
        ),
        router="minhash_lsh_pairs_auto_unit",
    )
    # NB: no size(shingles)>0 filter here — Catalyst would push it
    # below the repartition WITH the whole shingle expression inlined,
    # collapsing the parallel stage back into the single-split scan.
    # Shingle-less docs are harmless: they have no sig rows, so they
    # can never appear as candidates.
    # one shingling pass, materialized: signatures explode these same
    # arrays and verification joins back to them — without the
    # checkpoint the text would be split+shingled twice (once per use)
    sets = shingle_arrays(
        df, id_col, text_col, n, unit=unit, max_text_len=max_text_len
    ).localCheckpoint(eager=False)

    # signature + band construction is the SHARED _minhash_band_rows
    # (also the two-table decontamination form); see its notes on the
    # codegen'd groupBy(min...) signatures, the checkpointed signature
    # table, and the one-SQL-string band economics
    bands = _minhash_band_rows(sets, num_hashes, rows_per_band)
    x = bands.alias("x")
    y = bands.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    # exact verification: join the (few) candidates to the shingle sets
    sa = sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("set_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jac = n_inter / (F.size("set_a") + F.size("set_b") - n_inter)
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_distinct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """``minhash_lsh_pairs`` with EXACT-DEDUP-FIRST factoring — the
    production composition for duplicate-heavy corpora (crawl
    snapshots are mostly exact copies): signatures, banding and
    verification run once per DISTINCT text; pairs then expand back
    to members. The output pair set is PROVABLY identical to the
    direct operator's:

    * exact duplicates share signatures, so the direct banding
      catches every within-clique pair with probability 1 — here they
      are emitted directly (jaccard 1.0) for cliques whose shingle
      set is non-empty (shingle-less texts produce no signature rows
      in the direct form either);
    * a cross-clique candidate collides in the direct form iff its
      representatives collide here (identical signatures per member),
      and verification scores the same two texts.

    Cost: banding/verification work drops from O(total docs) to
    O(distinct texts) — measured 212s -> 27.5s on the 100x
    replica-clique probe (500k docs, 5k distinct) — plus one
    groupBy(text) and two expansion joins on the (rep, id) map."""
    members = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    reps = members.groupBy("t").agg(F.min("id").alias("rep"))
    rep_df = reps.select(F.col("rep").alias("id"), F.col("t"))
    m = (
        members.join(reps, "t")
        .select("rep", "id")
        .localCheckpoint(eager=False)
    )

    rep_pairs = minhash_lsh_pairs(
        rep_df, "id", "t", n, num_hashes, rows_per_band, threshold
    )
    ma = m.select(F.col("rep").alias("id_a"), F.col("id").alias("a"))
    mb = m.select(F.col("rep").alias("id_b"), F.col("id").alias("b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("a", "b").alias("id_a"),
            F.greatest("a", "b").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    shingled = (
        # NOT filter(size(shingles) > 0): that predicate pushes down
        # to the scan with the WHOLE shingle expression inlined (t is
        # a grouping key, so nothing stops it) and every document
        # shingles once in the single-split scan filter — the trap
        # _minhash band NB documents, measured 6.6 s vs 2.9 s at
        # sf0.1. shingles is non-empty IFF the text has >= n words
        # (the _shingle_expr CASE guard), so the cheap equivalent
        # predicate keeps the scan stage split+size only.
        rep_df.filter(
            F.size(F.split(F.col("t"), " ", -1)) >= n
        ).select(F.col("id").alias("rep"))
    )
    mm = m.join(shingled, "rep")
    w1 = mm.select("rep", F.col("id").alias("a"))
    w2 = mm.select(F.col("rep").alias("rep2"), F.col("id").alias("b"))
    within = (
        w1.join(
            w2,
            (F.col("rep") == F.col("rep2")) & (F.col("a") < F.col("b")),
        )
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def _minhash_band_rows(
    sets: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bkey) banding rows from (id, shingles) sets — the
    shared band scheme of the MinHash family, factored so the
    self-join (minhash_lsh_pairs) and two-table (fuzzy_decontaminate)
    forms cannot diverge.

    Signatures go through the exploded + groupBy(min...) form: hash
    aggregation is whole-stage-codegen'd, ~5x over interpreted
    per-row array lambdas. The signature table (tiny: docs x
    num_hashes longs) is localCheckpointed once — a downstream band
    join would otherwise recompute the whole shingle+hash pipeline
    per side. Bands are built as ONE SQL string (the Py4J
    round-trip economics of minhash_signatures; sig[i] is 0-based
    GetArrayItem and band seeds stay INT literals, so band keys are
    bit-identical across call sites)."""
    num_bands = num_hashes // rows_per_band
    exploded = sets.select(F.col("id"), F.explode("shingles").alias("shingle"))
    sig = minhash_signatures(exploded, num_hashes).localCheckpoint(eager=False)
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"struct({j} AS band, xxhash64({j}, "
            + ", ".join(
                f"sig[{j * rows_per_band + r}]" for r in range(rows_per_band)
            )
            + ") AS bkey)"
            for j in range(num_bands)
        )
        + ")"
    )
    return sig.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def fuzzy_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    max_broadcast_rows: int = 2_000_000,
    unit: str = "word",
    max_text_len: int | None = _CHAR_ARRAY_MAX_TEXT_LEN,
    preflight: str | None = "auto",
    preflight_min_docs: int = _PREFLIGHT_MIN_DOCS,
    preflight_max_rate: float = _PREFLIGHT_MAX_RATE,
) -> DataFrame:
    """NEAR-DUPLICATE decontamination — the fuzzy form of
    ``bloom_decontaminate`` (which catches only exact n-gram overlap):
    flag training documents whose shingle Jaccard with ANY benchmark
    document reaches ``threshold``, the train/eval leakage check the
    big-model reports run (paraphrased or lightly-edited benchmark
    items slip past exact matching).

    Two-table shape of the MinHash machinery: both sides band through
    the SHARED scheme (``_minhash_band_rows``), candidates come from
    one equi-join on (band, bkey) with the benchmark side BROADCAST
    (eval sets are tiny next to a pretraining corpus — the join never
    shuffles the corpus), and every candidate is verified by exact
    Jaccard over the shingle arrays, so there are NO false positives;
    banding recall at b=32/r=2 is ~99.99% at j=0.5 (the dedup_minhash
    argument, verified equal to the exact pair set on the harness
    corpus). Returns (id_col, bench_id, jaccard).

    The eval-sets-are-tiny assumption is now GUARDED, not assumed
    (the ``max_broadcast_rows`` convention of
    ``embedding_dup_pairs_numpy``): the bench side is counted once
    (cheap — it is checkpointed anyway for its two consumers), and
    past the bound the ``F.broadcast`` hints are dropped so both
    joins fall back to shuffle hash/sort-merge on the SAME plan
    shape, instead of silently building an executor-OOM broadcast
    from a 10M-row "benchmark". Results are identical either way
    (hint-only change; fallback-equality tested).

    ``unit="char"`` shingles both sides by character n-gram (see
    ``word_shingles``) — a multilingual benchmark's unsegmented-script
    items produce ZERO word shingles and would sail through word-mode
    decontamination undetected.

    CHAR-BANDING PRE-FLIGHT (r13 — the ``minhash_lsh_pairs`` guard
    extended to the two-table form): the candidate join's volume is
    ``rate x |train| x |bench|``, so a template-heavy unsegmented
    TRAIN corpus (background char-gram collision rate near 1) makes
    the "bounded" broadcast join emit nearly the full cross product.
    With ``preflight="auto"`` a train corpus past
    ``preflight_min_docs`` samples its own banding candidate rate —
    within-train background collision is the same gram-collision
    probability the cross join pays — and fails closed past
    ``preflight_max_rate``, naming the n-lever; ``preflight=None``
    opts out. Gate fixtures sit under the size floor, so the
    estimator never runs there; the bounded size probe itself
    (``limit(min_docs).count()``) is the only build-time action
    added — the ``knn_hard_negatives`` convention."""
    _shingle_unit(unit, "fuzzy_decontaminate")
    _char_banding_preflight(
        "fuzzy_decontaminate", train, id_col, text_col, n, num_hashes,
        rows_per_band, unit, preflight, preflight_min_docs,
        preflight_max_rate,
        consequence=(
            "the train x bench candidate join would emit ~rate x "
            "|train| x |bench| rows, an all-pairs screen in disguise "
            "at corpus scale."
        ),
        router="fuzzy_decontaminate_auto_unit",
    )
    tsets = shingle_arrays(
        train, id_col, text_col, n, unit=unit, max_text_len=max_text_len
    ).localCheckpoint(eager=False)
    bsets = shingle_arrays(
        bench, bench_id_col, bench_text_col, n, unit=unit,
        max_text_len=max_text_len,
    ).localCheckpoint(eager=True)
    small = bsets.count() <= max_broadcast_rows
    maybe_bcast = F.broadcast if small else (lambda d: d)
    tb = _minhash_band_rows(tsets, num_hashes, rows_per_band)
    bb = _minhash_band_rows(bsets, num_hashes, rows_per_band).select(
        F.col("id").alias("bench_id"), "band", "bkey"
    )
    cand = (
        tb.join(maybe_bcast(bb), ["band", "bkey"])
        .select("id", "bench_id")
        .distinct()
    )
    ta_ = tsets.select(F.col("id"), F.col("shingles").alias("set_a"))
    tb_ = bsets.select(
        F.col("id").alias("bench_id"), F.col("shingles").alias("set_b")
    )
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jac = n_inter / (F.size("set_a") + F.size("set_b") - n_inter)
    return (
        cand.join(ta_, "id")
        .join(maybe_bcast(tb_), "bench_id")
        .select(
            F.col("id").alias(id_col),
            "bench_id",
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(jac >= threshold)
        .select(id_col, "bench_id", "jaccard")
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    threshold: float | None = 0.9,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """SEMANTIC decontamination — the third rung of the family: exact
    n-gram (``bloom_decontaminate``) catches verbatim overlap, fuzzy
    MinHash (``fuzzy_decontaminate``) catches edited/paraphrase-lite
    overlap, and this catches REWRITES that share no surface n-grams
    but embed next to a benchmark item (the embedding-similarity
    decontamination check the big-model reports run alongside the
    n-gram one).

    For every training vector: the maximum 4dp-rounded cosine against
    the WHOLE benchmark set, with the witnessing bench id (ties ->
    smallest bench id). ``threshold`` keeps rows at or above it;
    ``None`` reports every train row's best match (the audit form the
    gate entry uses — thresholding is then a trivial filter the
    caller owns).

    Scale shape: the benchmark embeds as one driver matrix shipped in
    the task closure — eval sets are small by nature, and the
    assumption is GUARDED by the ``embedding_dup_pairs_numpy``
    convention (fail-closed raise past ``max_broadcast_rows``, stated
    bound instead of a silent executor OOM). The corpus side is ONE
    Arrow mapInPandas scan, GEMM per batch, no shuffle at all before
    the (already per-row) result — the cheapest possible shape: at
    100 TB this is a map-only pass. Zero-norm rows on either side
    have undefined cosine and are excluded (NaN never wins the
    argmax; an all-NaN train row emits nothing), matching the
    build-path zero-vector rule. GEMM ulps vs a sequential dot are
    absorbed by the 4dp round (the ``knn_bruteforce_numpy`` parity
    class); ROW_NUMBER over (cos4 DESC, bench_id ASC) replays it in
    SQL exactly. Returns (id_col, bench_id, cosine)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.operators.similarity import _round_away
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    bench_narrow = maybe_parallelize(
        bench_emb.select(bench_id_col, bench_vec_col)
    ).localCheckpoint(eager=True)
    n_bench = bench_narrow.count()
    if n_bench > max_broadcast_rows:
        raise ValueError(
            f"semantic_decontaminate: benchmark has {n_bench} rows > "
            f"max_broadcast_rows={max_broadcast_rows}; the closure-matrix "
            "contract is bounded. Split the benchmark or raise the bound "
            "deliberately."
        )
    b_rows = bench_narrow.collect()
    # sort by bench id so a stable argmax resolves exact 4dp ties to
    # the smallest bench id (the knn_bruteforce_numpy pre-sort proof)
    b_rows.sort(key=lambda r: r[0])
    b_ids = np.array([r[0] for r in b_rows], dtype=np.int64)
    b_mat = np.array([r[1] for r in b_rows], dtype=np.float64)
    b_norm = np.linalg.norm(b_mat, axis=1)
    b_norm[b_norm == 0] = np.nan

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("bench_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = np.nan
            sims = (mat @ b_mat.T) / norms[:, None] / b_norm[None, :]
            sims = _round_away(sims, 4)
            # NaN columns/rows never win: nan -> -inf, all--inf rows drop
            sims = np.where(np.isnan(sims), -np.inf, sims)
            best = np.argmax(sims, axis=1)  # first max = smallest bench id
            cos = sims[np.arange(len(ids)), best]
            keep = np.isfinite(cos)
            yield pd.DataFrame(
                {
                    id_col: ids[keep],
                    "bench_id": b_ids[best[keep]],
                    "cosine": cos[keep],
                }
            )

    out = (
        maybe_parallelize(train_emb.select(id_col, vec_col))
        .mapInPandas(_score, out_schema)
    )
    if threshold is not None:
        out = out.filter(F.col("cosine") >= threshold)
    return out


def minhash_lsh_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    dup_ratio_cutover: float = 0.8,
    probe_mod: int = 16,
) -> DataFrame:
    """One MinHash entry point that PICKS its factoring from the data:
    a cheap sampled duplication-ratio probe dispatches to
    ``minhash_lsh_pairs_distinct`` (exact-dedup-first — 7.7x on the
    100x replica-clique probe) for duplicate-heavy corpora, or the
    direct ``minhash_lsh_pairs`` for mostly-distinct ones, where the
    distinct form's groupBy(text) + expansion joins are pure overhead.
    Both branches produce the identical pair set (the distinct form's
    docstring proof), so the dispatch can never change results — only
    cost.

    The probe samples BY TEXT HASH (``xxhash64(text) % probe_mod ==
    0``), not by row: all copies of a sampled text enter together, so
    ``1 - distinct/count`` over the slice is an unbiased estimate of
    the corpus duplication ratio at ~1/probe_mod of the scan — one
    aggregation job (count + approx_count_distinct, partial-agg'd
    map-side) and an 8-byte driver result; no signatures are computed
    twice. ``dup_ratio_cutover`` defaults to the measured crossover
    (SCALE.md r7, 20k-500k-row sweeps): the distinct form's
    groupBy(full text) + expansion joins beat its banding savings
    only past dup ratio ~0.8 — direct wins 2.6x at dup 0.5 even at
    500k rows; distinct wins 1.9x at dup 0.9 / 500k and 7.7x at the
    r6 dup-0.99 probe — and the crossover sits at ~0.8 at every
    probed scale because both the overhead and the savings grow with
    the same corpus-size terms."""
    probe = df.filter(
        F.pmod(F.xxhash64(F.col(text_col)), F.lit(probe_mod)) == 0
    )
    row = probe.agg(
        F.count(F.col(text_col)).alias("n"),
        F.approx_count_distinct(F.col(text_col)).alias("d"),
    ).collect()[0]
    dup_ratio = 0.0 if not row["n"] else 1.0 - row["d"] / row["n"]
    form = (
        minhash_lsh_pairs_distinct
        if dup_ratio >= dup_ratio_cutover
        else minhash_lsh_pairs
    )
    return form(df, id_col, text_col, n, num_hashes, rows_per_band, threshold)


# ------------------------------------------------------------- SimHash

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document, entirely in JVM expressions.

    Per word: h = xxhash64(word). Per bit b: sum(+1 if bit set else -1)
    over words; simhash bit b = 1 iff the sum > 0. The 64 per-bit sums
    are one partial-aggregatable groupBy (map-side combine), then the
    bits are folded into one BIGINT. No Python in the loop.

    The 64 aggregates and the 64-term fold are built as SQL strings
    (one ``F.expr`` per aggregate, ONE for the fold), not as composed
    Column objects: the Column form costs ~6 Py4J round-trips per
    expression (~2.3 s of driver time per plan build, measured at
    sf0.01 — more than the query's own execution); the string form
    parses JVM-side and builds the identical tree in ~0.25 s.
    """
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(df.select(F.col(id_col), F.col(text_col)))
    words = (
        narrow.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ", -1)).alias("word"),
        )
        .filter(F.length("word") > 0)
        .select("id", F.xxhash64("word").alias("h"))
    )
    aggs = [
        F.expr(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(64)
    ]
    sums = words.groupBy("id").agg(*aggs)
    fold = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b if b < 63 else -(2**63)}L ELSE 0L END)"
        for b in range(64)
    )
    return sums.select("id", F.expr(fold).alias("simhash"))


def simhash_numpy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``simhash`` with the per-bit majority computed by a GROUPED_AGG
    pandas UDF over JVM-hashed words — bit-identical output (equality-
    tested) but NOT the default: measured 2x SLOWER than the JVM form
    in the full pairs pipeline (3.6s vs 1.8s at sf0.1). The corpus has
    ~5000 groups of only ~300 words, and GROUPED_AGG pays per-group
    Arrow/invocation overhead (~0.5 ms/group) that swamps the
    vectorization win at this group size. (A first measurement said
    3x FASTER — that run timed ``.count()``, and Catalyst prunes
    unused aggregate expressions, so the UDF never executed. Moral:
    time aggregates through a consumer of their outputs.) Kept as the
    documented alternative: it wins when groups are large (>=10k rows
    each) so per-group overhead amortizes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(df.select(F.col(id_col), F.col(text_col)))
    words = narrow.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ", -1)).alias("word"),
    ).filter(F.length("word") > 0)
    hashed = words.select("id", F.xxhash64("word").alias("h"))

    # explicit functionType: stringized annotations hide the hint
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def _sim(h):
        a = h.to_numpy().astype(np.uint64)
        bits = ((a[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(
            axis=0
        )
        out = np.uint64(0)
        n = len(a)
        for b in range(64):
            if bits[b] * 2 > n:
                out |= np.uint64(1) << np.uint64(b)
        return int(out.astype(np.int64))

    return hashed.groupBy("id").agg(_sim("h").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    num_bands: int = 4,
    use_numpy: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit hash into num_bands blocks; a
    pair within hamming d < num_bands must agree on >= 1 block, so an
    equi-join on (block_idx, block_value) finds all candidates without
    an all-pairs product. Verification = bit_count(xor) on candidates.
    Since r11 an INCOMPLETE banding (num_bands <= max_hamming) fails
    closed instead of silently scanning approximately — pass
    num_bands="auto" for the minimal-complete d+1 bands.
    """
    # localCheckpoint materializes the tiny (docs × 1 long) hash table
    # once; without it the self-join can recompute the full
    # explode+64-bit-sum pipeline for both sides when broadcast breaks
    # exchange reuse (same fix as minhash_lsh_pairs above)
    num_bands = _resolve_bands(num_bands, max_hamming, "simhash_pairs")
    sim_fn = simhash_numpy if use_numpy else simhash
    sh = sim_fn(df, id_col, text_col).localCheckpoint(eager=False)
    return _banded_hamming_pairs(sh, 64, num_bands, max_hamming)


def _resolve_bands(
    num_bands: int | str,
    max_hamming: int,
    op_name: str,
    n_bits: int = 64,
) -> int:
    """Resolve the pigeonhole band count. ``"auto"`` (the media-op
    default since r11) = ``max_hamming + 1`` — the FEWEST bands that
    keep the pigeonhole guarantee (d differing bits over d+1 blocks
    leave >= 1 block clean), hence the WIDEST blocks and the highest
    per-band selectivity. The r11 10x replication probe measured why
    this matters: at 50k signatures the old 16-band/4-bit scheme put
    a random pair in >= 1 common bucket with probability
    1-(15/16)^16 ~ 64% — a near-quadratic candidate floor — while
    7 bands x 9-bit blocks cut the same join 54.7 s -> 3.9 s (14x)
    with an IDENTICAL pair set (any complete banding yields the same
    verified output; equality is pinned in tests). An explicit int
    must itself be complete: num_bands <= max_hamming would silently
    MISS true pairs, so it fails closed."""
    if num_bands == "auto":
        num_bands = max_hamming + 1
    elif isinstance(num_bands, int):
        if num_bands <= max_hamming:
            raise ValueError(
                f"{op_name}: num_bands={num_bands} is incomplete for "
                f"max_hamming={max_hamming} — the pigeonhole guarantee "
                f"needs num_bands > max_hamming (d diffs over d+1 "
                "blocks); pairs would be silently missed."
            )
    else:
        raise ValueError(
            f"{op_name}: num_bands must be an int or 'auto', "
            f"got {num_bands!r}"
        )
    # feasibility (ADVICE r11): num_bands > n_bits makes bits_per == 0
    # in _banded — under `python -O` the assert there is stripped, the
    # mask becomes 0, every row shares one bucket per band, and the
    # join silently degenerates to a full cross product. Fail closed
    # here with the operator named.
    if num_bands > n_bits:
        raise ValueError(
            f"{op_name}: num_bands={num_bands} exceeds the signature "
            f"width n_bits={n_bits} — blocks would be under one bit "
            "wide and the banded join would degenerate to a cross "
            "product. Hamming radii >= n_bits admit every pair; use a "
            "direct verification scan instead of banding."
        )
    return num_bands


def _banded(sh: DataFrame, n_bits: int, num_bands: int) -> DataFrame:
    """Explode an (id, simhash) table into (id, simhash, blk, bval)
    band rows — THE single copy of the block scheme. Both the
    self-join pair scan and the two-table incremental match build on
    it; a banding change in one place cannot silently break the
    pigeonhole-completeness guarantee of the other."""
    bits_per = n_bits // num_bands
    # trailing n_bits % num_bands bits are UNCOVERED by any block:
    # harmless for completeness (diffs there break no block, so the
    # pigeonhole count only improves) and for candidates (they can
    # only ADD matches, which verification filters)
    if bits_per < 1:  # not assert: `python -O` strips asserts and a
        # 0-bit mask degenerates the join to a cross product
        raise ValueError(
            f"_banded: num_bands={num_bands} > n_bits={n_bits}; "
            "callers must resolve bands via _resolve_bands"
        )
    mask = (1 << bits_per) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(j).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), j * bits_per)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for j in range(num_bands)
        ]
    )
    return sh.select("id", "simhash", F.explode(blocks).alias("b")).select(
        "id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bval").alias("bval")
    )


def _banded_hamming_pairs(
    sh: DataFrame, n_bits: int, num_bands: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole-banded hamming join over an (id, simhash) table —
    shared by the xxhash64 and md5 signature variants."""
    banded = _banded(sh, n_bits, num_bands)
    x = banded.alias("x")
    y = banded.alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 60
) -> DataFrame:
    """Engine-portable SimHash twin: per-word hash = first 60 bits of
    md5 (15 hex chars — non-negative in a signed long), same per-bit
    majority fold as ``simhash``. 60 bits instead of 64 so NO engine
    needs unsigned arithmetic, which makes the signature — and the
    banded pair join over it — exactly reproducible in ANSI SQL: this
    is the variant with a full DuckDB oracle, upgrading the simhash
    family from rows-only evidence. Same plan shape as ``simhash``
    (one codegen'd groupBy of n_bits partial sums, SQL-string
    expressions for the same Py4J-overhead reason)."""
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(df.select(F.col(id_col), F.col(text_col)))
    words = (
        narrow.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ", -1)).alias("word"),
        )
        .filter(F.length("word") > 0)
        .select(
            "id",
            F.conv(F.md5(F.col("word")).substr(1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    aggs = [
        F.expr(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(n_bits)
    ]
    sums = words.groupBy("id").agg(*aggs)
    fold = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b}L ELSE 0L END)" for b in range(n_bits)
    )
    return sums.select("id", F.expr(fold).alias("simhash"))


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    num_bands: int = 4,
) -> DataFrame:
    """``simhash_pairs`` over the md5-derived 60-bit signature — the
    oracle-checkable variant (pigeonhole guarantee identical: hamming
    <= num_bands-1 pairs agree on >= 1 of the 15-bit blocks)."""
    sh = simhash_md5(df, id_col, text_col).localCheckpoint(eager=False)
    return _banded_hamming_pairs(
        sh, 60,
        _resolve_bands(num_bands, max_hamming, "simhash_pairs_md5", 60),
        max_hamming,
    )


# -------------------------------------------- perceptual image dedup

def image_hash_pairs(
    images: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    method: str = "phash",
    max_hamming: int = 6,
    num_bands: int | str = "auto",
) -> DataFrame:
    """Perceptual IMAGE near-dup pairs — content dedup for the
    multimodal column (crawl corpora are full of re-encoded/
    brightness-shifted copies exact byte-dedup misses): decode each
    PNG payload, hash it with dHash or pHash
    (multimodal/phash.py), then find pairs within ``max_hamming``
    bits via the SAME pigeonhole-banded equi-join as SimHash text
    dedup — no all-pairs product, candidates only where >= 1 of the
    ``num_bands`` blocks agrees (guaranteed complete for hamming <=
    num_bands - 1).

    Scale shape: decode+hash is one Arrow-batched ``mapInPandas``
    pass (embarrassingly parallel, the codec is the per-core cost);
    the signature table is docs x 1 long, checkpointed so the
    self-join can't re-decode; the banded join shuffles 64-bit
    signatures, not images. A decode failure fails CLOSED (the codec
    raises its documented NotImplementedError) — corrupt payloads
    must be quarantined upstream, not silently skipped into a
    missed-duplicate.
    """
    num_bands = _resolve_bands(num_bands, max_hamming, "image_hash_pairs")
    sh = image_signatures(images, id_col, payload_col, method)
    return _banded_hamming_pairs(sh, 64, num_bands, max_hamming)


def image_signatures(
    images: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    method: str = "phash",
) -> DataFrame:
    """(id, simhash) perceptual signatures for PNG payloads — the
    decode+hash Arrow pass shared by the one-shot pair scan and the
    incremental ingest path. Lazily checkpointed: every consumer
    (self-join sides, snapshot anti-join) reads the materialized
    8-byte table instead of re-decoding."""
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    from lakehouse_to_rag_spark.multimodal.ops import decode_png
    from lakehouse_to_rag_spark.multimodal.phash import dhash64, phash63
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    if method not in ("phash", "dhash"):
        raise NotImplementedError(
            f"unknown image hash method {method!r}: phash | dhash"
        )
    hash_fn = phash63 if method == "phash" else dhash64
    schema = StructType(
        [StructField("id", LongType()), StructField("simhash", LongType())]
    )

    def _hash(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "simhash": [
                        hash_fn(decode_png(bytes(p)))
                        for p in pdf[payload_col]
                    ],
                }
            )

    return (
        maybe_parallelize(images.select(F.col(id_col), F.col(payload_col)))
        .mapInPandas(_hash, schema=schema)
        .localCheckpoint(eager=False)
    )


def audio_fingerprint_pairs(
    audio: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 8,
    num_bands: int | str = "auto",
    n_frames: int = 64,
) -> DataFrame:
    """Perceptual AUDIO near-dup pairs — the audio leg of multimodal
    content dedup (level-shifted / re-encoded copies byte dedup
    misses): decode each WAV payload, fingerprint its energy
    envelope (multimodal/phash.py::audio_envelope_fp63 — pure
    integer, 63 bits), and pair within ``max_hamming`` via the same
    pigeonhole-banded join as SimHash/pHash. Multi-channel audio
    fingerprints channel 0. Same scale shape as image_hash_pairs:
    one Arrow decode+hash pass, the join moves 8-byte signatures,
    never samples; decode failures fail closed."""
    num_bands = _resolve_bands(
        num_bands, max_hamming, "audio_fingerprint_pairs"
    )
    sh = audio_signatures(audio, id_col, payload_col, n_frames)
    return _banded_hamming_pairs(sh, 64, num_bands, max_hamming)


def audio_signatures(
    audio: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_frames: int = 64,
) -> DataFrame:
    """(id, simhash) energy-envelope signatures for WAV payloads —
    the audio twin of ``image_signatures`` (same checkpoint
    discipline, same downstream consumers)."""
    # fail closed on the knob's real range (ADVICE r6): the envelope
    # fingerprint sets bits 0..n_frames-2 of a SIGNED 64-bit column,
    # and the banded join's 16x4-bit pigeonhole covers exactly 64
    # bits — n_frames > 64 overflows int64 into an opaque Arrow
    # conversion error AND would void the completeness guarantee
    if not 2 <= n_frames <= 64:
        raise ValueError(
            f"audio_signatures: need 2 <= n_frames <= 64 (63 usable "
            f"bits in the signed int64 signature), got {n_frames}"
        )
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    from lakehouse_to_rag_spark.multimodal.ops import decode_wav
    from lakehouse_to_rag_spark.multimodal.phash import audio_envelope_fp63
    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    schema = StructType(
        [StructField("id", LongType()), StructField("simhash", LongType())]
    )

    def _hash(batches):
        for pdf in batches:
            sigs = []
            for p in pdf[payload_col]:
                _, s = decode_wav(bytes(p))
                sigs.append(audio_envelope_fp63(s[:, 0], n_frames))
            yield pd.DataFrame({"id": pdf[id_col], "simhash": sigs})

    return (
        maybe_parallelize(audio.select(F.col(id_col), F.col(payload_col)))
        .mapInPandas(_hash, schema=schema)
        .localCheckpoint(eager=False)
    )


def video_keyframe_pairs(
    media: DataFrame,
    every_n: int = 1,
    method: str = "phash",
    max_hamming: int = 6,
    num_bands: int | str = "auto",
    min_matching_frames: int = 2,
) -> DataFrame:
    """Perceptual VIDEO near-dup pairs by keyframe voting — the video
    leg of multimodal content dedup, built as the composition the
    engine's pieces were designed for: ``sample_frames`` demuxes
    every ``every_n``-th frame of each GIF/AVI/MP4 payload to
    lossless PNG, ``image_signatures`` hashes them, and the banded
    Hamming join matches keyframes ACROSS videos (frame indexes are
    free to differ, so trimmed/shifted and cross-container copies —
    the same clip muxed as AVI and as MP4 — still align). A pair of
    videos is a near-dup when >= ``min_matching_frames`` keyframe
    pairs match — clip-level voting, robust to a few re-encoded or
    replaced frames.

    Output: (media_a, media_b, n_matching_frames). No oracle entry:
    the keyframes are JPEG-decoded pixels, and a closed-form SQL
    replay of lossy DCT pixels exists only for flat frames (the
    documented limit of the mp4/avi stats oracles) — fidelity is
    pinned instead by the cross-container equality and planted
    perturbation tests in tests/test_multimodal.py."""
    from lakehouse_to_rag_spark.multimodal.ops import sample_frames

    frames = sample_frames(media, every_n=every_n)
    # key signatures by a composite id so the banded join machinery
    # (one long id column) carries (video, frame) through: ids are
    # media_id * 1e6 + frame_index (frame counts are bounded far
    # below 1e6 by the codecs' own scope checks). ALL arithmetic is
    # exact 64-bit integer — a 32-bit multiply would wrap at
    # media_id 2148 and a double-precision divide would misdecode
    # snowflake-scale ids past 2^53
    composite = (
        F.col("media_id").cast("long") * F.lit(1_000_000).cast("long")
        + F.col("frame_index").cast("long")
    )
    # fail-closed rather than comment-guarded (review finding): a
    # >= 1e6-frame clip or a media id past 2^63/1e6 would silently
    # collide/overflow composite ids — refuse the row instead. The
    # guard is the id expression itself, so it cannot be pruned and
    # costs no extra decode pass.
    keyed = frames.select(
        F.when(
            (F.col("frame_index") < 1_000_000)
            & (F.abs(F.col("media_id").cast("long")) <= 9_223_372_036_853),
            composite,
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "video_keyframe_pairs: frame_index >= 1e6 or "
                    "|media_id| > 9.2e12 would collide/overflow the "
                    "composite frame id; sample fewer frames or re-key"
                )
            )
        )
        .alias("doc_id"),
        F.col("frame_payload").alias("payload"),
    )
    sigs = image_signatures(keyed, "doc_id", "payload", method)
    pairs = _banded_hamming_pairs(
        sigs, 64,
        _resolve_bands(num_bands, max_hamming, "video_keyframe_pairs"),
        max_hamming,
    )
    # the vote counts DISTINCT matched frames on the WEAKER side, not
    # matched pairs: a static clip whose frames all share one
    # signature would otherwise inflate a single visual coincidence
    # quadratically (4x3 pairs from ONE distinct match) past the
    # threshold
    # decode with FLOOR semantics, not truncation: `div`/`%` truncate
    # toward zero, so a negative media id (admitted by the guard
    # above) would split one video's frames across two decoded ids —
    # e.g. media -1 frame 2 encodes to -999998, which `div 1e6`
    # decodes to media 0 — letting intra-video matches through the
    # media_a != media_b filter as fake cross-video pairs. pmod is
    # always in [0, 1e6), and (x - pmod(x)) is exactly divisible, so
    # the subtract-then-div form IS floor division in exact 64-bit
    # integers (no double-precision detour past 2^53).
    return (
        pairs.select(
            F.expr(
                "(id_a - pmod(id_a, 1000000)) div 1000000"
            ).alias("media_a"),
            F.expr(
                "(id_b - pmod(id_b, 1000000)) div 1000000"
            ).alias("media_b"),
            F.expr("pmod(id_a, 1000000)").alias("frame_a"),
            F.expr("pmod(id_b, 1000000)").alias("frame_b"),
        )
        .filter(F.col("media_a") != F.col("media_b"))
        .groupBy("media_a", "media_b")
        .agg(
            F.least(
                F.countDistinct("frame_a"), F.countDistinct("frame_b")
            ).alias("n_matching_frames")
        )
        .filter(F.col("n_matching_frames") >= min_matching_frames)
    )


def _banded_hamming_matches(
    probe: DataFrame,
    snapshot: DataFrame,
    n_bits: int,
    num_bands: int,
    max_hamming: int,
    snapshot_banded: bool = False,
) -> DataFrame:
    """Distinct probe ids having >= 1 snapshot signature within
    ``max_hamming`` — the TWO-TABLE form of the pigeonhole-banded
    join (probe x snapshot candidates on agreeing blocks, never a
    product). Both inputs are (id, simhash) tables; the band scheme
    is the shared ``_banded`` helper, so the two-table and self-join
    forms cannot diverge. ``snapshot_banded=True`` accepts a snapshot
    that is ALREADY band rows (simhash, blk, bval — the persisted
    media-ledger layout, r13) built with the SAME num_bands; the
    caller owns that invariant (``admit_media_batch`` enforces it via
    the ledger's ``_scheme`` record)."""
    p = _banded(probe, n_bits, num_bands).select(
        F.col("id").alias("p_id"), F.col("simhash").alias("p_sh"),
        "blk", "bval",
    )
    # snapshot ids never surface — dedup the band rows so a
    # duplicate-heavy snapshot (many ids sharing one signature) costs
    # one candidate row per distinct (signature, block), not per id
    s_rows = (
        snapshot if snapshot_banded
        else _banded(snapshot, n_bits, num_bands)
    )
    s = s_rows.select(
        F.col("simhash").alias("s_sh"), "blk", "bval",
    ).distinct()
    ham = F.bit_count(F.col("p_sh").bitwiseXOR(F.col("s_sh")))
    return (
        p.join(s, ["blk", "bval"])
        .filter(ham <= max_hamming)
        .select(F.col("p_id").alias("id"))
        .distinct()
    )


def incremental_media_dedup(
    incoming_sigs: DataFrame,
    snapshot_sigs: DataFrame,
    max_hamming: int = 6,
    num_bands: int | str = "auto",
    snapshot_banded: bool = False,
) -> DataFrame:
    """Admit only the incoming media whose perceptual signature is
    NEW — the continuous-ingest companion to the one-shot
    ``image_hash_pairs``/``audio_fingerprint_pairs`` scans, and the
    perceptual analog of ``curation.incremental_dedup_fps``: a daily
    crawl batch dedups against yesterday's maintained signature
    table without re-hashing (or re-reading) the snapshot's media.

    Two banded stages, both shuffle-lean over 8-byte signatures:
    drop incoming ids within ``max_hamming`` of ANY snapshot
    signature (two-table banded join), then within the batch drop
    every id that has a SMALLER-id near-dup batchmate — regardless of
    whether that batchmate itself survived. This is deliberately the
    PESSIMISTIC one-pass rule, not greedy sequential keep-first:
    greedy admission on a chain A<B<C (A~B, B~C, A!~C) depends on
    B's own verdict, i.e. it has sequential dependency chains that
    need O(chain) rounds to resolve — this rule is ONE banded
    self-join. The documented cost: on such chains it over-drops
    (here C, whose only conflict B was itself dropped). That is a
    conservative loss of unique content, never an admitted duplicate;
    note a later batch's near-dup of a dropped-never-tabled item IS
    admitted, which is correct under retained-corpus semantics (the
    corpus does not contain the dropped item). Chain-heavy batches
    that can't afford the over-drop should cluster first
    (``graph.dedup_clusters`` on the batch pairs) and admit cluster
    roots. Inputs are (id, simhash) tables from
    ``image_signatures``/``audio_signatures`` — or, with
    ``snapshot_banded=True``, a snapshot that is already (simhash,
    blk, bval) band rows built with the SAME resolved band count (the
    r13 persisted-ledger layout; ``admit_media_batch`` enforces the
    scheme match). Output is the admitted (id, simhash) rows."""
    num_bands = _resolve_bands(
        num_bands, max_hamming, "incremental_media_dedup"
    )
    fresh = incoming_sigs.join(
        _banded_hamming_matches(
            incoming_sigs, snapshot_sigs, 64, num_bands, max_hamming,
            snapshot_banded=snapshot_banded,
        ),
        "id",
        "left_anti",
    ).localCheckpoint(eager=False)
    dup_b = (
        _banded_hamming_pairs(fresh, 64, num_bands, max_hamming)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return fresh.join(dup_b, "id", "left_anti")


# Storage bucket count for the banded media ledger (r13 — VERDICT r12
# task 5): 256 gives a small ingest trigger (a handful of items x 7
# band rows) a ~3-10% bucket hit fraction while a partitioned append
# still writes at most one file per TOUCHED bucket (<= the batch's
# band-row count), so small batches never fan out to 256 files.
_MEDIA_LEDGER_BUCKETS = 256


def _media_band_rows(
    sigs: DataFrame, num_bands: int, n_buckets: int
) -> DataFrame:
    """(id, simhash, blk, bval, bucket) band rows for the persisted
    media signature ledger — the shared ``_banded`` block scheme plus
    the storage bucket key (``pmod(xxhash64(blk, bval), n_buckets)``,
    the BM25 posting-bucket discipline)."""
    return _banded(sigs, 64, num_bands).withColumn(
        "bucket",
        F.pmod(F.xxhash64("blk", "bval"), F.lit(n_buckets)).cast("int"),
    )


def _read_media_scheme(spark, path: str) -> dict | None:
    """The ledger's banding/bucketing record ({num_bands, n_buckets})
    from ``{path}/_scheme``; None for a pre-r13 flat layout AND for
    an unreadable record (torn write) — both heal through
    ``migrate_media_ledger`` (see ``_ledger``)."""
    from lakehouse_to_rag_spark.operators._ledger import read_scheme

    return read_scheme(spark, path, ("num_bands", "n_buckets"))


def _write_media_scheme(
    spark, path: str, num_bands: int, n_buckets: int
) -> None:
    from lakehouse_to_rag_spark.operators._ledger import write_scheme

    write_scheme(
        spark, path, {"num_bands": num_bands, "n_buckets": n_buckets}
    )


def migrate_media_ledger(
    spark,
    path: str,
    num_bands: int,
    n_buckets: int = _MEDIA_LEDGER_BUCKETS,
) -> None:
    """One-time migration of a signature ledger to the banded
    bucket-partitioned layout (r13): read the DISTINCT (id, simhash)
    rows — which heals both the pre-r13 flat layout AND a crashed
    bootstrap that wrote band rows but died before its ``_scheme`` —
    rewrite as band rows under ``bucket=N/`` with the scheme record,
    and commit in one ``swap_dir`` (remnants healed by ``recover_dir``).
    O(cumulative) once; every subsequent batch reads only its
    colliding buckets — the shared ``_ledger.migrate_ledger``
    discipline."""
    from lakehouse_to_rag_spark.operators._ledger import migrate_ledger

    migrate_ledger(
        spark, path,
        lambda rows: _media_band_rows(
            rows.select("id", "simhash").distinct(), num_bands, n_buckets
        ),
        {"num_bands": num_bands, "n_buckets": n_buckets},
    )


def compact_media_ledger(spark, sig_table_path: str) -> int:
    """Maintenance-window compaction of the banded media signature
    ledger — the manual form of the per-bucket-depth trigger inside
    ``admit_media_batch``, for operators who compact on their own
    schedule (nightly, post-backfill). Same shared
    ``_compact_index_layout`` swap, ``_scheme`` carried verbatim.
    Must run with the ingest stream QUIESCED (the single-writer
    contract that helper documents). Returns the data file count
    written."""
    from lakehouse_to_rag_spark.operators._ledger import compact_ledger

    return compact_ledger(spark, sig_table_path, split_col="id")


def admit_media_batch(
    spark,
    sig_table_path: str,
    incoming: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    media: str = "image",
    method: str = "phash",
    max_hamming: int = 6,
    num_bands: int | str = "auto",
    compact_files_threshold: int = 64,
    n_buckets: int = _MEDIA_LEDGER_BUCKETS,
) -> DataFrame:
    """One turn of the continuous perceptual-ingest loop: hash the
    incoming media, dedup against the signature table at
    ``sig_table_path``, and record the admitted signatures so the
    NEXT batch excludes this batch's admissions. First call
    bootstraps the table. Same staging discipline as
    ``curation.admit_batch`` (unique per-batch staging dir for the
    RETURNED rows — never collect, reclaim via
    ``curation.cleanup_staging``; the batch's own signatures are
    pinned intra-call with ``localCheckpoint(eager=True)``, the
    narrower use that admit_batch's docstring distinguishes: an
    executor loss there fails only this batch's job, which the
    replay contract retries exactly).

    The signature ledger is APPEND-ONLY (r12 — VERDICT r11 task 2:
    admitted rows are by construction all-new, so appends replaced
    the O(cumulative)-per-batch rewrite) and since r13 (VERDICT r12
    task 5) it is stored as BAND ROWS partitioned by a band-bucket
    key — ``bucket=N/`` holds the (id, simhash, blk, bval) rows whose
    block hashes there (the BM25 posting-bucket discipline). The r12
    layout fixed the WRITE side but every batch still READ the whole
    cumulative ledger for its dedup join — O(cumulative) read I/O per
    batch over an ingest lifetime. Now the batch collects its own
    band rows' distinct buckets (a driver-side list bounded by
    ``min(batch x bands, n_buckets)``) and scans only those
    ``bucket=N/`` directories via partition pruning: a band match
    requires (blk, bval) equality, so rows in untouched buckets can
    never collide and skipping them is exact, not approximate. The
    ledger records its banding in ``{path}/_scheme``; a call with a
    different resolved band count fails closed (band rows from two
    schemes never align — re-derive via ``migrate_media_ledger``), and
    a pre-r13 flat ledger is migrated in place once (atomic swap).

    Compaction: a partitioned append writes one file per TOUCHED
    bucket per batch, so the trigger is the MAX per-bucket file count
    (> ``compact_files_threshold``) — the same per-batch cadence as
    the flat layout — compacted through the shared
    ``_compact_index_layout`` swap (``_scheme`` carried verbatim).

    Crash/replay semantics are unchanged from the upsert form: a
    batch that died mid-append re-admits exactly its not-yet-visible
    rows on replay (the visible ones match themselves at hamming 0
    and drop), and a replay of a fully-committed batch admits nothing
    and appends nothing (the empty append is skipped). A same-id
    re-ingest with DIFFERENT content far from its original signature
    lands as a second ledger row for that id instead of replacing
    the first — strictly more conservative dedup (both signatures
    guard the corpus), consistent with retained-corpus semantics.
    Returns the admitted (id, simhash) rows."""
    import os
    import uuid

    from lakehouse_to_rag_spark.sources.lakehouse import (
        read_layer,
        read_partitions,
        recover_dir,
        write_layer,
    )

    if media == "image":
        sigs = image_signatures(incoming, id_col, payload_col, method)
    elif media == "audio":
        sigs = audio_signatures(incoming, id_col, payload_col)
    else:
        raise NotImplementedError(
            f"unknown media kind {media!r}: image | audio"
        )
    num_bands = _resolve_bands(num_bands, max_hamming, "admit_media_batch")
    recover_dir(sig_table_path)
    exists = os.path.exists(sig_table_path)
    if exists:
        scheme = _read_media_scheme(spark, sig_table_path)
        if scheme is None:
            # pre-r13 flat ledger (or a bootstrap that died before its
            # _scheme landed): migrate once, atomically
            migrate_media_ledger(
                spark, sig_table_path, num_bands, n_buckets
            )
            scheme = {"num_bands": num_bands, "n_buckets": n_buckets}
        if scheme["num_bands"] != num_bands:
            raise ValueError(
                f"admit_media_batch: ledger at {sig_table_path} was "
                f"built with num_bands={scheme['num_bands']}, this "
                f"call resolved num_bands={num_bands} — band rows "
                "from different schemes never align, so the dedup "
                "join would silently miss matches. Use matching "
                "max_hamming/num_bands, or re-derive the ledger with "
                "migrate_media_ledger."
            )
        n_buckets = scheme["n_buckets"]
    # hash payloads ONCE: the bucket probe, the dedup join, and the
    # append all reuse the signatures
    sigs = sigs.localCheckpoint(eager=True)
    if exists:
        inc_buckets = sorted(
            r["bucket"]
            for r in _media_band_rows(sigs, num_bands, n_buckets)
            .select("bucket")
            .distinct()
            .collect()
        )
        # only the colliding bucket=N/ directories are listed and
        # opened. The explicit schema also skips planning-time footer
        # sampling — without it Spark would open a footer from an
        # arbitrary (possibly cold) file just to infer the fixed,
        # known layout.
        snap_bands = read_partitions(
            spark, sig_table_path, "bucket", inc_buckets,
            schema="id long, simhash long, blk int, bval long, bucket int",
            fmt="parquet",
        ).select("simhash", "blk", "bval")
    else:
        snap_bands = spark.createDataFrame(
            [], "simhash long, blk int, bval long"
        )
    admitted = incremental_media_dedup(
        sigs, snap_bands, max_hamming, num_bands, snapshot_banded=True
    )
    staging = os.path.join(f"{sig_table_path}__staging", uuid.uuid4().hex)
    write_layer(admitted, staging, fmt="parquet")
    out = read_layer(spark, staging, fmt="parquet")
    out_bands = _media_band_rows(out, num_bands, n_buckets)
    # cheap post-materialization probe; bootstrap only on a non-empty
    # admission (r13 — the curation.admit_batch convention: a
    # zero-admission first batch must not create a data-less ledger
    # that plain parquet readers cannot open)
    nonempty = out.limit(1).count() > 0
    if not exists and nonempty:
        write_layer(
            out_bands, sig_table_path, partition_by=["bucket"],
            fmt="parquet",
        )
        _write_media_scheme(spark, sig_table_path, num_bands, n_buckets)
    elif exists and nonempty:
        write_layer(
            out_bands, sig_table_path, partition_by=["bucket"],
            mode="append", fmt="parquet",
        )
    from lakehouse_to_rag_spark.operators._ledger import compact_if_deep

    compact_if_deep(
        spark, sig_table_path, compact_files_threshold, split_col="id"
    )
    return out


# ------------------------------------------------- embedding near-dup

def embedding_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos >= t) by
    brute-force self-join — the exact baseline. For the sub-quadratic
    scale path see similarity.ivf_topk (cluster-bucketed search).

    Plan shape: the pair join is a broadcast nested-loop (non-equi
    id_a < id_b); parallelism comes from the STREAMED side's partition
    count, so we repartition it explicitly — without this the whole
    O(n²) scoring runs in however few partitions the scan produced.
    Norms are computed once per row before the join (O(n)), not once
    per pair (O(n²)); the per-pair work is one dot product in double.
    """
    from lakehouse_to_rag_spark.functions.vectors import dot, l2_norm

    if num_partitions is None:
        num_partitions = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    ).repartition(num_partitions)
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 4).alias("cosine"))
        .filter(sim >= threshold)
    )


# ------------------------------------------- embedding LSH (hyperplane)

def embedding_lsh_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 32,
    num_bands: int = 8,
    threshold: float = 0.4,
    seed: int = 42,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: random-hyperplane LSH
    (Charikar signatures) with exact cosine verification — the 100 TB
    path that replaces the O(n²) brute-force pair join.

    Signature bit b = sign(v · r_b). Hyperplane component r[d, b] is
    md5-derived — ``md5(f"lsh:{seed}:{b}:{d}")``'s top 60 bits mapped
    to [-0.5, 0.5) — so the matrix regenerates identically inside
    every task (no broadcast, no RNG) AND replays exactly in a SQL
    oracle: the hash integer and the power-of-two division are both
    bit-exact in every engine, unlike a Gaussian draw (transcendental
    Box-Muller ulps could flip a near-zero sign bit). Uniform
    components lose the Gaussian's exact P[bit match] = 1 - angle/π
    law, but the hyperplanes remain mean-zero and independent, so
    near-parallel vectors still collide with high probability — and
    candidates are gated by EXACT cosine verification, so the output
    contract is unchanged (recall is pinned in tests). The dot is
    rounded to 12dp before the sign so a cross-engine summation-order
    ulp cannot flip a boundary bit. All num_bits dots are
    one Arrow-batch float64 matmul per partition — a prior version
    built 32 per-bit F.aggregate/zip_with expression trees instead,
    which cost ~16k Py4J round-trips to construct and evaluated
    interpreted (never codegen'd), measuring 80+ s at sf0.1 vs ~2 s
    for this form. P[bit match] = 1 - angle/π, so banding the bits
    (pigeonhole) finds high-cosine candidates via an equi-join on
    (band, block); candidate volume is O(n × bands), and only the
    packed BIGINT signature is shuffled — vectors join back onto the
    (few) candidates for exact-cosine verification (broadcastable at
    dim×8B×n ≪ fact scale; no dim-wide rows through the band join).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    dim = len(emb.select(vec_col).first()[0])
    bits_per_band = num_bits // num_bands
    sig_schema = StructType(
        [StructField("id", LongType()), StructField("sig", LongType())]
    )

    def signatures(batches):
        import hashlib

        # r[d, b] = md5("lsh:{seed}:{b}:{d}")[:15 hex] / 2^60 - 0.5 —
        # exact in both engines: a 60-bit int and a power-of-two
        # division have one representable double each
        r = np.array(
            [
                [
                    int(
                        hashlib.md5(
                            f"lsh:{seed}:{b}:{d}".encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    / 1152921504606846976.0
                    - 0.5
                    for b in range(num_bits)
                ]
                for d in range(dim)
            ],
            dtype=np.float64,
        )
        weights = np.uint64(1) << np.arange(num_bits, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            # half-AWAY 12dp like the oracle's ROUND — np.round's
            # half-even would flip a sign bit on an exact boundary
            bits = _round_away(m @ r, 12) >= 0
            sig = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame({"id": ids, "sig": sig.astype(np.int64)})

    # eager: with a lazy checkpoint the band self-join materializes
    # the Python signature stage once per SIDE per action (measured
    # 2x re-execution); eager runs it exactly once, and the
    # checkpointed frame is all the join touches
    narrow = maybe_parallelize(emb.select(id_col, vec_col))
    sig = narrow.mapInPandas(signatures, schema=sig_schema).localCheckpoint(
        eager=True
    )

    mask = (1 << bits_per_band) - 1
    band_arr = F.expr(
        "array("
        + ", ".join(
            f"struct({j} AS band, shiftright(sig, {j * bits_per_band}) & {mask}L AS bval)"
            for j in range(num_bands)
        )
        + ")"
    )
    banded = sig.select("id", F.explode(band_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # Verification: join the narrow (id, vector) table onto the (few)
    # candidate pairs — fully distributed, nothing corpus-sized ever
    # touches the driver. The join is an equi-join on id (AQE
    # broadcasts the vector side when it is small; at corpus scale it
    # becomes a shuffle hash join, which is exactly right), and the
    # per-pair cosine is one vectorized einsum per Arrow batch — an
    # expression dot would evaluate interpreted (~10 µs/pair → 60+ s
    # measured), so the batched float64 kernel is the fast AND the
    # scale-safe form.
    va = narrow.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = narrow.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    paired = cand.join(va, "id_a").join(vb, "id_b")

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ma = np.array(list(pdf["va"]), dtype=np.float64)
            mb = np.array(list(pdf["vb"]), dtype=np.float64)
            na = np.linalg.norm(ma, axis=1)
            nb = np.linalg.norm(mb, axis=1)
            na[na == 0] = np.nan
            nb[nb == 0] = np.nan
            # same op order as the brute-force twin: dot / na / nb
            cos = np.einsum("ij,ij->i", ma, mb) / na / nb
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                    "cosine": _round_away(cos[keep], 4),
                }
            )

    return paired.mapInPandas(verify, schema=out_schema)


def minhash_lsh_pairs_ml(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy dedup via spark.ml's MinHashLSH (SURVEY.md §2.13 maps
    near-dedup to ml.feature.MinHashLSH over shingle vectors) — the
    MLlib counterpart of the expression-based ``minhash_lsh_pairs``.

    Shingles -> HashingTF sparse vectors -> MinHashLSH model (seeded,
    deterministic) -> approxSimilarityJoin at the matching Jaccard
    DISTANCE (1 - similarity). Exact jaccard is then recomputed on the
    candidates from the shingle arrays so output semantics match the
    expression-based operator (pairs id_a < id_b with exact jaccard).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # checkpoint the shingle sets once: they feed the LSH features
    # AND the exact-jaccard verification joins
    sets = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
    nonempty = sets.filter(F.size("shingles") > 0)  # LSH rejects empty vectors
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    )
    # approxSimilarityJoin carries EVERY input column through its
    # hash-explode self-join; slim the join input to (id, features)
    # and join the shingle arrays back onto the (few) candidate pairs
    # for verification instead of shipping ~300-string arrays through
    # the explode (11.6 s → ~5 s at sf0.1)
    feats = tf.transform(nonempty).select("id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    pairs = joined.filter(
        F.col("datasetA.id") < F.col("datasetB.id")
    ).select(
        F.col("datasetA.id").alias("id_a"),
        F.col("datasetB.id").alias("id_b"),
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("set_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jac = n_inter / (F.size("set_a") + F.size("set_b") - n_inter)
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri et
    al. 2006 / Vernica et al. SIGMOD 2010 — the standard distributed
    all-pairs similarity join): identical output to
    ``ngram_jaccard_pairs``, sub-linear candidate generation.

    Two sets with jaccard >= t must share a token among each set's
    first ``|s| - ceil(t*|s|) + 1`` tokens in a GLOBAL rarity order
    (rare tokens first). So: build the frequency order once (one
    partial agg), sort each doc's shingles by it, explode ONLY the
    prefix, equi-join on the prefix token with the length filter
    ``t*|a| <= |b|`` — candidates shrink from every-shared-shingle to
    shared-RARE-shingle, which is the difference between a stopword
    blowup and a bounded join at corpus scale. Exact array_intersect
    verification; integer arithmetic end-to-end, so bit-equal to the
    naive operator and the same DuckDB oracle.
    """
    sets = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)

    tokens = sets.select(F.col("id"), F.explode("shingles").alias("tok"))
    # Global rarity order as an INTEGER vocab id: vid = row_number in
    # (df asc, tok) order. Everything downstream — per-doc sort,
    # prefix explode, candidate equi-join, and the exact intersection
    # verify — then runs on BIGINT arrays instead of ~20-char shingle
    # strings, which cut the verify stage from 5.9 s to ~1 s at sf0.1
    # (310k candidates × ~300-element array_intersect is pure
    # comparison cost). The rank window sorts only the DISTINCT
    # vocabulary (single partition): fine to ~100M shingle types; at
    # a corpus where vocab outgrows one partition, swap vid for
    # xxhash64(tok) ordered by (df, hash) — same plan, collision odds
    # ~|pairs|·|doc|²/2⁶⁴.
    freq = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("df_"))
    vocab = freq.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.asc("df_"), F.asc("tok")))
        .cast("long")
        .alias("vid"),
    )

    ranked = (
        tokens.join(vocab, "tok")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("vid")).alias("sorted_sh"))
        .select("id", "sorted_sh", F.size("sorted_sh").alias("sz"))
    ).localCheckpoint(eager=False)

    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    prefixes = ranked.select(
        "id",
        "sz",
        F.explode(F.slice("sorted_sh", 1, prefix_len)).alias("ptok"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: jaccard >= t forces t*|a| <= |b| and t*|b| <= |a|
            & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sa = ranked.select(F.col("id").alias("id_a"), F.col("sorted_sh").alias("set_a"),
                       F.col("sz").alias("sz_a"))
    sb = ranked.select(F.col("id").alias("id_b"), F.col("sorted_sh").alias("set_b"),
                       F.col("sz").alias("sz_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jac = n_inter / (F.col("sz_a") + F.col("sz_b") - n_inter)
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(jac >= threshold)
    )


def embedding_dup_pairs_numpy(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """GEMM fast path for the brute-force embedding pair join: each
    Arrow batch of the streamed side multiplies against a BROADCAST
    full matrix in one float64 matmul (same split as
    similarity.knn_bruteforce_numpy — the legitimate pandas case:
    dense linear algebra the per-element JVM expression tree
    interprets ~10× slower). Emits id_a < id_b pairs with cosine >= t.

    Contract: brute force is inherently O(n²) work with the corpus
    matrix resident per executor, so this path is EXPLICITLY bounded —
    the matrix ships as a Spark broadcast variable (torrent-distributed
    once per executor, never per task) and the operator refuses
    corpora beyond ``max_broadcast_rows`` (default 2M rows ≈ 2 GB at
    dim=128 float64) instead of silently OOMing. Beyond the bound, use
    ``embedding_dup_pairs`` (distributed JVM pair join, the default)
    or ``embedding_lsh_pairs`` (sub-quadratic LSH).

    Parity note: SIMD pairwise summation can differ from sequential
    sums in the last ulp; like the kNN twin, outputs round to 4dp and
    the threshold compare runs on the numpy value — verified equal to
    the JVM/DuckDB pair set at every harness sf.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.sources.tables import maybe_parallelize

    narrow = maybe_parallelize(emb.select(id_col, vec_col)).localCheckpoint(
        eager=True
    )
    n_rows = narrow.count()  # cheap: counts the checkpointed blocks
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_dup_pairs_numpy: corpus has {n_rows} rows > "
            f"max_broadcast_rows={max_broadcast_rows}; the broadcast GEMM "
            "contract is bounded. Use embedding_dup_pairs (distributed "
            "JVM pair join) or embedding_lsh_pairs (sub-quadratic LSH)."
        )
    rows = narrow.collect()
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = np.nan
    bc = emb.sparkSession.sparkContext.broadcast((all_ids, mat, norms))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(m) == 0:
                continue
            n = np.linalg.norm(m, axis=1)
            n[n == 0] = np.nan
            sims = (m @ b_mat.T) / n[:, None] / b_norms[None, :]
            # keep only id_a < id_b and cosine >= t
            ai, bj = np.nonzero(
                (ids[:, None] < b_ids[None, :]) & (sims >= threshold)
            )
            if len(ai) == 0:
                continue
            yield pd.DataFrame(
                {
                    "id_a": ids[ai],
                    "id_b": b_ids[bj],
                    "cosine": _round_away(sims[ai, bj], 4),
                }
            )

    return narrow.mapInPandas(score, schema=out_schema)


# --------------------------------------- TF-weighted cosine all-pairs

def _tf_cosine_dense(
    tf: DataFrame,
    freq: DataFrame,
    threshold: float,
    block_rows: int = 4096,
) -> DataFrame:
    """Dense-vocabulary regime of ``tf_cosine_pairs`` as a DISTRIBUTED
    upper-triangular block GEMM. Nothing corpus-sized ever touches the
    driver: the driver holds only the vocabulary index (bounded by
    ``dense_vocab_limit`` — the dispatch contract) and the block count.

    Two Arrow stages:
    1. pack: FLAT (blk, id, vid, tf) int rows repartition by blk (ONE
       corpus exchange — flat Arrow int columns, never nested
       collect_list structs: measured 2× slower end-to-end at sf0.1
       from nested-Arrow + per-row Python decode) and each partition
       densifies its blocks ONCE, fully vectorized (np.unique +
       fancy-index fill), into binary blobs — int64 id vector + int32
       row-major TF matrix. The 20x probe showed why blobs: densifying
       inside the pair task runs the fill once per block PER PARTNER
       (nb× redundant work); blobs ship compact bytes (block_rows ×
       |V| × 4B) and the pair task does zero per-row work.
    2. gemm: every (pa <= pb) blob pair is one task — np.frombuffer,
       one float64 matmul, threshold, emit pairs. int32 TF counts are
       exact in float64 (< 2^53), so results are bit-identical to the
       JVM/oracle expression.

    Work is the inherent O(n²/block_rows²) tasks of an all-pairs join;
    shuffle is O(n·nb/block_rows) blob rows — the classic BlockMatrix
    multiply shape, with no O(corpus) driver or single-executor
    materialization.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = tf.sparkSession
    # vocabulary index: small by the dispatch contract (<= dense_vocab_limit)
    words = sorted(r["word"] for r in freq.select("word").collect())
    nv = len(words)
    vocab_df = F.broadcast(
        spark.createDataFrame(
            [(w, i) for i, w in enumerate(words)], "word string, vid int"
        )
    )

    # one partial-agg job for the block count (distinct ids only shuffle)
    n_docs = tf.select("id").distinct().count()
    nb = max(1, math.ceil(n_docs / block_rows))

    # ONE corpus shuffle routes flat (blk, id, vid, tf) int rows to
    # their block's partition (blk is a pure function of id, so a
    # per-id pre-grouping would be a second full-data exchange for
    # zero compression; flat ints keep Arrow transfer columnar).
    flat = (
        tf.join(vocab_df, "word")
        .withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int"))
        .select("blk", "id", "vid", "tf")
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def _densify(ids_raw, vids, tfs):
        # vectorized sparse->dense: rows sort by id via np.unique, the
        # inverse permutation scatters every tf in one fancy-index fill
        ids, inv = np.unique(ids_raw, return_inverse=True)
        m = np.zeros((len(ids), nv), dtype=np.int32)
        m[inv, vids] = tfs
        return ids, m

    def _block_pairs(pa, pb, ida, idb, ma, mb, strip=1024):
        # keep norm² and divide by sqrt(na2*nb2) in ONE operation — the
        # exact expression the JVM path and the DuckDB oracle evaluate
        # (sqrt(a)*sqrt(b) differs in the last ulp from sqrt(a*b)).
        # The GEMM runs in row STRIPS: a full block-pair sims matrix is
        # block_rows² doubles (0.5 GB at 8192 rows — an executor-OOM at
        # real per-core memory budgets); strips bound peak extra memory
        # at strip × block_rows × 8 B (~64 MB) with identical output.
        na2 = np.einsum("ij,ij->i", ma, ma)
        nb2 = np.einsum("ij,ij->i", mb, mb)
        na2[na2 == 0] = np.nan
        nb2[nb2 == 0] = np.nan
        outs = []
        for s in range(0, len(ida), strip):
            e = s + strip
            sims = (ma[s:e] @ mb.T) / np.sqrt(
                na2[s:e, None] * nb2[None, :]
            )
            keep = sims >= threshold
            if pa == pb:
                keep &= ida[s:e, None] < idb[None, :]
            ai, bj = np.nonzero(keep)
            if len(ai) == 0:
                continue
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ida[s:e][ai], idb[bj]),
                        "id_b": np.maximum(ida[s:e][ai], idb[bj]),
                        # half-AWAY-from-zero (sims >= threshold >= 0
                        # here: integer TF counts make cosine
                        # non-negative), matching F.round / DuckDB
                        # ROUND — np.round's half-to-even would diverge
                        # on an exact .xxxx5 boundary
                        "cosine": np.floor(sims[ai, bj] * 1e4 + 0.5) / 1e4,
                    }
                )
            )
        if not outs:
            return None
        return pd.concat(outs, ignore_index=True)

    if nb == 1:
        # single block = single task: concatenate the flat batches,
        # densify once, self-GEMM right there — the pack/join/
        # checkpoint pipeline below exists only to ship blocks to
        # PARTNER tasks, which don't exist at nb=1
        def self_gemm(batches):
            chunks = [p for p in batches if len(p)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            ids, m = _densify(
                pdf["id"].to_numpy(np.int64),
                pdf["vid"].to_numpy(np.int64),
                pdf["tf"].to_numpy(np.int32),
            )
            mf = m.astype(np.float64)
            out = _block_pairs(0, 0, ids, ids, mf, mf)
            if out is not None:
                yield out

        return flat.repartition(1).mapInPandas(self_gemm, schema=out_schema)

    blob_schema = StructType(
        [
            StructField("blk", IntegerType()),
            StructField("n", IntegerType()),
            StructField("ids", BinaryType()),
            StructField("mat", BinaryType()),
        ]
    )

    def pack(batches):
        # a hash partition may hold several blks (or none): group the
        # flat rows by blk in-memory, one blob row out per blk
        chunks = [p for p in batches if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        for blk, g in pdf.groupby("blk", sort=False):
            ids, m = _densify(
                g["id"].to_numpy(np.int64),
                g["vid"].to_numpy(np.int64),
                g["tf"].to_numpy(np.int32),
            )
            yield pd.DataFrame(
                {
                    "blk": [int(blk)],
                    "n": [len(ids)],
                    "ids": [ids.tobytes()],
                    "mat": [m.tobytes()],
                }
            )

    # Eager checkpoint: both the pa and pb sides of the pair join read
    # the blobs, so without it the pack stage executes twice.
    packed = (
        flat.repartition(nb, "blk")
        .mapInPandas(pack, schema=blob_schema)
        .localCheckpoint(eager=True)
    )

    # upper-triangular block-pair task list: tiny (nb² ints), equi-joined
    # so neither corpus side is ever broadcast
    keys = (
        spark.range(nb)
        .select(F.col("id").cast("int").alias("pa"))
        .crossJoin(spark.range(nb).select(F.col("id").cast("int").alias("pb")))
        .filter(F.col("pa") <= F.col("pb"))
    )
    pa_side = packed.select(
        F.col("blk").alias("pa"),
        F.col("n").alias("na"),
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
    )
    pb_side = packed.select(
        F.col("blk").alias("pb"),
        F.col("n").alias("nb_"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
    )
    n_tasks = nb * (nb + 1) // 2
    tasks = (
        keys.join(pa_side, "pa")
        .join(pb_side, "pb")
        # one block pair per partition: each row carries two full blocks,
        # so batching several into one Arrow batch would multiply peak
        # task memory for zero win
        .repartition(min(n_tasks, 4 * spark.sparkContext.defaultParallelism))
    )

    def gemm(batches):
        for pdf in batches:
            for pa, pb, na, ids_a, mat_a, nb_r, ids_b, mat_b in zip(
                pdf["pa"], pdf["pb"],
                pdf["na"], pdf["ids_a"], pdf["mat_a"],
                pdf["nb_"], pdf["ids_b"], pdf["mat_b"],
            ):
                ida = np.frombuffer(ids_a, dtype=np.int64)
                idb = np.frombuffer(ids_b, dtype=np.int64)
                ma = np.frombuffer(mat_a, dtype=np.int32).reshape(na, nv)
                mb = np.frombuffer(mat_b, dtype=np.int32).reshape(nb_r, nv)
                out = _block_pairs(
                    pa, pb, ida, idb,
                    ma.astype(np.float64), mb.astype(np.float64),
                )
                if out is not None:
                    yield out

    return tasks.mapInPandas(gemm, schema=out_schema)


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    dense_vocab_limit: int = 2048,
    dense_block_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine similarity over term-frequency vectors
    (id_a < id_b, cosine >= threshold) — the sparse-feature similarity
    join (cf. AllPairs/Vernica-style inverted-index joins; the
    prefix-filtered variant in ``ngram_jaccard_pairs_prefix`` shows
    the skew path, the same trade applies here).

    Weighted twin of the Jaccard join: instead of set intersection
    counts, the inverted index carries per-doc term counts and the
    pair aggregation computes integer dot products Σ tf_a·tf_b; norms
    are Σ tf² per doc. All sums are exact integers, so
    cosine = dot/√(n_a·n_b) is a bit-deterministic double on every
    engine — the reason this uses raw TF, not float IDF weights, for
    the oracle-gated entry (IDF weighting would make parity depend on
    float summation order).

    Candidate generation is L2 PREFIX-FILTERED (Bayardo et al.
    WWW'07, the weighted analogue of ``ngram_jaccard_pairs_prefix``):
    a naive inverted-index self-join generates Σ_w df(w)² pairs,
    which a Zipfian vocabulary turns into billions of rows from
    stop-words alone (measured: >9 min at sf0.1, vs ~10 s with the
    filter — the blowup the docstring's 100 TB note warned about,
    now structural). Per doc, terms sort by GLOBAL rarity (df asc);
    the TAIL (common terms) is the longest suffix with
    Σ tf² < t² · ‖v‖²; for any pair with cos ≥ t the probe side must
    share a PREFIX term of the indexed side (x·y ≤ x_pre·y +
    ‖x_tail‖·‖y‖ < x_pre·y + t), so joining prefix tokens × the FULL
    index finds every qualifying pair. Common terms almost never
    survive into a prefix, so candidate volume is Σ_w df_pre(w)·df(w)
    ≈ rare-term collisions only. Exact integer-dot verification on
    the candidates (term-frequency maps) keeps the output
    bit-identical to the naive join and the same DuckDB oracle.
    """
    tf = (
        _with_words(df, id_col, text_col)
        .select(F.col("id"), F.explode(F.col("_words")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds index, prefixes, verify maps
    )
    freq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df_"))

    # Regime dispatch. Prefix filtering only prunes when rarity
    # exists; a SMALL vocabulary makes every doc share terms with
    # every other (harness documents: 31 distinct words → candidates
    # ≈ all n²/2 pairs regardless of filtering — measured 42 s+ at
    # sf0.1). Small vocab ⇔ short dense TF vectors, so that regime
    # runs as a GEMM block-multiply instead (~2 s, bit-identical:
    # integer counts are exact in float64 below 2^53). Zipfian
    # corpora with real vocabularies take the prefix-filter branch.
    nv = freq.count()
    if nv == 0:
        # all-empty/whitespace corpus: no terms, no pairs — short-
        # circuit instead of letting the dense branch divide by nv
        return df.sparkSession.createDataFrame(
            [],
            "id_a long, id_b long, cosine double",
        )
    if nv <= dense_vocab_limit:
        if dense_block_rows is None:
            # size blocks so one int32 blob stays ~16 MB regardless of
            # vocab width (4096 rows at |V|=1024, 2048 at the 2048-word
            # dispatch limit) — bounds per-task memory at 2 blobs +
            # their float64 copies, independent of corpus size
            dense_block_rows = min(8192, max(512, (16 << 20) // (4 * nv)))
        return _tf_cosine_dense(tf, freq, threshold, block_rows=dense_block_rows)

    # suffix-sum of tf² in global (df asc, word) order via one window:
    # token is PREFIX iff the tf²-mass from it to the rarest-end tail
    # is >= t²·norm2 (monotone, so the tail is a contiguous suffix)
    w_suffix = (
        Window.partitionBy("id")
        .orderBy(F.desc("df_"), F.desc("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_doc = Window.partitionBy("id")
    scored = (
        tf.join(freq, "word")
        .withColumn("suffix_tf2", F.sum(F.col("tf") * F.col("tf")).over(w_suffix))
        .withColumn("norm2", F.sum(F.col("tf") * F.col("tf")).over(w_doc))
    )
    prefixes = scored.filter(
        F.col("suffix_tf2") >= F.lit(threshold * threshold) * F.col("norm2")
    ).select("id", "word")

    a = prefixes.alias("a")
    b = tf.alias("b")
    candidates = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )

    tfmaps = tf.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("word", "tf"))).alias("m"),
        F.sum(F.col("tf") * F.col("tf")).alias("norm2"),
    )
    ma = tfmaps.select(
        F.col("id").alias("id_a"), F.col("m").alias("ma"), F.col("norm2").alias("na2")
    )
    mb = tfmaps.select(
        F.col("id").alias("id_b"), F.col("m").alias("mb"), F.col("norm2").alias("nb2")
    )
    dot = F.expr(
        "aggregate(map_entries(ma), 0L,"
        " (acc, e) -> acc + e.value * coalesce(element_at(mb, e.key), 0L))"
    )
    cos = F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2"))
    return (
        candidates.join(ma, "id_a")
        .join(mb, "id_b")
        .withColumn("dot", dot)
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(cos >= threshold)
    )


# --------------------------------------------------- semantic dedup

def semdedup(
    embeddings: DataFrame,
    num_clusters: int = 16,
    threshold: float = 0.95,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 200_000,
    max_split_depth: int = 4,
    split_train_rows: int = 16_384,
) -> DataFrame:
    """Cluster-scoped semantic dedup (SemDeDup, Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means the embedding space, then look for
    near-duplicate pairs ONLY within each cluster — the all-pairs
    surface shrinks from O(n^2) to O(sum of cluster_size^2), which is
    the paper's point and the 100 TB shape (the per-cluster work is an
    in-memory GEMM over one Arrow group).

    Dedup rule (deterministic): a vector is dropped iff some
    SMALLER-id vector in the same (refined) cluster has rounded
    cosine >= threshold to it — one pass, no iteration-order
    ambiguity, the same keep-first convention as the exact-dedup
    family.

    Oversized clusters (skewed embedding spaces — near-duplicate-heavy
    crawl data, precisely semdedup's target — can drop most of the
    corpus into one cluster no matter how large ``num_clusters`` is)
    are NOT a hard error: any cluster above ``max_cluster_rows`` is
    recursively re-clustered with the same deterministic Lloyd
    quantizer (the paper's own hierarchy) until every leaf fits an
    executor, up to ``max_split_depth`` levels. Below the cap the
    split never activates and the output is bit-identical to the flat
    form. Splitting scopes the pair scan to the sub-cluster, so a
    cross-sub-cluster near-duplicate pair is no longer compared —
    the standard hierarchy approximation; the kept set can only grow.
    A cluster that cannot be split (e.g. > cap byte-identical vectors
    collapsing to one distinct seed) still raises rather than building
    a quadratic block. Sub-quantizers train on a bounded sample — the
    first ``split_train_rows`` DISTINCT vectors by smallest id, so
    duplicate-heavy clusters cannot starve the trainer of diversity
    and seeds match full-cluster training — while ASSIGNMENT stays
    full-cluster, so
    per-level retraining is O(sample) instead of O(cluster) — the
    term that matters when an oversized cluster is millions of rows.
    (Round-6 finding: at the 50x probe the retraining term was NOT
    the dominant cost — the leaf pair scans were, cut ~40% by the
    candidate pre-filter in ``_dedup_cluster``; numbers in SCALE.md.)

    Training reuses ``kmeans_centroids`` (12dp-rounded Lloyd, the
    oracle-replayable quantizer) and assignment ``_gemm_assign``,
    so the FULL path — training, assignment, in-cluster pair scan —
    is reproducible by a sequential SQL oracle (split inactive on the
    oracle-gated corpus; it only engages above the cap).

    Returns (id_col, cluster, kept) for every input vector; ``cluster``
    is the TOP-LEVEL cluster id regardless of refinement depth."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from lakehouse_to_rag_spark.operators.similarity import (
        _gemm_assign,
        kmeans_centroids,
    )

    cent_df = kmeans_centroids(
        embeddings, num_clusters, iterations, id_col, vec_col
    )
    cent_rows = [
        (int(r[0]), [float(x) for x in r[1]]) for r in cent_df.collect()
    ]
    assigned = _gemm_assign(embeddings, cent_rows, id_col, vec_col)

    # Hierarchical refinement: "grp" is the path key ("3", "3/17", ...)
    # whose leading component is the top-level cluster. Each depth is
    # one size scan (k rows collected) + one distributed re-cluster per
    # oversized group; the corpus itself is never collected. The
    # localCheckpoint truncates lineage so the size scan and the final
    # group dedup reuse one materialized assignment instead of
    # replaying the Arrow GEMM pass per consumer.
    assigned = assigned.withColumn(
        "grp", F.col("cluster").cast("string")
    ).localCheckpoint(eager=False)
    prev_sizes: dict[str, int] = {}
    for _depth in range(max_split_depth):
        oversized = sorted(
            (r["grp"], int(r["n"]))
            for r in assigned.groupBy("grp")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_cluster_rows)
            .collect()
        )
        if not oversized:
            break
        # no-progress guard (ONE size scan per depth — this check
        # rides the scan above instead of a second bottom-of-loop
        # scan): a child leaf at its parent's full size means the
        # sub-space is dominated by one distinct vector and further
        # splitting would loop to max depth then die in the pair scan
        for grp, n in oversized:
            if prev_sizes.get(grp.rsplit("/", 1)[0]) == n:
                raise NotImplementedError(
                    f"semdedup re-clustering made no progress on "
                    f"cluster '{grp}' ({n} rows > {max_cluster_rows}): "
                    "the sub-space is dominated by one distinct vector. "
                    "Pre-dedup exact duplicates first."
                )
        refined = [
            assigned.filter(~F.col("grp").isin([g for g, _ in oversized]))
        ]
        for grp, n in oversized:
            sub = assigned.filter(F.col("grp") == grp)
            # target half-full leaves so one split round usually ends
            # the recursion even under moderately uneven sub-clusters
            k = max(2, math.ceil(n / max(1, max_cluster_rows // 2)))
            # SAMPLED sub-quantizer training (round-6): train Lloyd on
            # the first `split_train_rows` DISTINCT vectors by
            # smallest id, then assign the WHOLE cluster against the
            # centroids (the tokenizer-family discipline: bounded
            # trainer, scaling encoder). Distinct-first matters on
            # exactly this path's data: an oversized cluster on
            # duplicate-heavy corpora can have its smallest
            # `split_train_rows` ids all byte-identical, and a plain
            # id-top-k sample would then see ONE distinct vector and
            # falsely declare a splittable cluster irreducible (or
            # trip the no-progress guard). The distinct min-id order
            # is the same first-k-distinct discipline kmeans seeding
            # uses, so seeds match full-cluster training whenever the
            # first k distinct vectors exist at all.
            train = sub
            if n > split_train_rows:
                train = (
                    sub.groupBy(vec_col)
                    .agg(F.min(F.col(id_col)).alias(id_col))
                    .orderBy(F.col(id_col))
                    .limit(split_train_rows)
                    # checkpoint: every Lloyd pass reads the sample;
                    # without it each pass replays the dedup+top-k
                    .localCheckpoint(eager=False)
                )
            sub_cent = kmeans_centroids(
                train, k, iterations, id_col, vec_col
            )
            sub_rows = [
                (int(r[0]), [float(x) for x in r[1]])
                for r in sub_cent.collect()
            ]
            if len(sub_rows) < 2:
                raise NotImplementedError(
                    f"semdedup cluster '{grp}' has {n} rows "
                    f"(> {max_cluster_rows}) but fewer than 2 distinct "
                    "vectors — irreducible by re-clustering; refusing to "
                    "build a quadratic block. Pre-dedup exact duplicates "
                    "(dedup_exact / embedding_dedup_pairs) first."
                )
            refined.append(
                _gemm_assign(sub, sub_rows, id_col, vec_col)
                .withColumnRenamed("cluster", "_sub")
                .withColumn(
                    "grp", F.concat_ws("/", F.lit(grp), F.col("_sub"))
                )
                .withColumn(
                    "cluster", F.split(F.col("grp"), "/")[0].cast("long")
                )
                .select(id_col, vec_col, "cluster", "grp")
            )
        prev_sizes = dict(oversized)
        assigned = refined[0]
        for df in refined[1:]:
            assigned = assigned.unionByName(df)
        assigned = assigned.localCheckpoint(eager=False)

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster", LongType()),
            StructField("kept", BooleanType()),
        ]
    )

    def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_rows:
            raise NotImplementedError(
                f"semdedup leaf cluster has {len(pdf)} rows "
                f"(> {max_cluster_rows}) after {max_split_depth} split "
                "levels; raise max_split_depth or num_clusters — "
                "refusing to build a quadratic block"
            )
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.array(list(pdf[vec_col].iloc[order]), dtype=np.float64)
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = np.nan
        # strip-tiled GEMM: peak memory is strip x cluster, never
        # cluster^2 (same discipline as the tf-cosine block multiply);
        # row i is dropped iff any SMALLER id in the cluster matches.
        # Division order (dot / |a| / |b|) kept EXACTLY as the oracle's
        # list_cosine_similarity shape — normalize-before-matmul would
        # reorder float ops and risk 4dp-boundary drift
        strip = 2048
        dropped = np.zeros(len(ids), dtype=bool)
        # candidate pre-filter (round-6): _round_away over the FULL
        # strip was ~45% of the leaf scan; rounded >= threshold
        # implies raw >= threshold - 0.5e-4, so filtering at a safely
        # wider threshold - 1e-4 and rounding ONLY the surviving
        # entries is decision-identical (the exact 4dp compare still
        # runs on every candidate) at a fraction of the cost
        pre = threshold - 1e-4
        cols = np.arange(len(ids))[None, :]
        for s in range(0, len(ids), strip):
            e = min(s + strip, len(ids))
            sims = (m[s:e] @ m.T) / n[s:e, None] / n[None, :]
            # mask to strictly-smaller ids: global col index < row index
            rows = np.arange(s, e)[:, None]
            cand = (sims >= pre) & (cols < rows)
            ii, jj = np.nonzero(cand)
            if len(ii):
                hit = _round_away(sims[ii, jj], 4) >= threshold
                dropped[s + np.unique(ii[hit])] = True
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].iloc[0],
                "kept": ~dropped,
            }
        )

    return assigned.groupBy("grp").applyInPandas(
        _dedup_cluster, schema=schema
    )


def dedup_keep_best(
    docs_scored: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """QUALITY-AWARE survivor selection for near-dup clusters — the
    curation-grade refinement of ``dedup_clusters``' min-id policy:
    inside each duplicate cluster the KEPT document is the
    highest-``score_col`` member (min id on exact score ties —
    deterministic), so deduplication stops throwing away the best
    copy of a duplicated page (the min-id keeper is arbitrary; on web
    crawls it systematically keeps whatever was crawled first, often
    the boilerplate-wrapped repost rather than the clean original).
    Documents in no pair are singleton clusters and keep themselves.

    Scale shape: connected components over the pair graph (the
    ``dedup_clusters`` engines, O(log^2 n) rounds available for chain
    graphs), one left join of the corpus onto the bounded member
    labeling, one per-cluster window rank — exchanges on cluster_root
    only; no text moves, only (id, root, score).

    Returns (id_col, cluster_root, score_col, is_kept)."""
    from lakehouse_to_rag_spark.operators.graph import dedup_clusters

    cc = dedup_clusters(pairs).select(
        F.col("doc_id").alias(id_col), "cluster_root"
    )
    labeled = docs_scored.select(F.col(id_col), F.col(score_col)).join(
        cc, id_col, "left"
    )
    labeled = labeled.withColumn(
        "cluster_root", F.coalesce("cluster_root", F.col(id_col))
    )
    w = Window.partitionBy("cluster_root").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return labeled.select(
        F.col(id_col),
        F.col("cluster_root"),
        F.col(score_col),
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    unit: str = "word",
    max_text_len: int | None = _CHAR_ARRAY_MAX_TEXT_LEN,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a document's distinct
    n-gram shingles (``unit="word"`` or ``"char"`` — the char mode
    scores unsegmented scripts, which word mode silently omits: see
    ``word_shingles``) that appear in NO other document (corpus
    df == 1) — the cheap originality signal dual to the stop-shingle
    cap: boilerplate-heavy or templated documents score near 0, and
    documents quoted/duplicated elsewhere lose exactly the shared
    spans' shingles. Useful as a curation feature (novelty-weighted
    sampling) and as a dedup-pressure gauge per source.

    Scale shape: per-document distinctness comes FREE from the row
    (``shingle_arrays``' array_distinct + explode — no corpus-wide
    distinct exchange, unlike the ``word_shingles`` inverted-index
    build), so the whole plan is exactly TWO exchanges: the shingle-df
    count window and the partial-agg groupBy on the id
    (plan-audited: 2 hash exchanges, shingle-keyed window). Integer
    flag sums with a single final IEEE division, so the 4dp ratio is
    bit-stable. Documents with fewer than ``n`` units (words, or
    characters in char mode) have no shingles and are absent from
    the output.

    Returns (id_col, n_shingles, n_unique, novelty 0..1)."""
    # explode_OUTER, not explode: for plain explode Catalyst infers a
    # size>0 AND isnotnull filter on the array and pushes it below the
    # parallelizing repartition with the WHOLE shingle expression
    # inlined — the shingling then runs twice per row inside the
    # single-split scan stage (measured 7.5 s vs 0.8 s at sf0.1; the
    # minhash NB documents the same trap for a hand-written filter).
    # explode_outer infers nothing; the post-explode NULL filter is
    # one cheap row predicate on the parallel side and restores the
    # "docs with < n words are absent" contract.
    sh = (
        shingle_arrays(df, id_col, text_col, n, unit=unit,
                       max_text_len=max_text_len)
        .select(F.col("id"), F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn(
        "_uniq", (F.count(F.lit(1)).over(w) == 1).cast("long")
    )
    return flagged.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("_uniq").cast("long").alias("n_unique"),
        F.round(
            F.sum("_uniq") / F.count(F.lit(1)), 4
        ).alias("novelty"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | str | None = "auto",
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — the asymmetric near-dup metric
    Jaccard structurally misses: containment(a in b) = |A∩B| / |A|,
    so a short document quoted wholesale inside a long one scores 1.0
    where its Jaccard is |A|/|B| (arbitrarily small). This is the
    quote/excerpt/subset-duplicate detector (Broder's original
    resemblance-vs-containment distinction) a crawl corpus needs
    alongside symmetric dedup: boilerplate-wrapped reposts, quoted
    articles, documents assembled from other documents.

    Same engine shape as ``ngram_jaccard_pairs`` (one exchange on the
    shingle for the self-join, intersection counts by partial-agg
    groupBy, integer arithmetic end to end so the 4dp containments
    are bit-deterministic), same ``max_shingle_df`` stop-shingle cap
    with the same filtered-universe semantics and the same ``"auto"``
    default (clamp(ceil(1% of docs), 16, 1000) — VERDICT r9: the
    unbounded shingle self-join was quadratic by default; ``None``
    restores exact whole-corpus containment, the gated pin; capped ==
    uncapped whenever no shingle exceeds the cap). Emits BOTH
    directions' scores on one row (containment is asymmetric; the
    pair is still emitted once, id_a < id_b) and keeps a pair when
    EITHER direction clears ``threshold``. Returns (id_a, id_b,
    containment_a_in_b, containment_b_in_a)."""
    if not 0 < threshold <= 1:
        raise ValueError(
            f"ngram_containment_pairs: 0 < threshold <= 1, {threshold}"
        )
    _shingle_unit(unit, "ngram_containment_pairs")
    cap = _resolve_shingle_cap(
        df, text_col, max_shingle_df, "ngram_containment_pairs"
    )
    sh = word_shingles(df, id_col, text_col, n, unit=unit)
    if cap is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= cap)
            .drop("_df")
        )
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    c_ab = F.col("n_inter") / F.col("n_a")
    c_ba = F.col("n_inter") / F.col("n_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 4).alias("containment_a_in_b"),
            F.round(c_ba, 4).alias("containment_b_in_a"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source duplication matrix: how many near-duplicate pairs
    each (source, source) combination contributes — the curation
    report behind "which feeds plagiarize which" / "which crawl
    overlaps which dump" licensing and mixing decisions. Built on the
    exact-verified MinHash-LSH pair stream, so the matrix inherits its
    no-false-positive guarantee. Emits (source_a, source_b,
    dup_pairs) with source_a <= source_b (unordered pair canon;
    same-source density lands on the diagonal).

    Shape: the pair set is tiny relative to the corpus (it is the
    dedup output), so the tail is two id-keyed shuffle joins to fetch
    each side's group and one groupBy over at most |sources|² rows —
    the banded LSH join upstream stays the only large exchange, and
    nothing here collects or broadcasts corpus-sized state."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n=n, threshold=threshold
    )
    meta = df.select(F.col(id_col), F.col(group_col))
    ga = meta.select(
        F.col(id_col).alias("id_a"), F.col(group_col).alias("_ga")
    )
    gb = meta.select(
        F.col(id_col).alias("id_b"), F.col(group_col).alias("_gb")
    )
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("dup_pairs"))
    )
