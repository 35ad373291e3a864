"""Deterministic sampling for training-data mixes.

Spark's ``sample``/``sampleBy`` draw from a partition-order-dependent RNG:
re-running the same pipeline (or the same query on a different cluster
layout) yields a DIFFERENT subset, which breaks reproducible training mixes
and makes incremental re-runs unstable. These operators key every keep/drop
decision on a HASH of a stable row key instead — the same rows survive on
any engine, any partitioning, any day (and DuckDB can replay the exact
arithmetic, so the driver's oracle gates them value-exactly).

Scale shape: a pure scan-time filter — no shuffle, no state, no driver
round-trips; composes with partition pruning and column pruning untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyranges_1_x_spark.ml.dedup import md5_hash64, xxhash64_fn
from pyranges_1_x_spark.plans.sweep import Scan, bucketed_scan

_DENOM = 1_000_000


def _bucket_shift(hash_fn, bucket_bits: int) -> int:
    """Right-shift that leaves exactly ``bucket_bits`` high bits of the hash
    as the bucket id. ``md5_hash64`` yields 60-bit non-negative values; the
    module's ``xxhash64_fn`` is the full signed 64 bits (arithmetic shift
    preserves order either way, but deriving the width keeps the summary
    relation at the documented 2^bits rows instead of 16x that — review
    find, r12). Other custom hash_fns are assumed 60-bit-like; pass a wider
    ``bucket_bits`` headroom if not."""
    return (64 if hash_fn is xxhash64_fn else 60) - bucket_bits


def _order_hash(hash_fn, key_col: str, seed: int) -> Column:
    """The hash that places a row in a sampling order: NULL for a NULL key
    under any ``hash_fn`` (``md5_hash64`` gives NULL already; ``xxhash64``
    hashes NULL to its seed), so ``bucketed_scan`` drops the row — a row
    without identity has no stable place in a deterministic order."""
    return F.when(F.col(key_col).isNotNull(), hash_fn(F.col(key_col), seed))


def hash_keep(key: Column, fraction: float, seed: int = 0, hash_fn=md5_hash64) -> Column:
    """Boolean keep-decision: ``hash(key, seed) mod 1e6 < fraction * 1e6``.
    Changing ``seed`` draws an independent subset; fractions are honored in
    expectation with deterministic membership. The threshold ROUNDS (r14
    review find): ``int()`` truncation misclassified one hash residue per
    million for fractions that are not exact binary floats (0.29 * 1e6 =
    289999.99999999994 truncates to 289999, biasing the realized fraction
    low against the documented formula)."""
    return F.pmod(hash_fn(key, seed), F.lit(_DENOM)) < F.lit(round(fraction * _DENOM))


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_fn=md5_hash64,
) -> DataFrame:
    """Deterministic Bernoulli-by-hash sample of ``fraction`` of the rows."""
    return df.filter(hash_keep(F.col(key_col), fraction, seed, hash_fn))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    default: float = 0.0,
    seed: int = 0,
    hash_fn=md5_hash64,
) -> DataFrame:
    """Deterministic per-stratum sampling — the "training mix" operator:
    keep a different fraction of each stratum (source, language, quality
    band), decided by row-key hash so the mix is bit-reproducible. Strata
    absent from ``fractions`` fall back to ``default`` (0.0 = drop).

    The strata->threshold table rides along as a literal MAP expression
    (strata counts are small); the plan is a single filtered scan.
    """
    pairs: list[Column] = []
    for s, f in fractions.items():
        pairs += [F.lit(s), F.lit(round(f * _DENOM))]  # round, not truncate (see hash_keep)
    thresh = (
        F.coalesce(
            F.create_map(*pairs)[F.col(strata_col)],
            F.lit(round(default * _DENOM)),
        )
        if pairs
        # round, not truncate, in BOTH branches: the same default must
        # yield the same threshold whether fractions is empty or not
        # (r14 advice find — int() here reintroduced the truncation bias)
        else F.lit(round(default * _DENOM))
    )
    return df.filter(F.pmod(hash_fn(F.col(key_col), seed), F.lit(_DENOM)) < thresh)


def pack_training_examples(
    df: DataFrame,
    budget: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    seed: int = 0,
    hash_fn=md5_hash64,
    bucket_bits: int = 12,
) -> DataFrame:
    """Sequence packing for pretraining batches: concatenate every document's
    tokens in a deterministic shuffle order and chunk the stream into
    fixed-``budget``-token training examples (documents MAY span an example
    boundary — the standard GPT-style pack-then-chunk, not bin packing).
    Returns one row per document with its place in the packed stream:

    * ``n_tokens`` — whitespace token count (or ``tokens_col`` if the
      pipeline already counted, e.g. with a real BPE);
    * ``start_offset`` — the doc's first token's position in the global
      concatenated stream (0-based; consecutive docs tile it exactly);
    * ``first_example`` / ``last_example`` — ids of the fixed-size examples
      the doc lands in (``start_offset DIV budget`` .. ``(end-1) DIV
      budget``; empty docs carry ``first_example`` in both).

    Order is ``(hash(id, seed), id)`` — the same engine/partitioning/rerun-
    independent permutation as ``deterministic_shuffle``, so re-exporting a
    grown corpus moves only the docs whose hashes interleave, not everything.

    Scale shape (two-phase, no global window — the same plan family as
    ``deterministic_shuffle`` and plans/sweep.py): the hash's high
    ``bucket_bits`` form uniform buckets that PREFIX the total order; the
    running token sum is a per-bucket window plus one broadcast prefix
    offset per bucket (2^bits summary rows) — a ``bucketed_scan`` sum. A row
    with a NULL id has no place in the order and is dropped
    (``_order_hash``). Token counting is a row-local JVM expression;
    integer arithmetic end-to-end (oracle-exact).
    """
    from pyranges_1_x_spark.plans.interval_join import floordiv

    if budget <= 0:
        raise ValueError("budget must be a positive token count")
    if not 1 <= bucket_bits <= 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    if tokens_col is not None:
        nt = F.col(tokens_col).cast("long")
    else:
        from pyranges_1_x_spark.ml.text import nonempty_tokens

        # NULL text counts 0 tokens: a bare size(NULL) is NULL, which would
        # give this doc NULL offsets while the window sums silently skip it
        # (r14 review find); zero keeps the tiling invariant exact.
        nt = F.coalesce(
            F.size(nonempty_tokens(F.col(text_col))), F.lit(0)
        ).cast("long")
    shift = _bucket_shift(hash_fn, bucket_bits)
    d = (
        df.select(F.col(id_col), nt.alias("__nt__"))
        .withColumn("__h__", _order_hash(hash_fn, id_col, seed))
        .withColumn("__bkt__", F.shiftright("__h__", shift))
    )
    order = [F.col("__h__").asc(), F.col(id_col).asc()]
    out = bucketed_scan(d, [], "__bkt__", [Scan("__end__", "sum", "__nt__", order)])
    end = F.col("__end__")
    start = end - F.col("__nt__")
    first_ex = floordiv(start, budget).cast("long")
    return out.select(
        F.col(id_col),
        F.col("__nt__").alias("n_tokens"),
        start.cast("long").alias("start_offset"),
        first_ex.alias("first_example"),
        F.when(F.col("__nt__") > 0, floordiv(end - 1, budget).cast("long"))
        .otherwise(first_ex)
        .alias("last_example"),
    )


def _grouped_prefix_keep(
    df, group_col, key_col, seed, hash_fn, bucket_bits, measure, limit
):
    """Shared two-phase engine of the quota pair: per ``group_col``, the
    running total of ``measure`` (a Column; ``lit(1)`` makes it a rank) in
    ascending ``(hash(key_col, seed), key_col)`` order, keeping only rows
    whose INCLUSIVE running total is <= ``limit``. One
    ``plans/sweep.py:bucketed_scan`` sum per group over the hash's high
    ``bucket_bits`` (summary <= #groups * 2^bits rows). A NULL group
    (missing domain/source) is a quota group of its own; a row with a NULL
    key leaves the order (``_order_hash``).

    Returns the input columns + ``__m__`` (the row's measure) + ``__run__``
    (the group's inclusive running total at this row).
    """
    if limit < 0:
        raise ValueError("the quota limit must be non-negative")
    if not 1 <= bucket_bits <= 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    shift = _bucket_shift(hash_fn, bucket_bits)
    d = (
        df.withColumn("__m__", measure)
        .withColumn("__h__", _order_hash(hash_fn, key_col, seed))
        .withColumn("__bkt__", F.shiftright("__h__", shift))
    )
    order = [F.col("__h__").asc(), F.col(key_col).asc()]
    out = bucketed_scan(d, [group_col], "__bkt__", [Scan("__run__", "sum", "__m__", order)])
    return out.filter(F.col("__run__") <= limit).select(*df.columns, "__m__", "__run__")


def quota_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_fn=md5_hash64,
    out_col: str | None = None,
    bucket_bits: int = 12,
) -> DataFrame:
    """Per-group deterministic quota — the domain/source-balancing stage of a
    corpus mix: keep at most ``cap`` rows per ``group_col`` value (web domain,
    crawl source, language), chosen by ascending ``(hash(key, seed), key)``
    so the SAME rows survive on any engine, partitioning, or rerun, and a
    grown corpus evicts only rows whose hashes interleave past the cap.
    Differs from ``stratified_sample`` (a per-stratum FRACTION) in giving a
    hard per-group COUNT — the shape used to stop a single crawl domain from
    dominating the training mix. ``out_col`` optionally keeps the 1-based
    within-group rank.

    Physical plan: ``_grouped_prefix_keep`` with measure ``lit(1)`` (a
    running count IS a rank under a total order) — see the helper for the
    two-phase bucketed shape and the NULL rules.
    """
    kept = _grouped_prefix_keep(
        df, group_col, key_col, seed, hash_fn, bucket_bits, F.lit(1).cast("long"), cap
    )
    # out_col substitutes IN PLACE when it names an existing column (the
    # scrub_pii/strip_repeated_substrings convention) — appending it too
    # would emit a duplicate-named column (review find, r12).
    keep = list(df.columns) + ([out_col] if out_col and out_col not in df.columns else [])
    if out_col:
        kept = kept.withColumn(out_col, F.col("__run__"))
    return kept.select(*keep)


def token_quota_sample(
    df: DataFrame,
    group_col: str,
    token_budget: int,
    key_col: str = "doc_id",
    *,
    text_col: str = "text",
    tokens_col: str | None = None,
    seed: int = 0,
    hash_fn=md5_hash64,
    bucket_bits: int = 12,
) -> DataFrame:
    """Per-group TOKEN-budget quota — ``quota_sample``'s sibling where the
    cap is what actually matters to a training mix: keep documents per
    group (domain, source, language) in ascending ``(hash(key, seed),
    key)`` order until the group's cumulative token count would exceed
    ``token_budget``; the first overflowing doc and everything after it (in
    that deterministic order) are dropped. Membership is a prefix of the
    group's hash order, so the same budget reproduces the same mix
    anywhere, and a grown corpus only moves docs whose hashes interleave
    before the cut. Emits the input row plus ``n_tokens``.

    Physical plan: ``_grouped_prefix_keep`` with the token count as the
    measure (the pack_training_examples decomposition, per group) — see
    the helper for the two-phase bucketed shape and the NULL rules.
    """
    if tokens_col is not None:
        nt = F.col(tokens_col).cast("long")
    else:
        from pyranges_1_x_spark.ml.text import nonempty_tokens

        # NULL text counts 0 tokens (see pack_training_examples)
        nt = F.coalesce(
            F.size(nonempty_tokens(F.col(text_col))), F.lit(0)
        ).cast("long")
    kept = _grouped_prefix_keep(
        df, group_col, key_col, seed, hash_fn, bucket_bits, nt, token_budget
    )
    # n_tokens substitutes IN PLACE when the input already carries that
    # column (the quota_sample out_col convention) — appending it too would
    # emit a duplicate-named column (r14 review find, the same class the
    # r12 quota_sample fix covered).
    out_cols = [
        F.col("__m__").alias("n_tokens") if c == "n_tokens" else F.col(c)
        for c in df.columns
    ]
    if "n_tokens" not in df.columns:
        out_cols.append(F.col("__m__").alias("n_tokens"))
    return kept.select(*out_cols)


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_fn=md5_hash64,
    out_col: str = "shuffle_rank",
    bucket_bits: int = 12,
) -> DataFrame:
    """Reproducible global shuffle order for training-data export: rank rows
    by ``(hash(key, seed), key)`` — the same permutation on any engine, any
    partitioning, any rerun, unlike ``orderBy(rand())``. Changing ``seed``
    draws an independent permutation. Write sharded output with
    ``repartitionByRange(out_col).sortWithinPartitions(out_col)``.

    Scale shape (two-phase, no global window): the hash's high
    ``bucket_bits`` form 2^bits uniform buckets that are a PREFIX of the
    total order, so rank = per-bucket ``row_number`` + a broadcast prefix
    offset from one summary row per bucket — the ``bucketed_scan`` row_number
    that ``sort_ranges(rank_col=...)`` also uses, here with provably balanced
    buckets because the bucket key is a hash prefix. A row with a NULL key
    is dropped (``_order_hash``).
    """
    if not 1 <= bucket_bits <= 40:
        raise ValueError("bucket_bits must be in [1, 40]")
    shift = _bucket_shift(hash_fn, bucket_bits)
    d = df.withColumn("__h__", _order_hash(hash_fn, key_col, seed)).withColumn(
        "__bkt__", F.shiftright("__h__", shift)
    )
    order = [F.col("__h__").asc(), F.col(key_col).asc()]
    return bucketed_scan(d, [], "__bkt__", [Scan(out_col, "row_number", None, order)]).drop(
        "__h__", "__bkt__"
    )
