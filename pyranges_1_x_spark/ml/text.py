"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in Spark SQL functions (JVM-side, codegen) — no
Python UDFs: tokenization is `split`, fingerprints are `md5`/`xxhash64`,
ratios are column arithmetic. Everything scales as embarrassingly-parallel
row-local work plus at most one hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark.plans.qcache import free_checkpoint

#: Tiny english stopword list for quality heuristics (deterministic, no deps).
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

#: Word-ish tokenizer: runs of word characters.
TOKEN_PATTERN = r"\s+"

#: GPT-2-style BPE pre-tokenizer (public: the openai/gpt-2 encoder regex),
#: restricted to the Java-regex/RE2 common subset so Spark and DuckDB
#: tokenize identically: contraction suffixes, space-prefixed letter runs,
#: digit runs, punctuation runs, whitespace runs. (The original's
#: ``\s+(?!\S)`` lookahead is dropped — RE2 has no lookahead — so a
#: whitespace run groups as one pre-token instead of splitting its last
#: space onto the next word; counts shift only for multi-space runs.)
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)

#: Python-`re` twin of BPE_PRETOKEN_PATTERN (stdlib re has no \p classes):
#: letters = [^\W\d_], numbers ~= \d, punct-run = not-word-or-underscore —
#: token-for-token parity with the Java pattern is pinned by
#: tests (incl. unicode letters and the space-then-apostrophe case a naive
#: in-class \p substitution gets wrong). Used by the bpe_apply kernel.
BPE_PRETOKEN_PATTERN_PY = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+"
)


def tokens(text: Column) -> Column:
    """Whitespace tokens of a text column (JVM split, no UDF)."""
    return F.split(F.trim(text), TOKEN_PATTERN)


def nonempty_tokens(text: Column, *, lowercase: bool = False) -> Column:
    """Whitespace tokens with empties dropped (so empty/whitespace-only text
    counts ZERO tokens, unlike raw ``split`` which yields ``['']``). The ONE
    tokenizer shared by repetition_stats / tfidf_top_terms / sequence
    packing — a single definition keeps their token counts synchronized
    over the same corpus (review find, r12)."""
    t = F.lower(F.trim(text)) if lowercase else F.trim(text)
    return F.filter(F.split(t, TOKEN_PATTERN), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_pretokens(text: Column) -> Column:
    """BPE pre-tokens (the units a byte-pair encoder would merge within) —
    JVM-side ``regexp_extract_all``, no UDF."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    """Pre-token count — the standard cheap proxy for an exact BPE token
    budget when sizing a training mix (exact merges need the vocab; run
    them in a mapInPandas kernel if a tokenizer model is shipped)."""
    return F.size(bpe_pretokens(text))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_k: int | None = None,
) -> DataFrame:
    """Adjacent character-pair frequencies WITHIN BPE pretokens — the
    corpus statistic the first merge step of byte-pair-encoding tokenizer
    training maximizes (Sennrich/Haddow/Birch, "Neural Machine Translation
    of Rare Words with Subword Units", ACL 2016: merge the most frequent
    symbol pair; this operator computes that frequency table over a
    distributed corpus). One row per distinct (lhs, rhs) character pair
    with its total occurrence count across all pretoken occurrences
    (weighted by frequency, the BPE convention — pairs never cross
    pretoken boundaries). ``top_k`` keeps the k most frequent under the
    deterministic total order (count desc, lhs, rhs) and adds a 1-based
    ``merge_rank`` — rank 1 is the pair the first merge would fuse.

    Subsequent merge rounds re-run this count over the re-symbolized
    corpus (symbols grow beyond single chars); the per-round statistic is
    the same shape, so training loops this operator.

    Scale shape: pretokens explode (linear in corpus characters), pairs
    are a row-local zip_with over the char array (no per-position
    substring scans), and the count is one map-side-combinable hash agg
    whose key space is vocabulary-bounded (<= alphabet^2 pairs); top-k is
    TakeOrdered over that bounded relation, never a global sort. Zero
    UDFs, zero driver loops.
    """
    pt = df.select(
        F.explode(bpe_pretokens(F.col(text_col))).alias("__pt__")
    ).filter(F.length("__pt__") >= 2)
    chars = pt.select(F.split(F.col("__pt__"), "").alias("__ch__"))
    pairs = chars.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("__ch__"), 1, F.size("__ch__") - 1),
                F.slice(F.col("__ch__"), 2, F.size("__ch__") - 1),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            )
        ).alias("__p__")
    )
    counts = pairs.groupBy(
        F.col("__p__.lhs").alias("lhs"), F.col("__p__.rhs").alias("rhs")
    ).agg(F.count(F.lit(1)).alias("pair_count"))
    if top_k is None:
        return counts
    from pyspark.sql import Window

    top = counts.orderBy(
        F.col("pair_count").desc(), F.col("lhs").asc(), F.col("rhs").asc()
    ).limit(top_k)
    w = Window.orderBy(
        F.col("pair_count").desc(), F.col("lhs").asc(), F.col("rhs").asc()
    )
    return top.withColumn("merge_rank", F.row_number().over(w).cast("long"))


def _merge_adjacent(symbols: Column, lhs: str, rhs: str) -> Column:
    """Apply ONE BPE merge to a symbol array, row-locally: greedy
    left-to-right fusion of adjacent (lhs, rhs) into lhs||rhs — the fused
    symbol never re-pairs with a following rhs in the same pass (its value
    is lhs||rhs, not lhs), which is exactly the BPE convention."""
    fused = F.lit(lhs + rhs)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (s == F.lit(rhs)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    *,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    merge_batch: int = 1,
) -> list[tuple[str, str]]:
    """Train a BPE merge table over a distributed corpus (Sennrich et al.
    2016): ``n_merges`` rounds of count-pairs -> pick the most frequent
    (deterministic (count desc, lhs, rhs) tie-break) -> fuse it corpus-wide.
    Returns the merge list in rank order — the merge table IS the model.
    Stops early when no pair reaches ``min_pair_count``. For production
    vocabularies set ``merge_batch=8``: wall-clock is driven by the Spark
    JOB count, not data size; batching provably preserves the sequential
    merge table, cut realized jobs 2.3x (2127 -> 928) at a measured 1000
    merges, and returns saturate by batch 8 (batch 32 realized the SAME
    job count — the strict-drop rule truncates on ties; SCALING.md r15).

    Scale shape (the shape real distributed BPE trainers use): the corpus
    collapses ONCE to the distinct-pretoken relation with occurrence
    counts — per-round work is per DISTINCT pretoken (vocabulary-bounded),
    weighted by count, no matter how many tokens the corpus has. Each round
    is one map-side-combinable pair-count aggregation + a TakeOrdered(1)
    (ONE row reaches the driver) + a row-local symbol-array rewrite; the
    iterated relation is lineage-truncated every ``checkpoint_every``
    rounds (the connected-components discipline), and each new checkpoint
    unpersists its predecessor so a long run holds ONE cached relation,
    not ``n_merges / checkpoint_every`` of them (r14, ADVICE r13).

    Wall-clock cost model (r14, VERDICT r13 #5): a 100 TB corpus pays the
    pretoken collapse once and the loop then runs on megabytes — but the
    loop is inherently SEQUENTIAL (merge r+1's pair counts depend on merge
    r's fusion), so ``n_merges`` is the number of Spark jobs, and at a
    production vocabulary (32k merges = 32k ~100ms-1s jobs) the ROUND COUNT
    is the wall-clock driver, not data size. ``merge_batch`` amortizes it:
    per round, apply the top-B pairs by count that are pairwise
    DISJOINT-SAFE — no pair shares a symbol with, or is adjacent-composable
    from, an earlier pick — so each batched fusion provably cannot change
    any other picked pair's count, and the batched table equals the
    sequential table symbol-for-symbol (pinned by the parity test in
    tests/test_ml_and_seqs.py). merge_batch=1 (default) is the textbook
    loop; merge_batch=B cuts jobs up to B-fold on real Zipf corpora
    (interleaved r14 measurement, 64 merges at sf0.01: batch=8 9.5-13.2s
    vs sequential 15.8-20.7s, merge tables identical — early merges batch
    well, the tail degenerates toward sequential as counts tie).
    """
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if merge_batch < 1:
        raise ValueError("merge_batch must be >= 1")
    words = (
        df.select(F.explode(bpe_pretokens(F.col(text_col))).alias("__pt__"))
        .groupBy("__pt__")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .select(F.split(F.col("__pt__"), "").alias("__sym__"), "__n__")
        .localCheckpoint()
    )
    anchor = words  # the currently-persisted checkpoint (unpersist on rotate)
    merges: list[tuple[str, str]] = []
    rewrites_since_ckpt = 0
    while len(merges) < n_merges:
        pairs = words.filter(F.size("__sym__") >= 2).select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("__sym__"), 1, F.size("__sym__") - 1),
                    F.slice(F.col("__sym__"), 2, F.size("__sym__") - 1),
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("__p__"),
            "__n__",
        )
        want = min(merge_batch, n_merges - len(merges))
        # want+1 rows: the (k+1)-th pair is the strictness competitor below.
        top = (
            pairs.groupBy(F.col("__p__.lhs").alias("lhs"), F.col("__p__.rhs").alias("rhs"))
            .agg(F.sum("__n__").alias("c"))
            .orderBy(F.col("c").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(want + 1)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_count:
            break
        # Batched-merge safety (provably == sequential; parity-pinned):
        # the batch must be a PREFIX p1..pk of this round's rank order with
        # (i) pairwise symbol-disjoint pairs — so fusing any batch pair
        # cannot change another batch pair's count; (ii) count(pk)
        # STRICTLY greater than the (k+1)-th pair's count; and (iii) every
        # pick pj STRICTLY out-counting floor(ci/2) for each earlier
        # SELF-pair pick pi = (a,a). Why these suffice: every non-batch
        # pair ranks <= p_{k+1} (prefix + (i): an overlapping pair inside
        # the prefix truncates the batch before it), existing pair counts
        # only decrease under fusion, and every NEW pair spawned by fusing
        # (a,b) is bounded either by the count of an existing pair sharing
        # a symbol with (a,b) — outside the batch by (i), hence < count(pk)
        # by (ii) — or, for the one self-bounded case (aa,aa) spawned by a
        # SELF pick (a,a) ("aaaa" -> "aa aa": no distinct existing pair
        # witnesses it), by floor(count(a,a)/2), which (iii) keeps below
        # every later pick. So the sequential trainer provably picks
        # exactly p1..pk in this order.
        batch: list[tuple[str, str]] = []
        used: set[str] = set()
        self_bound = -1  # max floor(ci/2) over picked self-pairs
        for row in top[:want]:
            if (
                row["c"] < min_pair_count
                or row["lhs"] in used
                or row["rhs"] in used
                or row["c"] <= self_bound
            ):
                break
            batch.append((row["lhs"], row["rhs"]))
            used.add(row["lhs"])
            used.add(row["rhs"])
            if row["lhs"] == row["rhs"]:
                self_bound = max(self_bound, row["c"] // 2)
        while (
            len(batch) > 1
            and len(top) > len(batch)
            and top[len(batch)]["c"] >= top[len(batch) - 1]["c"]
        ):
            batch.pop()
        merges.extend(batch)
        col = F.col("__sym__")
        for lhs, rhs in batch:
            col = _merge_adjacent(col, lhs, rhs)
        words = words.select(col.alias("__sym__"), "__n__")
        rewrites_since_ckpt += 1
        if rewrites_since_ckpt >= checkpoint_every:
            new_anchor = words.localCheckpoint()
            # The new checkpoint is materialized (eager); the old one's
            # blocks are dead weight — free them NOW instead of leaving
            # n_merges/checkpoint_every relations to ContextCleaner
            # (ADVICE r13; the naive DataFrame.unpersist() is a no-op on
            # local checkpoints — see plans/qcache.py:free_checkpoint).
            free_checkpoint(anchor)
            words = anchor = new_anchor
            rewrites_since_ckpt = 0
    # r16: only the merge LIST escapes this function — the final anchor's
    # checkpoint blocks are dead weight the moment the loop exits. Free them
    # here instead of leaking them for the session (VERDICT r15 #1 class).
    free_checkpoint(anchor)
    return merges


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Segment text with a trained BPE merge table: pretokenize with the
    shared GPT-2-style regex, then apply the merges IN RANK ORDER within
    each pretoken (greedy left-to-right per merge — the exact inverse of
    ``bpe_train``'s fusion, so applying a table to its own training corpus
    reproduces the trainer's final symbolization). Appends ``out_col`` as
    ``array<string>``; every other column passes through.

    This is the promised "tokenizer model shipped -> Arrow kernel" path
    (see ``bpe_token_count``): the merge table rides the UDF closure
    (vocabulary-sized), segmentation is a vectorized-batch pandas UDF —
    per-pretoken Python work is bounded by pretoken length, and a
    process-local memo collapses repeated pretokens inside a batch (Zipf
    makes most occurrences repeats)."""
    import re as _re

    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    pat = _re.compile(BPE_PRETOKEN_PATTERN_PY)

    def seg_word(w: str, memo: dict) -> list[str]:
        got = memo.get(w)
        if got is not None:
            return got
        syms = list(w)
        while len(syms) >= 2:
            cand = [
                (ranks[p], i)
                for i, p in enumerate(zip(syms, syms[1:]))
                if p in ranks
            ]
            if not cand:
                break
            rank = min(c[0] for c in cand)
            lhs, rhs = merges[rank]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        memo[w] = syms
        return syms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(texts):
        import pandas as pd

        memo: dict = {}
        return pd.Series(
            [
                None
                if t is None
                else [s for w in pat.findall(t) for s in seg_word(w, memo)]
                for t in texts
            ]
        )

    return df.withColumn(out_col, seg(F.col(text_col)))


def unique_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, F.lower(t))))


def char_count(text: Column) -> Column:
    return F.length(text)


def quality_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document integer quality counters (counts, not ratios, so results are
    float-exact and oracle-comparable; ratios are one division away)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        char_count(t).alias("n_chars_text"),
        token_count(t).alias("n_tokens"),
        unique_token_count(t).alias("n_unique_tokens"),
        stopword_count(t).alias("n_stopwords"),
    )


def char_diversity_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-diversity counters — the gibberish / binary-junk
    detector of a curation pipeline (base64 blobs, minified code, and
    mojibake all sit at diversity extremes): ``n_chars``,
    ``n_distinct_chars``, ``top_char_count`` (the modal character's
    occurrences), and ``simpson_num`` = Σ count(c)² — the numerator of the
    Simpson/collision index, whose ratio to n² plays Shannon entropy's role
    as a concentration signal WITHOUT a logarithm. Deliberate, again: a
    per-doc entropy would sum transcendental logs in arbitrary order
    (engine/partition-dependent at the ulp), while these are exact integers
    and the index is one division away — the lm_score / tf-idf determinism
    argument applied to the character axis.

    Scale shape: one character explode per doc (rows = total corpus chars,
    the same relation the gram hasher reads) into a per-(doc, char) count
    and a per-doc aggregation — both map-side partial; no joins, no
    windows, no UDFs.
    """
    did = F.col(id_col)
    chars = df.select(
        did, F.explode(F.split(F.col(text_col), "")).alias("__ch__")
    ).filter(F.col("__ch__") != "")
    per = chars.groupBy(id_col, "__ch__").agg(F.count(F.lit(1)).alias("__c__"))
    agg = per.groupBy(id_col).agg(
        F.sum("__c__").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.max("__c__").cast("long").alias("top_char_count"),
        F.sum(F.col("__c__") * F.col("__c__")).cast("long").alias("simpson_num"),
    )
    return df.select(did).join(agg, on=id_col, how="left").select(
        did,
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_chars", "n_distinct_chars", "top_char_count", "simpson_num")
        ],
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                threshold: float = 0.05) -> DataFrame:
    """N-gram-free heuristic language ID: english iff stopword ratio exceeds
    ``threshold`` (a real model would plug in per-language stopword tables —
    the Spark plumbing is identical)."""
    t = F.col(text_col)
    ratio = stopword_count(t) / F.greatest(token_count(t), F.lit(1))
    return df.select(
        F.col(id_col),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("unknown")).alias("pred_lang"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the content (exact-dup key)."""
    return F.md5(text)


def bow_signature(text: Column) -> Column:
    """Bag-of-words signature: md5 over the sorted distinct token multiset —
    equal for token-permuted near-duplicates (order-insensitive dedup key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def _gram_chunks(t: Column, k: int) -> tuple[Column, Column]:
    """The sqrt-chunk rule shared by both gram forms. Per-element
    ``substring(s, pos, n)`` is O(pos) on UTF8String, so hashing grams
    straight off the document is O(len^2) per doc; cutting it into
    ``c = ceil(sqrt(n_grams))``-gram-start chunks keeps the total char scans
    at O(len^1.5). Returns ``(c, chunk indices 0..n_chunks-1)``. A text
    shorter than ``k`` (or NULL) counts one gram, so it yields one chunk."""
    n_grams = F.greatest(F.length(t) - k + 1, F.lit(1))
    c = F.greatest(F.ceil(F.sqrt(n_grams)).cast("int"), F.lit(1))
    n_chunks = F.ceil(n_grams / c).cast("int")
    return c, F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))


def _chunk_text(t: Column, j: Column, c: Column, k: int) -> Column:
    """Chunk ``j``: its ``c`` gram starts plus the k-1 chars that finish the
    last gram (the last chunk's substring is truncated to just cover its own
    gram starts)."""
    return F.substring(t, j * c + 1, c + k - 1)


def _chunk_gram_starts(ch: Column, k: int) -> Column:
    """0-based gram starts in chunk ``ch``: length(ch)-k+1 of them, exact for
    every chunk; greatest(..,1) gives a sub-k text its one position-0 gram
    of the whole (short) text."""
    return F.sequence(F.lit(0), F.greatest(F.length(ch) - k + 1, F.lit(1)) - 1)


def chunked_gram_hashes(t: Column, k: int, hash_fn) -> Column:
    """Array of hashes of every character ``k``-gram of the (materialized)
    text column ``t``, position-ordered — the array form, for
    ``winnow_fingerprints``, whose window minimum reads the hashes of one
    document as one array. Sqrt-chunked (``_gram_chunks``). Each chunk is a
    bound, materialized lambda variable (higher-order functions get no CSE —
    the r8/r10 lesson; ``t`` itself must be a column reference, not an
    inlined expression).

    The lambdas make this form CodegenFallback (interpreted, boxed). A
    consumer that wants one row per gram uses ``gram_hash_rows`` instead:
    the same (position, hash) pairs from explodes and a plain projection,
    which compile."""
    c, chunk_idx = _gram_chunks(t, k)
    chunks = F.transform(chunk_idx, lambda j: _chunk_text(t, j, c, k))

    def _chunk_hashes(ch: Column) -> Column:
        return F.transform(
            _chunk_gram_starts(ch, k), lambda i: hash_fn(F.substring(ch, i + 1, k))
        )

    return F.flatten(F.transform(chunks, _chunk_hashes))


def gram_hash_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, hash_fn
) -> DataFrame:
    """One ``(id_col, __pos__, __h__)`` row per character ``k``-gram of
    ``text_col``: the row form of ``posexplode(chunked_gram_hashes(...))``,
    the same multiset bit for bit (``__pos__`` is the 0-based gram start).

    The documents are first spread over ``defaultParallelism`` partitions
    by id: a scan of few files reads as one split, which would run the
    whole gram stage in one task. A user-numbered repartition is exempt
    from AQE coalescing (the ``shingle_rows`` discipline), and it moves
    text bytes, not gram rows. Then chunk indices and in-chunk gram starts
    explode as plain sequences and each gram is hashed in a projection, so
    the gram stage runs in whole-stage codegen with no lambda."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    t = F.col("__t__")
    c, chunk_idx = _gram_chunks(t, k)
    chunks = (
        df.select(F.col(id_col), F.col(text_col).alias("__t__"))
        .repartition(nparts, id_col)
        .select(F.col(id_col), t, c.alias("__c__"), F.explode(chunk_idx).alias("__j__"))
        .select(
            F.col(id_col),
            (F.col("__j__") * F.col("__c__")).alias("__o__"),
            _chunk_text(t, F.col("__j__"), F.col("__c__"), k).alias("__ch__"),
        )
    )
    ch = F.col("__ch__")
    return chunks.select(
        F.col(id_col), F.col("__o__"), ch, F.explode(_chunk_gram_starts(ch, k)).alias("__i__")
    ).select(
        F.col(id_col),
        (F.col("__o__") + F.col("__i__")).alias("__pos__"),
        hash_fn(F.substring(ch, F.col("__i__") + 1, k)).alias("__h__"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    window: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS scheme): hash every character k-gram, slide a ``window`` over
    consecutive positions, and keep a k-gram iff it is the minimum of the
    window ENDING at its position. The selected set is a position-robust
    sketch: near-duplicate documents share most fingerprints even under
    insertions/deletions, unlike whole-document hashes.

    All codegen and fully ROW-LOCAL: the k-gram hashes of a document are one
    array column, the per-position window minimum is an ``array_min`` over a
    ``slice`` of that array (the window ENDING at each position), selection
    and per-document dedup happen inside the same row (``array_distinct``),
    and only the selected fingerprints ever become rows. Returns distinct
    (id, fp) rows. ``hash_fn`` defaults to xxhash64; pass ``md5_hash64`` for
    the engine-portable oracle twin.

    r15 (optimization round): the previous shape posexploded EVERY gram
    position to a row, shuffled them all by doc_id for a rows-frame Window
    min, then shuffled the survivors again for ``distinct`` — two full
    Exchanges of the n_grams-sized relation to compute something that never
    leaves the document. Both the window min and the dedup are per-document,
    so they run as array expressions inside the row: zero Exchanges, and the
    explode emits only the ~2/(window+1) selected gram fraction. The
    per-position ``slice`` + ``array_min`` does O(window) comparisons per
    gram (window is a small constant) against the hash array — no text
    copying — and ``__hs__`` is materialized in its own projection so the
    lambda references an attribute, not the inlined hash expression (the
    r8/r10 lesson: higher-order functions get no CSE)."""
    if hash_fn is None:
        from pyranges_1_x_spark.ml.dedup import xxhash64_fn

        hash_fn = xxhash64_fn
    # Hash the k-grams row-locally into ONE long array (chunked_gram_hashes:
    # sqrt-chunked substrings keep total char scans O(len^1.5); the array is
    # (id, array<long>) regardless of doc length — the shape that survives
    # book-length documents).
    base = df.select(F.col(id_col), F.trim(F.col(text_col)).alias("__t__"))
    hs = base.select(
        F.col(id_col), chunked_gram_hashes(F.col("__t__"), k, hash_fn).alias("__hs__")
    )
    h = F.col("__hs__")
    # Position p (1-based): the window covers positions
    # [greatest(p-window+1, 1), p]. ``window`` is a plain Python int, so the
    # window min unrolls to F.least over `window` element_at calls — O(1)
    # array lookups, no per-position slice allocation (a slice+array_min
    # formulation A/B'd as a wash: the n_grams tiny-array allocations ate
    # the win). least() skips the NULL guards at p <= j, so the boundary
    # windows are exact. Keep h[p] iff it equals that window's min —
    # identical to the rows-frame Window.min selection, position for
    # position. array_distinct replaces the old global .distinct(): the
    # output key is (id, fp) and fp dedup never crosses documents.
    def _wmin(p):
        if window <= 1:
            # window=1: every position is its own window minimum (every gram
            # selected) — and F.least needs >= 2 columns (ADVICE r15).
            return F.element_at(h, p)
        return F.least(
            F.element_at(h, p),
            *[F.when(p > F.lit(j), F.element_at(h, p - j)) for j in range(1, window)],
        )

    fps = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(h)),
                lambda p: F.when(F.element_at(h, p) == _wmin(p), F.element_at(h, p)),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return hs.select(F.col(id_col), F.explode(fps).alias("fp"))


def filter_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_chars: int = 200,
    min_tokens: int = 20,
    min_unique_ratio: float = 0.0,
    min_stopword_ratio: float = 0.0,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Quality-gate a corpus: per-doc ``keep`` flag plus the FIRST failing
    check as an auditable ``drop_reason`` (too_short -> too_few_tokens ->
    low_unique_ratio -> low_stopword_ratio, NULL when kept) — the
    filter stage a training pipeline runs between scraping and mixing,
    with reasons preserved so drop-rate dashboards can attribute loss.

    Pure column expressions over one scan; ratios are integer-count
    divisions, so Spark and an oracle engine agree bit-for-bit.
    """
    t = F.col(text_col)
    c = char_count(t)
    n = token_count(t)
    u = unique_token_count(t)
    sw = stopword_count(t, stopwords)
    nn = F.greatest(n, F.lit(1))
    reason = (
        F.when(c < min_chars, F.lit("too_short"))
        .when(n < min_tokens, F.lit("too_few_tokens"))
        .when(u / nn < min_unique_ratio, F.lit("low_unique_ratio"))
        .when(sw / nn < min_stopword_ratio, F.lit("low_stopword_ratio"))
    )
    return df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition counters per document (Rae et al. 2021,
    "Scaling Language Models" §A.1.1 quality heuristics): the duplicate-line
    and repeated-n-gram signals a training pipeline thresholds to drop
    boilerplate/spam pages. Integer COUNTS, not ratios, so results are
    oracle-exact; the published fractions are one division away:

    * ``n_lines`` — non-empty trimmed lines;
    * ``n_dup_line_occ`` — line occurrences beyond each line's first
      (``n_lines - distinct lines``; dup-line fraction = this / n_lines);
    * ``n_chars_dup_lines`` — characters in those surplus occurrences
      (the "fraction of characters in duplicate lines" numerator);
    * ``n_2grams`` — word 2-gram occurrences (lowercased whitespace tokens);
    * ``top_2gram_count`` — occurrences of the most frequent 2-gram
      (top-n-gram fraction numerator);
    * ``n_dup_2gram_occ`` — ALL occurrences of 2-grams appearing more than
      once (Gopher counts every occurrence of a duplicated n-gram).

    Scale shape: lines and 2-grams EXPLODE to rows and aggregate twice
    (per-(doc, unit) then per-doc) rather than nesting higher-order-function
    counting loops row-locally — the exploded relation is linear in corpus
    token count and partial aggregation is map-side, so book-length documents
    cost O(tokens), not O(distinct x occurrences) per row. Both branches
    shuffle on ``id_col`` and join co-partitioned. Zero UDFs.
    """
    did = F.col(id_col)
    base = df.select(did, F.col(text_col).alias("__t__"))

    lines = base.select(
        did, F.explode(F.split(F.col("__t__"), "\n")).alias("__l0__")
    ).select(did, F.trim(F.col("__l0__")).alias("__line__"))
    lines = lines.filter(F.col("__line__") != "")
    lg = lines.groupBy(did, "__line__").agg(F.count(F.lit(1)).alias("__c__"))
    ls = lg.groupBy(did).agg(
        F.sum("__c__").cast("long").alias("n_lines"),
        F.sum(F.col("__c__") - 1).cast("long").alias("n_dup_line_occ"),
        F.sum((F.col("__c__") - 1) * F.length("__line__"))
        .cast("long")
        .alias("n_chars_dup_lines"),
    )

    toks = nonempty_tokens(F.col("__t__"), lowercase=True)
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    g0 = base.select(did, F.explode(grams).alias("__g__"))
    gg = g0.groupBy(did, "__g__").agg(F.count(F.lit(1)).alias("__c__"))
    gs = gg.groupBy(did).agg(
        F.sum("__c__").cast("long").alias("n_2grams"),
        F.max("__c__").cast("long").alias("top_2gram_count"),
        F.sum(F.when(F.col("__c__") > 1, F.col("__c__")).otherwise(0))
        .cast("long")
        .alias("n_dup_2gram_occ"),
    )

    out = (
        df.select(did)
        .join(ls, on=id_col, how="left")
        .join(gs, on=id_col, how="left")
    )
    zeros = [
        "n_lines",
        "n_dup_line_occ",
        "n_chars_dup_lines",
        "n_2grams",
        "top_2gram_count",
        "n_dup_2gram_occ",
    ]
    return out.select(
        did, *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in zeros]
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf — the keyword
    extraction / topic-tagging stage of a corpus curation pipeline.

    The idf factor is the LOG-FREE BM25 rational ``(N - df + 0.5) /
    (df + 0.5)`` (Robertson/Sparck Jones probabilistic idf ARGUMENT, i.e.
    BM25's idf before the log). Chosen deliberately: per-term ranking under
    a fixed tf is order-identical to the logged form (log is monotone), and
    the score stays inside IEEE +-*/ arithmetic, so any SQL engine computes
    bit-identical doubles — a transcendental ``ln`` differs at the ulp
    between libm implementations and would break exact cross-engine
    verification. Ties (equal score) break on ascending term.

    Scale shape: tokenize-explode -> per-(doc, term) count (map-side partial
    agg) -> per-term document frequency -> term-keyed join back -> bounded
    per-doc top-k window. The only non-doc-keyed exchange is the df join on
    ``term``; stopword-like terms make it skewed, which is exactly the AQE
    skew-join case (and the df side is vocabulary-sized — ~millions of rows
    at 100 TB — so AQE broadcasts it long before the corpus stops fitting).
    Zero UDFs; no ``collect``.
    """
    did = F.col(id_col)
    toks = df.select(
        did,
        F.explode(nonempty_tokens(F.col(text_col), lowercase=True)).alias("term"),
    )
    tf = toks.groupBy(did, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("__df__"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n__"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                (F.col("__n__") - F.col("__df__") + F.lit(0.5))
                / (F.col("__df__") + F.lit(0.5))
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .select(did, "term", "tf", "score")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split every document into fixed-size token windows (the
    RAG/embedding-indexing chunker): chunk ``c`` covers tokens
    ``[c*(chunk_tokens-overlap), ...)`` — consecutive chunks share
    ``overlap`` tokens so a sentence straddling a boundary is retrievable
    from either side. Returns one row per chunk: ``id_col``, ``chunk_id``
    (0-based), ``chunk_text`` (tokens re-joined with single spaces),
    ``n_tokens`` (tokens in this chunk; only the last chunk is short),
    ``token_start`` (the chunk's first-token offset in the doc). Empty/
    whitespace-only docs produce no chunks; a doc shorter than
    ``chunk_tokens`` produces exactly one.

    Scale shape: entirely row-local — tokenize once into a materialized
    array column, slice windows with a bound-variable transform (no
    re-tokenization per chunk, the HOF-CSE rule), explode. No shuffle at
    all; composes with scan pruning untouched. Chunk identity is
    (id, chunk_id), deterministic on any partitioning.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    step = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col), nonempty_tokens(F.col(text_col)).alias("__tk__")
    ).filter(F.size("__tk__") > 0)
    tk = F.col("__tk__")
    # chunk starts: 0, step, 2*step, ... while start < n (last chunk may be
    # short but never empty; an overlap-only tail that would start past the
    # end is not emitted)
    n = F.size(tk)
    # Emit chunk c iff it introduces at least one token beyond the previous
    # chunk's overlap: c*step < n - overlap, so n_chunks =
    # ceil((n - overlap) / step) — clamped to 1 below so a doc shorter than
    # the overlap still produces its single (short) chunk.
    n_chunks = F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda c: F.struct(
            c.cast("long").alias("chunk_id"),
            (c * step).cast("long").alias("token_start"),
            F.slice(tk, c * step + 1, chunk_tokens).alias("toks"),
        ),
    )
    out = toked.select(F.col(id_col), F.explode(chunks).alias("__c__"))
    return out.select(
        F.col(id_col),
        F.col("__c__.chunk_id").alias("chunk_id"),
        F.concat_ws(" ", F.col("__c__.toks")).alias("chunk_text"),
        F.size(F.col("__c__.toks")).cast("long").alias("n_tokens"),
        F.col("__c__.token_start").alias("token_start"),
    )


def _rebuild_docs(tagged, kept: Column, id_col: str, sep: str, elem: str):
    """Per-doc reassembly aggregate shared by remove_boilerplate_lines /
    dedup_paragraphs: collect the kept (position, fragment) structs, sort by
    position (deterministic on any partitioning), join with ``sep``, and
    count removed/kept fragments."""
    return tagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct(F.col("__pos__"), F.col(elem)))
                    )
                ),
                lambda s: s[elem],
            ),
        ).alias("__ct__"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("__nr__"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("__nk__"),
    )


def _attach_rebuilt_text(df, agg, text_col: str, id_col: str, out_col: str):
    """Join a ``_rebuild_docs`` aggregate back onto ``df`` and emit the
    output columns. Shared tail of remove_boilerplate_lines /
    dedup_paragraphs with two composition rules (both r14 advice finds):

    * ``out_col`` AND ``n_removed`` / ``n_kept`` substitute IN PLACE when
      the input already carries them (the token_quota_sample convention) —
      previously chaining the two documented pipeline stages (boilerplate
      stripping, then paragraph dedup) emitted duplicate count columns and
      an ambiguous-reference AnalysisException on any later use.
    * rows with NULL ``id_col`` pass their text through VERBATIM with
      counts 0: a NULL id has no identity, so it can neither claim a first
      occurrence nor lose one — previously a NULL-id doc could win the
      corpus-wide MIN while its own kept-predicate evaluated to NULL
      (dropping the paragraph from every document with no surviving copy),
      and the equi-join back blanked the NULL-id doc's own text to "".
      Same rule as pack_training_examples / deterministic_shuffle.
    """
    did = F.col(id_col)
    joined = df.join(agg, on=id_col, how="left")  # NULL ids never match
    subs = {
        out_col: F.when(did.isNull(), F.col(text_col)).otherwise(
            F.coalesce(F.col("__ct__"), F.lit(""))
        ),
        "n_removed": F.coalesce(F.col("__nr__"), F.lit(0)).cast("long"),
        "n_kept": F.coalesce(F.col("__nk__"), F.lit(0)).cast("long"),
    }
    cols = [subs[c].alias(c) if c in subs else F.col(c) for c in df.columns]
    cols += [subs[c].alias(c) for c in subs if c not in df.columns]
    return joined.select(*cols)


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-level boilerplate stripping (the C4-style cleanup stage): any
    line whose exact text appears in at least ``min_docs`` DISTINCT
    documents (navigation chrome, cookie banners, boilerplate footers) is
    removed from every document, and each document is reassembled with its
    surviving lines in original order. Blank/whitespace-only lines are kept
    verbatim and never counted — they occur everywhere and dropping them
    would mangle formatting rather than remove boilerplate. Every input
    column passes through untouched (the scrub_pii convention, so pipeline
    stages compose); the rebuilt text lands in ``out_col`` (empty string
    when every line was boilerplate) — pass ``out_col=text_col`` to redact
    in place — plus ``n_removed`` / ``n_kept`` line counts (substituted in
    place if the input already carries them). Rows with NULL ``id_col``
    pass through verbatim (see ``_attach_rebuilt_text``).

    Scale shape: one posexplode scan → distinct-doc line frequency (two
    hash aggregations, map-side partial) → line-keyed join back → one
    per-doc aggregation to reassemble. Zero UDFs; ordering is carried by
    the explode position, so reassembly is deterministic on any
    partitioning.

    The join back DELIBERATELY stays keyed on the line text (VERDICT r14
    #3 considered and measured — SCALING.md, "Text-dedup join-back keying
    (r15)"): unlike
    ``dedup_paragraphs`` (whose keep-set is first-occurrence coordinates
    and therefore re-keyable by doc id), boilerplate membership must meet
    every occurrence BY CONTENT, so an xxhash64-keyed variant still
    exchanges the occurrence text (it is the reassembly payload), saves
    only the frequency relation's text bytes (frequent-lines-only — small
    by construction), leaves the value-frequency skew of a ubiquitous
    line exactly where it was (the AQE skew-join case; no key encoding
    moves occurrences off the hot key), and measured 0.88x/0.79x SLOWER
    at 477 MB / 1.5 MB for the added per-occurrence hashing and the extra
    aggregate.
    """
    did = F.col(id_col)
    lines = df.filter(did.isNotNull()).select(
        did, F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos__", "__ln__")
    )
    blank = F.trim(F.col("__ln__")) == ""
    freq = (
        lines.filter(~blank)
        .groupBy("__ln__")
        .agg(F.countDistinct(id_col).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
    )
    tagged = lines.join(freq, on="__ln__", how="left")
    kept = F.col("__nd__").isNull() | blank
    agg = _rebuild_docs(tagged, kept, id_col, "\n", "__ln__")
    return _attach_rebuilt_text(df, agg, text_col, id_col, out_col)


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-level paragraph dedup (the MassiveText/RefinedWeb curation
    stage between line-level boilerplate stripping and document-level
    dedup): every exact paragraph keeps ONLY its first occurrence in the
    corpus — "first" is the lexicographically smallest (``id_col``,
    paragraph position), deterministic on any partitioning — and every
    later occurrence is dropped; each document is reassembled from its
    surviving paragraphs in original order. Paragraphs are "\\n\\n"-split
    spans (split-on-literal + join-with-literal round-trips any text
    byte-exactly, including runs of 3+ newlines). Blank/whitespace-only
    paragraphs and those under ``min_len`` chars are kept verbatim and
    never deduped. Every input column passes through untouched (the
    scrub_pii convention); the rebuilt text lands in ``out_col`` — pass
    ``out_col=text_col`` to strip in place — plus ``n_removed`` /
    ``n_kept`` paragraph counts (substituted in place if the input already
    carries them, so chaining after ``remove_boilerplate_lines`` is legal).
    Rows with NULL ``id_col`` pass through verbatim (see
    ``_attach_rebuilt_text``). ``id_col`` must uniquely identify rows — it
    is the document key, and duplicate ids already make per-doc reassembly
    (one output row per input row, joined on the id) ill-defined. A doc
    with no "\\n\\n" is one paragraph, so single-paragraph corpora degrade
    to document-level first-occurrence dedup, which is the correct limit.

    Scale shape: one posexplode scan → one paragraph-keyed first-occurrence
    election. r16: the election is a ``row_number() == 1`` window — Spark's
    WindowGroupLimit rewrite runs a partial top-1 per key BEFORE the
    exchange (so like the old MIN-struct partial aggregate it ships ≤1 row
    per distinct paragraph per map partition), but with no SortAggregate:
    the r15 ``min(struct(doc, pos))`` carried a struct aggregation buffer,
    which UnsafeRow-based HashAggregate cannot hold, so BOTH aggregate
    phases silently fell back to SortAggregate — two full sorts of the
    occurrence relation keyed by the paragraph text alone. The window sorts
    by (paragraph, doc, pos) once per exchange side and short-circuits at
    the first row per key; (doc, pos) is unique per occurrence, so the
    top-1 is fully deterministic (r16 interleaved A/B,
    OPTIMIZATION_r16.md §1: B faster 5/5 rounds, min 2.02 → 1.79s at
    sf0.1; SortAggregate 2 → 0, WindowGroupLimit 0 → 2; values identical).
    The key cardinality story is unchanged — the grouping key must be the
    text because exact dedup needs a text comparison somewhere, and the
    partial top-1 bounds that exchange to ~distinct paragraphs carried
    once each — then the
    winner coordinates are re-grouped into a tiny per-doc position list
    (16-byte rows, one output row per doc owning a first occurrence) and
    the occurrence-sized join back is keyed on the DOC ID alone (r15: the
    MIN aggregate already names each distinct paragraph's first occurrence,
    so tagging occurrences only needs "is this (doc, pos) a winner", which
    ``array_contains`` answers against the doc's winner-position list).
    That replaces the r14 text-keyed join — whose exchange carried every
    paragraph's full bytes as the join key on both sides and skewed on a
    mirrored-everywhere paragraph — AND lets the per-doc reassembly
    aggregate REUSE the join's hash-partitioning-by-id, so the
    occurrence-sized relation is exchanged ONCE, not twice. Zero UDFs; no
    all-pairs, no corpus-sized shuffle beyond that single exchange plus
    the distinct-paragraph-bounded aggregate.
    """
    did = F.col(id_col)
    paras = df.filter(did.isNotNull()).select(
        did,
        F.posexplode(F.split(F.col(text_col), "\\n\\n")).alias("__pos__", "__p__"),
    )
    cand = (F.trim(F.col("__p__")) != "") & (F.length("__p__") >= min_len)
    w1 = Window.partitionBy("__p__").orderBy(did.asc(), F.col("__pos__").asc())
    winners = (
        paras.filter(cand)
        .withColumn("__rk1__", F.row_number().over(w1))
        .filter(F.col("__rk1__") == 1)
        .groupBy(did.alias(id_col))
        .agg(F.collect_list("__pos__").alias("__wp__"))
    )
    # A (doc, pos) coordinate names exactly one occurrence, and that
    # occurrence has exactly one text, so it can only be the winner of its
    # OWN paragraph's group: kept ⇔ (non-candidate) ∨ (this row is the
    # first occurrence) — the same predicate as being the rank-1 row.
    # A doc's winner list is bounded by its own paragraph count, so the
    # collected arrays stay small; docs with no winners join to NULL.
    tagged = paras.join(winners, on=id_col, how="left")
    kept = ~cand | F.coalesce(
        F.array_contains(F.col("__wp__"), F.col("__pos__")), F.lit(False)
    )
    agg = _rebuild_docs(tagged, kept, id_col, "\n\n", "__p__")
    return _attach_rebuilt_text(df, agg, text_col, id_col, out_col)


def lm_bigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    rare_threshold: float = 0.01,
) -> DataFrame:
    """Corpus-self-trained bigram language-model quality signal — the
    perplexity-style fluency filter of a curation pipeline (KenLM-shaped,
    without shipping a model): train bigram/prefix counts on the corpus
    itself in the same pass, then score each document by its WEAKEST bigram.
    Returns per document:

    * ``n_bigrams`` — adjacent lowercase-token pair occurrences (len-1);
    * ``min_prob`` — min over the doc's bigrams of the MLE conditional
      ``count(w1 w2) / count(w1 *)`` (null for docs under 2 tokens);
    * ``n_rare`` — bigram occurrences with probability < ``rare_threshold``.

    The aggregate is deliberately ``min`` (weakest link) and a rare-COUNT
    rather than the usual mean-log-probability: a sum of logs is a
    transcendental reduced in arbitrary order — different engines (and
    different partitionings of the SAME engine) disagree at the ulp, which
    would break exact cross-engine verification AND bit-reproducibility of
    the filter decision across reruns. Each probability here is ONE IEEE
    division of two exact integers and ``min``/count are order-independent,
    so the score is bit-identical on any engine or partitioning — the same
    determinism argument as the log-free tf-idf above.

    Scale shape: tokenize → bigram-explode → two hash aggregations (bigram
    and prefix counts, both map-side partial) → two vocabulary-keyed joins
    back → per-doc agg → one broadcast-shaped left join to re-attach
    zero-bigram docs. The count relations are vocabulary²-bounded (bigram
    types, far below occurrences at 100 TB); stopword-prefix skew on the
    ``w1`` join is the AQE skew-join case, as with tf-idf's df join. Zero
    UDFs; no ``collect``; one scan of the corpus.
    """
    did = F.col(id_col)
    toked = df.select(
        did, nonempty_tokens(F.col(text_col), lowercase=True).alias("__tk__")
    )
    # Bigram pairs via one pass over the MATERIALIZED token column (a column
    # reference, so the split runs once per row — the HOF-CSE lesson from
    # shingles/seqs). sequence(1, size-1) is empty-safe only for size >= 2.
    idx = F.sequence(F.lit(1), F.size("__tk__") - 1)
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("__tk__", i).alias("w1"),
            F.element_at("__tk__", i + 1).alias("w2"),
        ),
    )
    big = (
        toked.filter(F.size("__tk__") >= 2)
        .select(did, F.explode(pairs).alias("__p__"))
        .select(did, F.col("__p__.w1").alias("w1"), F.col("__p__.w2").alias("w2"))
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("__cb__"))
    cu = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("__cu__"))
    prob = F.col("__cb__").cast("double") / F.col("__cu__").cast("double")
    scored = (
        big.join(cb, on=["w1", "w2"])
        .join(cu, on=["w1"])
        .select(did, prob.alias("__p__"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.min("__p__").alias("min_prob"),
        F.sum(
            F.when(F.col("__p__") < F.lit(rare_threshold), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_rare"),
    )
    return df.select(did).join(agg, on=id_col, how="left").select(
        did,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("min_prob"),
        F.coalesce(F.col("n_rare"), F.lit(0)).cast("long").alias("n_rare"),
    )


#: PII patterns, restricted to the Java-regex/RE2 common subset (character
#: classes + greedy quantifiers only — no lookaround, no backrefs) so Spark
#: and an oracle engine replace byte-identically. Deliberately conservative
#: single-line patterns; a production deployment swaps in its compliance
#: team's library — the Spark plumbing (scan-local regexp_replace chain,
#: counts from the pre-redaction text) is what this pins.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    # 7+-digit runs with optional common phone separators, anchored on word
    # boundaries via explicit non-digit classes being absent (digit runs).
    ("phone", r"\+?[0-9][0-9()\-\. ]{5,}[0-9]", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    patterns: list[tuple[str, str, str]] | None = None,
    out_col: str = "scrubbed",
) -> DataFrame:
    """Redact PII-shaped spans (emails, URLs, phone-ish digit runs) and count
    what was removed — the compliance scrub stage between crawling and
    training. Returns ``id_col`` + per-pattern match counts (from the
    PRE-redaction text, so counts are auditable even though patterns chain)
    + the redacted text in ``out_col``.

    Patterns are applied IN ORDER, each to the previous pattern's output
    (emails redact before phone-ish digit runs can eat their digits; the
    default order is most-specific-first). Counting uses
    ``regexp_count``-style arithmetic on the original text per pattern.

    Every NON-text input column passes through untouched, so the operator
    composes in a pipeline without a recovery re-join (review find, r12);
    pass ``out_col=text_col`` to redact in place, otherwise the original
    text survives alongside ``out_col``.

    Scale shape: a pure row-local ``regexp_replace`` chain on one scan — no
    shuffle, no UDF; composes with filter/column pruning untouched. Patterns
    stay inside the Java/RE2 common subset so any oracle engine reproduces
    the redaction byte-identically.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    t = F.col(text_col)
    red = t
    for _, pat, token in pats:
        red = F.regexp_replace(red, pat, token)
    cols: list[Column] = []
    for c in df.columns:
        if c == text_col and out_col == text_col:
            cols.append(red.alias(out_col))
        else:
            cols.append(F.col(c))
    for name, pat, _ in pats:
        cols.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
    if out_col != text_col:
        cols.append(red.alias(out_col))
    return df.select(*cols)


def normalize_text(
    text: Column,
    *,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punctuation: bool = False,
) -> Column:
    """Canonicalize text before fingerprinting/shingling so near-dup
    detection is robust to case/spacing/punctuation noise — the normalize
    stage of an exact-dedup pipeline (run it, then ``fingerprint``/
    ``dedup_exact`` collapse trivially-different scrapes). Pure JVM
    expressions; engine-portable (lower/regexp_replace/trim exist with
    identical semantics in any oracle engine)."""
    t = text
    if lowercase:
        t = F.lower(t)
    if strip_punctuation:
        t = F.regexp_replace(t, r"[^\p{L}\p{N}\s]+", "")
    if collapse_whitespace:
        t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t
