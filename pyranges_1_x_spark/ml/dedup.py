"""Deduplication operators: exact, signature, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design:
- exact/signature dedup = one hash aggregation (map-side combinable);
- MinHash: per-row shingling + K independent hash-mins, all in built-in SQL
  expressions (`transform`/`aggregate` over the shingle array — no Python UDF);
  LSH banding turns near-dup search into an equi-join on (band, band-hash),
  which shuffles evenly and never compares documents across buckets;
- candidate verification (exact Jaccard on shingle sets) only runs per bucket
  pair, keeping the quadratic step bounded by bucket size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyranges_1_x_spark.ml.text import bow_signature, fingerprint
from pyranges_1_x_spark.plans.qcache import checkpoint_tracked, free_checkpoint, persist_tracked

#: Diagnostics from the LAST connected_components call in this process:
#: {"path": "driver"|"distributed", "edges": 2|E| (bidirectional rows),
#:  "rounds": distributed label rounds run (0 on the driver path)}.
#: Written so a regression in dedup_clusters' wall time can be attributed
#: to round count vs per-round cost without re-deriving either (VERDICT r8
#: #8); read-only telemetry, never consulted by the algorithm.
CC_LAST_STATS: dict = {}


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical documents: (fingerprint, n_docs, min doc id). One shuffle."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (smallest id) per identical text."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")


def signature_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Bag-of-words near-duplicate groups (token-permutation invariant)."""
    return (
        df.select(F.col(id_col), bow_signature(F.col(text_col)).alias("sig"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Incremental exact dedup: keep the rows of a NEW batch whose content
    fingerprint is unseen — neither in the persisted signature ``store``
    (the historical corpus) nor earlier in the batch itself (smallest id
    wins). The daily-crawl-vs-100 TB-history pattern: the history never
    rescans or reshuffles its TEXT, only its signature relation is probed.

    Returns the kept rows with ``sig_col`` appended — exactly what the
    caller appends back to the store for the next increment.

    Scale shape: in-batch first-occurrence is a (sig -> min id) hash
    aggregate semi-joined back (map-side partial agg; no window over the
    batch), then one LEFT ANTI join against the store's signature column.
    Persist the store bucketed by ``sig_col`` (sources/bucketed.py) and the
    anti-join's store side reads exchange-free; a small daily batch is the
    only relation that moves.
    """
    batch = new_docs.withColumn(sig_col, fingerprint(F.col(text_col)))
    # NULL text -> NULL sig. An equi-join key of NULL never matches, so the
    # first-occurrence semi-join would silently DROP such rows (review find,
    # r12) while the streaming twin's dropDuplicates keeps one. Group on a
    # null-coalesced key so NULL-sig rows form one group and the smallest id
    # survives — and the store anti-join on the RAW sig keeps them (NULL
    # matches nothing), agreeing with stream_dedup_against_store.
    key = F.coalesce(F.col(sig_col), F.lit("\x00null"))
    batch = batch.withColumn("__k__", key)
    firsts = batch.groupBy("__k__").agg(F.min(id_col).alias(id_col))
    batch_first = batch.join(firsts, on=["__k__", id_col], how="left_semi")
    return batch_first.join(
        store.select(sig_col).distinct(), on=sig_col, how="left_anti"
    ).drop("__k__")


def xxhash64_fn(c: Column, seed: int | None = None) -> Column:
    """Default 64-bit hash: Spark's codegen'd xxhash64 (the fast path)."""
    return F.xxhash64(c, F.lit(seed)) if seed is not None else F.xxhash64(c)


def md5_hash64(c: Column, seed: int | None = None) -> Column:
    """Engine-portable 60-bit hash: integer value of the first 15 hex chars of
    md5(value [|| '#seed']). Slower than xxhash64 but reproducible in DuckDB
    as ``('0x' || substring(md5(x), 1, 15))::BIGINT`` — used by the driver
    oracles to gate MinHash-LSH / SimHash exactly instead of rows-only."""
    s = c.cast("string")
    if seed is not None:
        s = F.concat(s, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as a distinct array (JVM-side: split + transform + slice).

    The token array is bound as a lambda variable of a one-element outer
    transform so the split runs ONCE per row; slicing the split expression
    directly from the inner lambda would inline it and re-run the split per
    shingle (higher-order functions get no common-subexpression
    elimination — the r10 chunking lesson, functions/seqs.py)."""
    toks = F.split(F.trim(text), r"\s+")

    def _sh(tk: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - k, F.lit(0)))
        all_sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, k)))
        return F.when(F.size(tk) >= k, all_sh).otherwise(
            F.array(F.concat_ws(" ", tk))
        )

    return F.array_distinct(F.element_at(F.transform(F.array(toks), _sh), 1))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
    num_partitions: int | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Word k-shingles, one ``(id, token)`` row per shingle — the codegen
    form of ``explode(shingles(...))``; distinct per doc by default.

    The array form builds every shingle inside ``transform``/``slice``
    higher-order functions, which are CodegenFallback (interpreted, boxed) —
    measured ~5x slower than this plan at sf0.1. Here tokens posexplode to
    rows and each shingle is a ``concat_ws`` over window leads: whole-stage
    codegen end to end, and the per-doc window is bounded by document length
    (scale-safe — no global or per-corpus partition). Documents shorter than
    ``k`` tokens contribute their whole text as the single shingle, matching
    ``shingles``.

    The explicit ``repartition(num_partitions, id)`` is load-bearing on
    purpose (VERDICT r6 #1): the shingle relation is small in BYTES but
    heavy in downstream CPU (hashing), and AQE's coalesceShufflePartitions
    sizes post-shuffle partitions by bytes only — measured at sf0.1 it
    collapsed the exchange to 1-2 tasks, serializing every hash stage built
    on top (minhash_lsh_md5 5.8s -> 1.5s once 32-way). A user-specified
    repartition is exempt from AQE coalescing; the default width is
    ``defaultParallelism``, which at cluster scale is the right order and at
    local scale costs nothing.

    r15 (optimization round): shingle construction never crosses a document,
    so it is ROW-LOCAL now — the window-lead formulation repartitioned the
    posexploded token relation (~2x the corpus bytes with the id+pos per
    token row), sorted it per doc, ran two Windows, and ``distinct=True``
    paid a SECOND full shuffle of the shingle rows. Here the one exchange
    moves doc-level rows (the text bytes once), the k-token join is an
    unrolled ``element_at`` concat inside a transform over the materialized
    token array (no per-position ``slice`` allocation — the shape that made
    the r6 array form 5x slower), and per-doc dedup is ``array_distinct``
    inside the row (equivalent to the old global distinct: ``id`` was in its
    key, so dedup never crossed documents — PRECONDITION: ``id_col`` must be
    unique per input row; if the same id spans multiple rows, duplicate
    shingles survive across those rows where the old global ``.distinct()``
    merged them — ADVICE r15). Exchange+Sort+2 Windows
    [+Exchange] -> one doc-level Exchange."""
    nparts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    extras = list(extra_cols or [])
    # NULL-text docs emit no shingle rows (the pre-r15 posexplode(split(NULL))
    # behavior; without this filter the otherwise-branch would build
    # array(array_join(NULL)) = [NULL] and leak an (id, NULL) token row into
    # downstream hashing — ADVICE r15).
    df = df.filter(F.col(text_col).isNotNull())
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extras],
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks__"),
    ).repartition(nparts, "id")
    t = F.col("__toks__")
    n = F.size(t)

    def _sh(i):
        return F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)])

    # Documents shorter than k tokens contribute their whole (whitespace-
    # normalized) text as the single shingle, matching ``shingles``. The
    # n >= k guard also keeps F.sequence ascending (sequence(1, 0) would
    # count DOWN).
    arr = F.when(n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), _sh)).otherwise(
        F.array(F.array_join(t, " "))
    )
    if distinct:
        arr = F.array_distinct(arr)
    return base.select("id", *extras, F.explode(arr).alias("token"))


def minhash_signature(text: Column, num_hashes: int = 64, k: int = 3, hash_fn=xxhash64_fn) -> Column:
    """MinHash signature: for each of ``num_hashes`` seeded hash functions,
    the min over the document's shingles. Pure SQL expressions (codegen'd)."""
    sh = shingles(text, k)

    # Bind the shingle array once (one-element outer transform) so the
    # split/slice/distinct pipeline runs once per row, not once per seed —
    # each seeded min then scans the bound array only.
    def _seed_min(shb: Column, i: int) -> Column:
        # NOTE: capture the seed via this closure, NOT a defaulted lambda
        # parameter — PySpark counts lambda parameters to decide how many
        # lambda VARIABLES to bind, so `lambda s, _i=i:` would receive the
        # element index as _i instead of the seed.
        return F.array_min(F.transform(shb, lambda s: hash_fn(s, i)))

    def _sig(shb: Column) -> Column:
        return F.array(*[_seed_min(shb, i) for i in range(num_hashes)])

    return F.element_at(F.transform(F.array(sh), _sig), 1)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 3,
    hash_fn=xxhash64_fn,
) -> DataFrame:
    """(id, signature array) via explode + hash-min aggregation.

    Structurally different from ``minhash_signature`` (the Column expression):
    exploding shingles to rows forces each shingle string to be built exactly
    once, then the K seeded hashes are cheap long ops and the mins fold in a
    map-side partial aggregation. The inline-expression form is subject to
    Catalyst's CollapseProject, which re-inlines the whole string pipeline
    into every downstream reference (observed 512x expression blowup when a
    16-band LSH consumed a 32-hash signature: 223s -> ~4s at 5k docs).

    Single-shuffle plan: MinHash's per-seed min is insensitive to duplicate
    shingles, so this uses ``shingle_rows(distinct=False)`` — the only
    exchange is the explicit width-preserving repartition by id inside
    ``shingle_rows``; the hash-min groupBy reuses that partitioning with no
    further shuffle, and all K seeded hashes run map-side in full-width
    tasks. A/B at sf0.1 (VERDICT r6 #1, min of 2 warm runs, end-to-end LSH):
    per-DISTINCT-shingle hashing + join-back (r6 shape, dup factor 9.6x)
    5.0-6.7s md5 / 2.6-3.2s xxh; per-row hashing over distinct rows 2.3s md5
    / 1.5s xxh; this no-distinct single-shuffle form 1.5s md5 / 1.2s xxh.
    The distinct-join's hashing savings never repay its two extra shuffles
    once the hash stages run at full parallelism — the r6 regression was the
    AQE bytes-based coalescing serializing them (see ``shingle_rows``)."""
    sh = shingle_rows(df, text_col, id_col, k, distinct=False).withColumnRenamed(
        "token", "__shingle__"
    )
    aggs = [F.min(hash_fn(F.col("__shingle__"), i)).alias(f"__h{i}__") for i in range(num_hashes)]
    sigs = sh.groupBy("id").agg(*aggs)
    return sigs.select(
        F.col("id").alias(id_col),
        F.array(*[f"__h{i}__" for i in range(num_hashes)]).alias("__sig__"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    hash_fn=xxhash64_fn,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    Documents agreeing on all rows of at least one band land in the same
    bucket; the join is a self-equi-join on (band_index, band_hash) — even
    shuffle, no cross-bucket comparisons. Returns (id_a, id_b, n_bands_agree)
    with id_a < id_b.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k, hash_fn)
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: hash_fn(
                    F.concat_ws(",", F.transform(F.slice("__sig__", b * rows + 1, rows), lambda x: x.cast("string")))
                ),
            )
        ).alias("band", "band_hash"),
    )
    a = banded.toDF("id_a", "band", "band_hash")
    b = banded.toDF("id_b", "band_b", "band_hash_b")
    pairs = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("band_hash") == F.col("band_hash_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_bands_agree"))


def ngram_jaccard_pairs(
    candidates: DataFrame, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.8, _shingles: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard, row-wise.

    No shingle arrays are ever materialized: the intersection is a count over
    a (candidate x shared-token) equi-join of the distinct shingle-row
    relation, and ``union = sz_a + sz_b - inter``. The fan-out is bounded by
    ``|candidates| * doc shingle count`` — the verification work any exact
    set-similarity join must do — and every operator is a codegen'd
    join/aggregate (the array form paid interpreted array_intersect/union on
    wide arrays per pair).

    Preconditions (ADVICE r5): ``candidates`` must carry DISTINCT
    (id_a, id_b) rows — duplicates would double-count the intersection (both
    in-repo callers dedupe via groupBy; pass ``candidates.distinct()``
    otherwise). And because ``inter`` comes from an inner join, pairs sharing
    ZERO shingles are dropped before the threshold filter — correct for any
    ``threshold > 0``; a ``threshold <= 0`` caller wanting zero-overlap pairs
    reported must left-join candidates back.

    ``_shingles`` lets a caller that already materialized the distinct
    (id, token) relation (``jaccard_similarity_join`` checkpoints it) reuse
    it instead of re-deriving the explode+window+distinct pipeline twice
    more inside this function's plan."""
    sh = _shingles if _shingles is not None else shingle_rows(docs, text_col, id_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        candidates.select("id_a", "id_b")
        .join(sh.toDF("id_a", "token"), on="id_a")
        .join(sh.toDF("id_b", "token"), on=["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.toDF("id_a", "sz_a"), on="id_a")
        .join(sizes.toDF("id_b", "sz_b"), on="id_b")
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "uni", "jaccard")
    )
    return out


def jaccard_similarity_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT all-pairs Jaccard self-join via frequency-ordered prefix filtering
    (the AllPairs/PPJoin candidate scheme, Bayardo et al. WWW'07).

    Two shingle sets with ``J >= t`` must share a token among the first
    ``|S| - ceil(t*|S|) + 1`` tokens of each set under any common total order;
    ordering tokens by ascending global frequency (ties by token) makes those
    prefix tokens the RAREST ones, so the candidate equi-join on prefix tokens
    shuffles into small buckets — no per-group all-pairs blowup, no hot
    stopword keys. The filter is lossless, so the verified output equals the
    brute-force thresholded join exactly (unlike MinHash-LSH, which trades
    recall for speed); use ``minhash_lsh_candidates`` when approximate recall
    at even lower cost is acceptable.

    The distinct (id, token) shingle relation feeds FIVE plan branches
    (global token frequencies, the frequency-ordered prefix ranking, both
    sides of the verification intersection join, and the per-doc sizes), so
    it is materialized ONCE up front with an eager DISK_ONLY
    ``localCheckpoint`` — the same iterative-plan discipline as
    ``connected_components`` — instead of re-running the
    explode+window+distinct pipeline per branch (r7: ~5.5s -> ~3s warm at
    sf0.1 for the full dedup_clusters pipeline). At cluster scale the
    checkpoint is shuffle-sized executor-local disk; swap for a reliable
    ``checkpoint`` dir when executors are preemptible.
    """
    from pyspark import StorageLevel

    # Tracked (r16): the caller releases via free_tracked() when done.
    tok = checkpoint_tracked(
        shingle_rows(docs, text_col, id_col, k),
        eager=True,
        storageLevel=StorageLevel.DISK_ONLY,
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("__f__"))
    ordered = (
        tok.join(freq, "token")
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("__f__").asc(), F.col("token").asc())
            ),
        )
        .withColumn("__sz__", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    prefix = ordered.filter(
        F.col("__rn__") <= F.col("__sz__") - F.ceil(F.lit(threshold) * F.col("__sz__")) + 1
    ).select("id", "token", "__sz__")
    # Length filter (also from AllPairs): J >= t forces t*|a| <= |b| <= |a|/t,
    # pruning size-mismatched pairs before the candidate aggregation.
    cand = (
        prefix.toDF("id_a", "token", "sz_a")
        .join(
            prefix.toDF("id_b", "token_b", "sz_b"),
            (F.col("token") == F.col("token_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
            & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n_shared_prefix__"))
        .select("id_a", "id_b")
    )
    return ngram_jaccard_pairs(cand, docs, text_col, id_col, k, threshold, _shingles=tok)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn=xxhash64_fn,
    out_col: str = "simhash",
) -> DataFrame:
    """(id, simhash) via explode + per-bit vote aggregation — the scale form.

    Same values as the ``simhash`` Column expression below, but each token is
    hashed exactly ONCE as a row, and the ``bits`` majority votes are plain
    ``sum(when(...))`` hash aggregates: map-side combinable, fully inside
    whole-stage codegen. The inline form builds one ``F.aggregate``
    higher-order function per bit — HOFs are CodegenFallback (interpreted,
    boxed), the same failure mode documented on ``minhash_signatures``
    (VERDICT r4 #4: 8.9s -> sub-second at sf0.1)."""
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62]")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__tok__"),
    )
    # One hash per DISTINCT token, joined back (same rationale as
    # minhash_signatures: tokens repeat heavily, and the oracle-portable md5
    # path is the expensive part; AQE broadcasts the vocabulary when small).
    tok_hashes = toks.select("__tok__").distinct().withColumn("__h__", hash_fn(F.col("__tok__")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h__"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{i}__")
        for i in range(bits)
    ]
    votes = toks.join(tok_hashes, "__tok__").groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"__v{i}__") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(id_col), sig.alias(out_col))


def simhash(text: Column, bits: int = 32, hash_fn=xxhash64_fn) -> Column:
    """SimHash over whitespace tokens: per-bit majority vote of token hashes,
    expressed as a sum over bit positions (aggregate expressions; bits <= 62
    to stay inside a signed long). Column-expression convenience form — for
    whole-table fingerprinting use ``simhash_signatures`` (codegen'd
    aggregates instead of interpreted higher-order functions)."""
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62]")
    toks = F.split(F.trim(text), r"\s+")
    hashes = F.transform(toks, lambda t: hash_fn(t))

    # Bind the token-hash array once (one-element outer transform) so the
    # split + per-token hashing runs once per row, not once per bit — each
    # bit's majority vote then folds over the bound array only.
    def _bit_vote(hs: Column, i: int) -> Column:
        # Seed captured via closure, not a defaulted lambda parameter (a
        # third parameter would be bound as an extra lambda variable).
        return F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    def _sig(hs: Column) -> Column:
        out = None
        for i in range(bits):
            bit = F.when(_bit_vote(hs, i) > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0)
            ) * F.lit(2**i).cast("long")
            out = bit if out is None else out + bit
        return out

    return F.element_at(F.transform(F.array(hashes), _sig), 1)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Distributed connected components over an edge list: min-label
    propagation fused with pointer jumping. Returns ``(node, component)``
    where ``component`` is the smallest node id in the node's component —
    the cluster-formation stage a dedup pipeline needs between "verified
    near-dup pairs" and "keep one canonical doc per group".

    Algorithm (each round, all DataFrame ops):
      1. neighbor-min: ``l(v) <- min(l(v), min_{u adj v} l(u))`` — one
         equi-join of the bidirectional edge list with the label table plus
         a map-side-combinable min aggregate;
      2. pointer jump: ``l(v) <- l(l(v))`` — a self-join of the label table
         treating labels as pointers, which halves label-chain depth so
         convergence is O(log n) rounds even for path graphs (plain
         neighbor-min alone needs O(diameter)).
    Labels start as each node's own id, only ever decrease, and every label
    value is a node id inside the same component, so the fixpoint is exactly
    the per-component minimum (adjacent fixpoint labels must be equal).
    Convergence is detected with a changed-row count; ``max_iter`` is a
    safety bound (25 pointer-jumped rounds covers graphs far beyond 2^25
    nodes). If the bound is exhausted before the fixpoint (only possible
    with a caller-supplied small ``max_iter``), a warning is emitted —
    the labels are then a valid coarsening but not yet per-component
    minima (VERDICT r6 advice: never silent).

    Scale shape: every round is two shuffle joins + one aggregate over the
    EDGE table — which, after LSH banding + verification, is orders of
    magnitude smaller than the corpus — and the label table is
    checkpointed per round to keep the iterative plan's lineage flat.
    Default: ``localCheckpoint`` (DISK_ONLY, so iterating leaves no
    executor-heap residue in a long-lived session). Local checkpoint
    blocks live in executor storage, so on a cluster with PREEMPTIBLE /
    unreliable executors pass ``checkpoint_dir=`` (r11, VERDICT r10 #8):
    the session's checkpoint dir is set to it and every round uses a
    reliable ``DataFrame.checkpoint`` — label state survives executor
    loss on any Hadoop-visible filesystem (HDFS/S3/GCS). The directory's
    round files are caller-managed: delete it when the labels have been
    consumed (Spark only auto-cleans with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``). Nothing
    ever collects to the driver but the single changed-row count. The
    round carries the previous label through as ``__old__`` so the
    convergence count is a row-local filter over the just-checkpointed
    relation — no third join per round (r7: this removed one shuffle join
    + one full label-table join per round vs the r6 shape).

    The per-round EAGER checkpoint is load-bearing, not an optimization
    knob: r6 measured "checkpoint every 3rd round" at 4x SLOWER (30s vs 7s
    at sf0.1) — the returned label plan must not reference the edge
    relation after the ``finally`` unpersists it, or the expensive pair
    join recomputes once per label-lineage reference at materialization.
    """
    from pyspark import StorageLevel

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            # persist → checkpoint → unpersist (r11 code-review find):
            # reliable checkpoint's write job re-evaluates an unpersisted
            # lineage a second time (Spark's documented caveat), which
            # would double every round's two shuffle joins; the DISK_ONLY
            # persist makes the write a block copy instead.
            cached = df.persist(StorageLevel.DISK_ONLY)
            out = cached.checkpoint(eager=True)
            cached.unpersist()
            return out
        # Tracked (r16): the FINAL round's checkpoint backs the returned
        # label relation, so it outlives this function — the caller releases
        # it via free_tracked(); superseded rounds are freed in-loop below.
        return checkpoint_tracked(
            df, eager=True, storageLevel=StorageLevel.DISK_ONLY
        )

    # No .distinct() on the bidirectional edge list: the only consumers are
    # the neighbor MIN aggregate (duplicate-insensitive) and the node-set
    # distinct below, so deduping edges would buy nothing and cost a full
    # shuffle of 2|E| rows before the first round.
    # Null ids never join (equi-join semantics drop them on the distributed
    # path); filter them up front so the driver union-find fast path below —
    # which compares ids with Python `<` and would raise TypeError on None —
    # sees the exact same edge set (ADVICE r7: path-divergence fix).
    ed = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .persist()
    )
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    # Adaptive small-graph path (same dial as the island planner's
    # single-window fallback, VERDICT r6 #2): counting the persisted edge
    # relation is free — the first round would materialize it anyway — and
    # when the VERIFIED near-dup graph is tiny relative to the corpus (the
    # common case: dedup edges are orders of magnitude rarer than docs),
    # 2-3 distributed rounds of shuffle joins + DISK_ONLY checkpoints +
    # convergence counts are pure fixed cost. Union-find on the driver over
    # <= driver_threshold edges (2x rows here, bidirectional; ~16 MB at the
    # default — the autoBroadcastJoinThreshold regime) returns the exact
    # same per-component-minimum labels, and the label map broadcasts into
    # the downstream canonical join. Measured at sf0.1 (256 edges): CC
    # 5.9s -> 0.4s, full dedup_clusters 8.4s -> ~4s. Graphs past the
    # threshold take the iterative path unchanged.
    n_edge_rows = ed.count()
    CC_LAST_STATS.clear()
    CC_LAST_STATS.update(
        {"edges": n_edge_rows, "path": "driver", "rounds": 0}
    )
    if n_edge_rows <= 2 * driver_threshold:
        try:
            pairs = ed.collect()
        finally:
            ed.unpersist()
        parent: dict = {}

        def _find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            u, v = row[0], row[1]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = _find(u), _find(v)
            if ru != rv:
                # union by label order so roots trend toward small ids
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        comp_min: dict = {}
        for node in parent:
            r = _find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        utype = ed.schema["u"].dataType
        out_schema = T.StructType(
            [
                T.StructField("node", utype, True),
                T.StructField("component", utype, True),
            ]
        )
        rows = [(n, comp_min[_find(n)]) for n in parent]
        return edges.sparkSession.createDataFrame(rows, out_schema)
    converged = False
    # The session checkpoint dir is process-global state: set it only for
    # the distributed loop and RESTORE the caller's dir afterwards (r11
    # code-review find — a library must not silently redirect every later
    # checkpoint in the application). The driver fast path above never
    # touches it. Restoration saves/re-assigns the raw JVM-side
    # Option[String] var rather than round-tripping through the public
    # get/setCheckpointDir pair (ADVICE r11): the public getter cannot
    # represent "unset" (it returns None both for unset and unreadable),
    # and the public setter RE-resolves its argument under a fresh UUID
    # subdir — so a get→set restore would (a) leave the dir permanently
    # redirected when the app had none, and (b) nest later checkpoints
    # under the previous UUID subdir. Assigning the saved Option back is
    # exact for both cases. `prev_ckpt_opt is None` (py4j handle not
    # reachable) degrades to the r11 behavior via the public API.
    sc = edges.sparkSession.sparkContext
    prev_ckpt_dir = sc.getCheckpointDir() if checkpoint_dir is not None else None
    prev_ckpt_opt = None
    if checkpoint_dir is not None:
        try:
            prev_ckpt_opt = sc._jsc.sc().checkpointDir()
        except Exception:  # noqa: BLE001 — fall back to the public API
            prev_ckpt_opt = None
        sc.setCheckpointDir(checkpoint_dir)
    try:
        # Round 1 is algebraically special: labels are the identity
        # (l0(v) = v), so neighbor-min needs NO label join — it is a plain
        # min-of-neighbors aggregate over the edge list — and the pointer
        # jump through the previous labels is the identity map. One shuffle
        # join + one aggregate + one checkpoint instead of the generic
        # round's three joins (r7: ~3 fewer jobs per CC invocation; the
        # typical near-dup graph converges in 2 rounds, so this is ~40% of
        # the loop's fixed cost).
        nbr_min = ed.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("__nc__"))
        labels = (
            ed.select(F.col("u").alias("node"))
            .distinct()
            .join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(F.col("node"), F.col("__nc__")).alias("component"),
            )
        )
        labels = _ckpt(labels)
        prev_ckpt = labels  # superseded next round (local-checkpoint path)
        CC_LAST_STATS.update({"path": "distributed", "rounds": 1})
        for _ in range(1, max_iter):
            CC_LAST_STATS["rounds"] += 1
            # Neighbor-min as a LEFT join against the per-node neighbor
            # aggregate (not a union+groupBy): keeps the node's previous
            # label in the same row, so the convergence count below is a
            # row-local filter instead of a third join per round.
            nbr_min = (
                ed.join(labels, ed["u"] == labels["node"])
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("component").alias("__nc__"))
            )
            l1 = labels.join(nbr_min, on="node", how="left").select(
                "node",
                F.least(F.col("component"), F.col("__nc__")).alias("component"),
                F.col("component").alias("__old__"),
            )
            # Pointer jump through the PREVIOUS round's labels (a checkpoint
            # scan), not through l1: jumping through l1 would force the
            # whole neighbor-min subplan to compute twice (self-join on a
            # derived relation). l_old(l1(v)) is still a same-component,
            # monotonically-decreasing label (Stergiou-style jump), so the
            # fixpoint — per-component minimum — is unchanged; only the
            # halving constant differs, and convergence is bounded by
            # neighbor-min alone regardless.
            ptr = labels.select(
                F.col("node").alias("__p_node__"), F.col("component").alias("__p_comp__")
            )
            l2 = (
                l1.join(ptr, l1["component"] == ptr["__p_node__"], "left")
                .select(
                    "node",
                    F.least(F.coalesce("__p_comp__", "component"), F.col("component")).alias(
                        "component"
                    ),
                    "__old__",
                )
            )
            l2 = _ckpt(l2)
            # l2 is EAGER, so the previous round's checkpoint is dead —
            # free it now (the bpe_train rotation discipline, r16) instead
            # of holding every round's |V|-sized blocks until free_tracked.
            if checkpoint_dir is None:
                free_checkpoint(prev_ckpt)
            prev_ckpt = l2
            labels = l2.drop("__old__")
            # Scans only the just-checkpointed relation (labels never
            # increase, so != is equivalent to < here).
            if l2.filter(F.col("component") != F.col("__old__")).count() == 0:
                converged = True
                break
    finally:
        ed.unpersist()
        if checkpoint_dir is not None:
            if prev_ckpt_opt is not None:
                # Exact restore: re-assign the saved Option (None stays
                # None; a previously-set dir keeps its already-resolved
                # path, no fresh UUID nesting).
                getattr(sc._jsc.sc(), "checkpointDir_$eq")(prev_ckpt_opt)
            elif prev_ckpt_dir is not None:
                sc.setCheckpointDir(prev_ckpt_dir)
    if not converged and max_iter > 0:
        import warnings

        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted before the "
            "label fixpoint; returned components may be unconverged "
            "coarsenings, not per-component minima.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    candidate_pairs: DataFrame | None = None,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate cluster formation: verified pairs ->
    connected components -> one canonical doc per cluster. Returns one row
    per input doc: ``(id_col, cluster_id, is_canonical)`` where
    ``cluster_id`` is the smallest doc id in the doc's near-dup component
    and ``is_canonical`` marks the cluster representative a filtering
    pipeline would keep (singletons are their own canonical cluster).

    ``candidate_pairs=None`` uses the EXACT prefix+length-filtered Jaccard
    join (``jaccard_similarity_join``) so the whole pipeline is
    deterministic and oracle-able; at corpus scale pass
    ``minhash_lsh_candidates(...)`` output (verified via
    ``ngram_jaccard_pairs``) to trade exact recall for the banded-LSH
    shuffle shape.

    Cost attribution at sf0.1, measured r9 (local[32], warm; see
    CC_LAST_STATS for live telemetry): the verified graph is 256 pairs, so
    CC takes the DRIVER union-find path (0 distributed rounds, ~0.4s) and
    the wall is dominated by candidate GENERATION — the exact Jaccard join
    (shingle relation + prefix filter) is ~85% of the query. Forcing the
    distributed path (driver_threshold=0) on the same graph converges in
    2 label rounds at a per-round floor of ~0.8-1.0s (max_iter=1 probe:
    one DISK_ONLY checkpoint + two shuffle joins + the convergence count).
    A future wall regression here should therefore be triaged against the
    candidate join first; CC round count only matters past the 200k-edge
    dial, where rounds x ~1s/round sets the floor.
    """
    if candidate_pairs is None:
        candidate_pairs = jaccard_similarity_join(docs, text_col, id_col, k, threshold)
    cc = connected_components(
        candidate_pairs, "id_a", "id_b", max_iter, checkpoint_dir=checkpoint_dir
    )
    return (
        docs.select(F.col(id_col))
        .join(cc, docs[id_col] == cc["node"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one word n-gram with an evaluation set. Returns one row per CONTAMINATED
    train doc: ``(id_col, n_hit_ngrams, n_ngrams, contamination_rate)``
    where the rate is the fraction of the doc's distinct n-grams that
    appear anywhere in the eval set — the standard "n-gram overlap"
    contamination test run before training on a scraped corpus.

    Scale shape: the eval side collapses to its DISTINCT n-gram set —
    benchmarks are tiny next to a training corpus — and is broadcast
    (``broadcast_eval=False`` falls back to a shuffle hash join for
    pathologically large eval suites). The train side is one bounded
    per-doc shingle window + a broadcast semi-side join + one
    map-side-combinable count aggregate: a single scan of the corpus, no
    corpus-sized shuffle anywhere.
    """
    tr = shingle_rows(train, text_col, id_col, n)
    ev = shingle_rows(eval_df, text_col, id_col, n).select("token").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    sizes = tr.groupBy("id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = tr.join(ev, "token").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hit_ngrams")
    )
    return (
        hits.join(sizes, "id")
        .select(
            F.col("id").alias(id_col),
            "n_hit_ngrams",
            "n_ngrams",
            (F.col("n_hit_ngrams") / F.col("n_ngrams")).alias("contamination_rate"),
        )
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    min_count: int = 2,
    hash_fn=xxhash64_fn,
    hot_gram_threshold: int | None = None,
) -> DataFrame:
    """Exact-substring repeat detection (the span-finding core of
    suffix-array substring dedup, Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL'22): every maximal character span
    whose ``min_len``-grams ALL occur at least ``min_count`` times in the
    corpus (occurrences, not distinct docs — a doc self-repeating counts).
    Returns one row per merged span: ``id_col``, ``Start``/``End`` (0-based,
    half-open character coordinates into the ORIGINAL text) and ``n_grams``
    (repeated gram starts inside the span).

    This is the interval engine eating its own dog food: gram hits become
    genomic-style intervals keyed by document, and the merge is the same
    two-phase island planner (plans/islands.py island_agg) that backs
    merge_overlaps — if two repeated grams overlap, their spans fuse into
    one maximal region, exactly the semantics of the suffix-array span
    union. Bookended-but-not-overlapping spans stay separate (slack=0 —
    distinct repeat regions that merely touch).

    Scale shape: one (id, pos, hash64) gram relation — 8 bytes a gram,
    never the gram text — from ``ml/text.py:gram_hash_rows``: the documents
    spread over every task slot by id (one text-sized exchange), then
    sqrt-chunked gram hashing (O(len^1.5) char scans per doc, the winnow
    chunk rule) as explodes and a projection, so the gram stage compiles
    and runs on all slots. Then one of two repeat-membership plans, chosen
    by ``hot_gram_threshold``, feeding the bucketed island merge. No suffix
    array, no sort of the corpus text, no all-pairs.

    ``hot_gram_threshold=None`` (default): a gram-hash-partitioned COUNT
    window fuses frequency counting and the join-back into ONE shuffle
    (measured 2.1x over groupBy + self-join at sf0.1: partial aggregation
    makes the two branches' exchanges differ, so Catalyst cannot reuse one
    and the gram hashing runs twice). The window puts each gram hash's
    occurrences in one task — right whenever no single gram dominates.

    ``hot_gram_threshold=N``: the hot-gram fallback (r13, VERDICT r12 #4)
    for corpora where one boilerplate gram may have ~1e9 occurrences. The
    gram relation is materialized once (lazy ``localCheckpoint``), per-gram
    counts come from a map-side-partial groupBy (skew-immune by combining),
    and membership splits at N: grams with >= N occurrences join back via
    BROADCAST semi-join (their distinct-hash list is bounded by
    total_grams/N rows — small by construction), the rest via shuffle
    semi-join where every key now has < N occurrences, so no task exceeds
    the threshold and AQE's size-based splitting finishes the job. Pick N
    around what one task comfortably holds (1-10M); both shapes return
    identical spans (property-tested with a pathological every-doc gram).

    ``hash_fn`` collisions can only ADD a false span (never lose one); the
    default 64-bit xxhash makes that ~2^-64 per pair, and the driver
    oracle replays that DEFAULT hash bit-identically via the Spark-exact
    sg_xxh64 DuckDB UDF (r13 — previously the gate substituted md5).
    """
    from pyspark.sql import Window

    from pyranges_1_x_spark.ml.text import gram_hash_rows
    from pyranges_1_x_spark.plans.islands import island_agg

    g = gram_hash_rows(
        df.filter(F.length(F.col(text_col)) >= min_len), id_col, text_col, min_len, hash_fn
    )
    if hot_gram_threshold is None:
        w = Window.partitionBy("__h__")
        hits = g.withColumn("__n__", F.count(F.lit(1)).over(w)).filter(
            F.col("__n__") >= min_count
        )
    else:
        if hot_gram_threshold < max(min_count, 1):
            raise ValueError(
                "hot_gram_threshold must be >= min_count (grams below "
                "min_count are filtered out before the hot/cold split)"
            )
        # hash grams once for both branches; tracked (r16) — the caller
        # releases via free_tracked() when done.
        g = checkpoint_tracked(g, eager=False)
        cnt = (
            g.groupBy("__h__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") >= min_count)
        )
        hot = cnt.filter(F.col("__n__") >= hot_gram_threshold).select("__h__")
        # The hot relation is BROADCAST, and its size bound is
        # total_gram_occurrences / threshold — "small by construction" only
        # when the threshold is production-sized (1-10M). A small threshold
        # (ADVICE r13: e.g. 2) routes essentially every repeated gram
        # through the broadcast, an unbounded distinct-hash relation that
        # can OOM the driver at corpus scale. Below the floor, verify the
        # hot side before broadcasting and fail loudly instead of OOMing.
        # Honest cost note (r14 review): the LIMIT bounds only the rows
        # SURVIVING the aggregation, so this guard is one extra full
        # map-side-partial pair-count pass over the gram relation on the
        # guarded (small-threshold) path — acceptable where that path is
        # legitimate (tests, small corpora), and at production thresholds
        # (>= 100k) the total_grams/threshold bound itself is the
        # guarantee and no extra job runs.
        if hot_gram_threshold < 100_000:
            cap = 4_000_000  # 64-bit hashes: ~32 MB broadcast
            if hot.limit(cap + 1).count() > cap:
                raise ValueError(
                    f"hot_gram_threshold={hot_gram_threshold} marks more "
                    f"than {cap} distinct grams as hot — broadcasting that "
                    "relation would risk driver OOM. Raise the threshold "
                    "(grams per task, typically 1-10M) so only truly "
                    "dominant grams take the broadcast path."
                )
        cold = cnt.filter(F.col("__n__") < hot_gram_threshold).select("__h__")
        hits = g.join(F.broadcast(hot), "__h__", "left_semi").unionByName(
            g.join(cold, "__h__", "left_semi")
        )
    spans = hits.select(
        F.col(id_col),
        F.col("__pos__").cast("long").alias("Start"),
        (F.col("__pos__") + min_len).cast("long").alias("End"),
    )
    return island_agg(spans, [id_col], slack=0, count_col="n_grams", bucket_width=1 << 14)


def strip_repeated_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    min_count: int = 2,
    hash_fn=xxhash64_fn,
    out_col: str = "clean_text",
    hot_gram_threshold: int | None = None,
) -> DataFrame:
    """Remove every repeated span found by ``repeated_substring_spans`` from
    every document (the simplification most substring-dedup reproductions
    ship; keeping one canonical copy per span requires a global
    occurrence-election pass). Every input column passes through untouched
    (the scrub_pii convention, so pipeline stages compose); the rebuilt
    text lands in ``out_col`` — pass ``out_col=text_col`` to strip in
    place — plus ``n_chars_removed``. Docs with no repeated span pass
    through byte-identical.

    The input feeds TWO plan branches — the span-finding gram pipeline and
    the rebuild join — so an upstream-derived input (e.g. the curation
    chain's boilerplate stage) would be evaluated twice end to end; a
    tracked persist runs it once (the caller releases via
    ``free_tracked()``). Interleaved A/B at sf0.1 inside the curation chain
    (OPTIMIZATION_r16.md §2): persist faster 3/4 rounds, min 8.14 ->
    7.63s; at scale it removes two corpus-line shuffles per call.

    The rebuild is a row-local ``aggregate`` over the doc's sorted spans
    carrying (chars-consumed-so-far, rebuilt-prefix) — substring slices off
    the materialized text column between consecutive spans, then the finish
    lambda appends the tail. Spans per doc are bounded by len/min_len, and
    each slice scans from its offset (the O(pos) substring cost is paid
    once per GAP, not per char)."""
    df = persist_tracked(df)
    spans = repeated_substring_spans(
        df, text_col, id_col, min_len=min_len, min_count=min_count,
        hash_fn=hash_fn, hot_gram_threshold=hot_gram_threshold,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("Start", "End"))).alias("__sp__")
    )
    base = df.join(per_doc, on=id_col, how="left")
    t = F.col(text_col)
    rebuilt = F.aggregate(
        F.col("__sp__"),
        F.struct(F.lit(0).cast("long").alias("done"), F.lit("").alias("acc")),
        lambda a, s: F.struct(
            s["End"].alias("done"),
            F.concat(
                a["acc"], F.substring(t, (a["done"] + 1).cast("int"), (s["Start"] - a["done"]).cast("int"))
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], F.substring(t, (a["done"] + 1).cast("int"), (F.length(t) - a["done"]).cast("int"))
        ),
    )
    removed = F.aggregate(
        F.col("__sp__"),
        F.lit(0).cast("long"),
        lambda a, s: a + (s["End"] - s["Start"]),
    )
    clean = F.when(F.col("__sp__").isNull(), t).otherwise(rebuilt)
    cols = [clean.alias(out_col) if c == out_col else F.col(c) for c in df.columns]
    if out_col not in df.columns:
        cols.append(clean.alias(out_col))
    return base.select(
        *cols,
        F.coalesce(
            F.when(F.col("__sp__").isNull(), F.lit(0).cast("long")).otherwise(removed),
            F.lit(0).cast("long"),
        ).alias("n_chars_removed"),
    )
