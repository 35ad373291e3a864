"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: `F.zip_with`/`F.aggregate` dot products against a
  broadcast query vector — one scan, no shuffle until the final top-k.
- LSH-bucketed scale path: random-hyperplane signatures bucket vectors so a
  query only scans its bucket (+ optional multi-probe neighbors); buckets are
  an equi-join key, so the same binned-join posture as the interval planner.
- All-pairs similarity join: bucket both sides, verify exact cosine in-bucket.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """HOF fold on purpose — do NOT unroll to element_at chains.

    r6 measured the "optimization" of expanding these folds into explicit
    ``((0+a1*b1)+a2*b2)+...`` expressions (64-dim): the giant projections
    (18 planes x 64 dims in one select) blew past Janino's method limits,
    whole-stage codegen FELL BACK to interpreted for the entire stage, and
    the hot queries regressed 4-12x (cosine_simjoin 4.4s -> 29.7s,
    semantic_dedup 7.6s -> 94s, kmeans 2s -> 33s at sf0.1). The HOF fold is
    CodegenFallback per element but keeps the surrounding stage compiled."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against one query vector: scan + codegen'd arithmetic
    + a single global top-k (rank window over one partition of k-filtered
    per-partition candidates via orderBy/limit — Spark turns orderBy+limit into
    a distributed TakeOrdered, no full sort)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(x * x for x in query_vec))
    scored = df.select(
        F.col(id_col),
        (dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn))).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign-bit per plane, packed to a long."""
    bits = []
    for i, p in enumerate(planes):
        pc = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(vec, pc) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only buckets within ``probe_hamming`` bit flips
    of the query's bucket (multi-probe LSH). At 100TB the bucket column would be
    a partition/bucketing key so non-probed buckets are pruned at the scan."""
    sig = hyperplane_signature(F.col(vec_col), planes)
    bucketed = df.withColumn("__bucket__", sig)

    def sig_of(v: list[float]) -> int:
        s = 0
        for i, p in enumerate(planes):
            if sum(x * y for x, y in zip(v, p)) >= 0:
                s += 2**i
        return s

    qsig = sig_of(query_vec)
    probes = {qsig}
    if probe_hamming >= 1:
        for i in range(len(planes)):
            probes.add(qsig ^ (1 << i))
    cand = bucketed.filter(F.col("__bucket__").isin([int(x) for x in probes]))
    return brute_force_topk(cand, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def _pair_cosine_udf():
    """Arrow-batched pairwise cosine for the candidate-verification hot path.

    The HOF ``cosine()`` is CodegenFallback — ~2*dim boxed fold steps per
    candidate pair, the dominant cost of ``cosine_similarity_join`` at
    sf0.1 (hundreds of thousands of pairs). numpy's vectorized reduction
    differs from the left fold only in summation ORDER (pairwise vs
    sequential), an error ~1e-13 for unit-scale 64-dim vectors — far below
    the oracle's engineered margins (>=6.9e-7 to the nearest cos_micro
    boundary, >=1.2e-4 to the threshold), so the value gate is unaffected.
    (The unroll-to-element_at alternative is a measured 4-12x REGRESSION —
    see ``dot()``.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def cos(va, vb):
        import numpy as np

        a = np.stack(va.to_numpy())
        b = np.stack(vb.to_numpy())
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / den)

    # Real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve here.
    cos.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    # r15 (optimization round): asNondeterministic stops the optimizer's
    # filter pushdown from DUPLICATING the UDF — `withColumn("cosine", udf)
    # .filter(cosine >= t)` planned TWO ArrowEvalPython nodes (one below the
    # pushed filter, one re-computing the projected column), so every
    # candidate pair paid the verification twice (guide §4.4; plan ops 24+27
    # in plans/r15/cosine_simjoin_before.txt). The function is in fact
    # deterministic; the flag only forbids reordering/duplication.
    return pandas_udf(cos, "double").asNondeterministic()


def _pair_cosine(a: Column, b: Column) -> Column:
    return _pair_cosine_udf()(a, b)


def _band_signatures_udf(planes: list[list[float]], bands: int):
    """Arrow-batched band bucket ids: one numpy matmul per batch instead of
    ``bands * planes_per_band`` interpreted ``F.aggregate`` folds per row
    (the HOF ``dot()`` is CodegenFallback — at sf0.1 the per-plane fold was
    the dominant cost of ``cosine_similarity_join``'s candidate stage,
    ~3.5s of signature time for 64 planes). Bit packing matches
    ``hyperplane_signature`` exactly: within band b, plane j contributes
    ``2**j`` when ``dot(vec, plane) >= 0``. numpy's matmul differs from the
    sequential fold only in summation order (~1e-13 for unit-scale 64-dim
    vectors), far below the >=1.7e-4 sign margins verified on the
    fixtures — same reasoning as ``_pair_cosine_udf``, and the DuckDB twin
    (list_dot_product) is itself order-different yet gates green."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)
    per = P.shape[0] // bands
    w = (1 << np.arange(per)).astype(np.int64)

    def sigs(v):
        M = np.stack(v.to_numpy())
        bits = (M @ P.T) >= 0
        arr = np.stack(
            [bits[:, b * per : (b + 1) * per].astype(np.int64) @ w for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(arr))

    sigs.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # r15 (optimization round): same asNondeterministic rationale as
    # _pair_cosine_udf — posexplode's implicit `size(sigs) > 0 AND
    # isnotnull(sigs)` filter was pushed below the projection and planned a
    # SECOND ArrowEvalPython just to evaluate it (plan ops 3+7), doubling
    # the signature pass on each join side.
    return pandas_udf(sigs, "array<long>").asNondeterministic()


def cosine_similarity_join(
    df: DataFrame,
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 1,
) -> DataFrame:
    """All-pairs near-duplicate search by embedding cosine: banded hyperplane
    LSH (the ``minhash_lsh_candidates`` shape from ml/dedup.py applied to
    sign-bit signatures), verify exact cosine once per candidate pair.

    ``planes`` is split into ``bands`` equal groups; each band's sign bits
    pack into one bucket id, a pair is a candidate iff it agrees on ANY band,
    and each pair is emitted exactly once — from its FIRST agreeing band (the
    emit-once trick: a match at band b survives only if no band j < b also
    agreed), so no distinct/groupBy dedup pass is needed.

    Scale/recall dial (this is what makes the op survive 100 TB, vs the
    single-signature form VERDICT r5 flagged as O(n^2/2^planes) in-bucket):
    per-band bucket count is 2^(planes/bands) — raise planes-per-band to cap
    bucket sizes (the quadratic term), raise the band count to buy recall
    back (P[candidate] = 1 - prod_b (1 - p^planes_per_band), p = 1 -
    theta/pi). The bucket ids are equi-join keys, so the candidate stage is a
    plain hash join that AQE skew-splits; the vectors ride along in the
    shuffle (bands x inflation — acceptable for embedding-sized payloads;
    re-join by id instead if vectors are huge)."""
    if len(planes) % bands != 0:
        raise ValueError(f"len(planes)={len(planes)} not divisible by bands={bands}")
    # Signature stage: Arrow-vectorized (see _band_signatures_udf) — the
    # per-band expression form is hyperplane_signature(planes[b*per:(b+1)*per])
    # per band, kept as the semantic spec and for the oracle twin.
    sigs = _band_signatures_udf(planes, bands)(F.col(vec_col))
    b = df.select(F.col(id_col), F.col(vec_col), sigs.alias("__sigs__"))
    # r15 (optimization round): the signature relation feeds BOTH sides of
    # the self-join; unpersisted, each side re-scanned the input and re-ran
    # the signature UDF (the extend_orfs-tiles lesson — the two branches
    # prune/alias differently so their subtrees never canonicalize equal).
    # MEMORY_AND_DISK keeps lineage (executor loss recomputes). Tracked
    # (plans/qcache.py, r16): CacheManager holds persisted plans strongly —
    # the caller releases via free_tracked() once the result is consumed.
    from pyranges_1_x_spark.plans.qcache import persist_tracked

    b = persist_tracked(b)
    a_side = b.toDF("id_a", "vec_a", "sigs_a").select(
        "id_a", "vec_a", "sigs_a", F.posexplode("sigs_a").alias("__band__", "__sig__")
    )
    b_side = b.toDF("id_b", "vec_b", "sigs_b").select(
        "id_b", "vec_b", "sigs_b", F.posexplode("sigs_b").alias("__band_b__", "__sig_b__")
    )
    pairs = a_side.join(
        b_side,
        (F.col("__band__") == F.col("__band_b__"))
        & (F.col("__sig__") == F.col("__sig_b__"))
        & (F.col("id_a") < F.col("id_b")),
    )
    # Emit-once: drop the match unless this is the pair's first agreeing band.
    first_band = ~F.exists(
        F.zip_with(
            F.slice("sigs_a", F.lit(1), F.col("__band__")),
            F.slice("sigs_b", F.lit(1), F.col("__band__")),
            lambda x, y: x == y,
        ),
        lambda agreed: agreed,
    )
    return (
        pairs.filter(first_band)
        .withColumn("cosine", _pair_cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance, summed left-to-right (sequential fold, so
    both engines of an oracle pair produce bit-identical doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


#: Nearest-centroid assignment implementation (kmeans_assign / ivf_assign):
#:   "arrow" — one vectorized pandas UDF per scan (default; r16). The k
#:             HOF fold expressions are CodegenFallback — INTERPRETED per
#:             row — and measured 2.5s for a k=8 assignment over just 2,000
#:             vectors at sf0.1 (~90% of q_kmeans' wall; the r14 PQ lesson,
#:             guide §4). The kernel reproduces the folds bit-exactly:
#:             numpy float64 elementwise ops are IEEE-correct, the
#:             accumulation runs SEQUENTIALLY over dims (the 0.0-seeded
#:             fold order), and argmin/argmax take the first index on ties
#:             (array_position semantics).
#:   "fold"  — the pure-expression formulation (parity/debug twin).
_ASSIGN_IMPL = "arrow"


def _cells_arrow_udf(centroids: list[list[float]], metric: str):
    """Arrow-batched nearest-centroid cell ids (see ``_ASSIGN_IMPL``).

    Malformed rows (null vector / length != dim / null element) return NULL
    — the fold semantics, where zip_with's null padding nulls every
    distance. One documented divergence (the pq-arrow precedent): Arrow
    hands list<double> null elements as NaN, indistinguishable from a real
    NaN element, so BOTH map to NULL here — where the fold twin maps a real
    NaN element to cell 0 (array_position matching NaN against the all-NaN
    distance array). A vector whose distance is undefined has no defensible
    cell; fixtures never exercise it (parity-pinned in
    test_assign_arrow_fold_parity)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = [[float(x) for x in c] for c in centroids]
    k = len(C)
    dim = len(C[0])

    def cells(v):
        import numpy as np  # noqa: PLC0415

        vals = v.tolist()
        out: list[int | None] = [None] * len(vals)
        ok: list[int] = []
        rows = []
        for i, x in enumerate(vals):
            if x is None or len(x) != dim:
                continue
            try:
                rows.append(np.asarray(x, dtype=np.float64))
            except (TypeError, ValueError):
                continue
            ok.append(i)
        if ok:
            M = np.array(rows)
            # NaN elements (real NaN or Arrow's null-element encoding) ->
            # NULL cell (see docstring).
            good = ~np.isnan(M).any(axis=1)
            dmat = np.empty((len(ok), k))
            for c in range(k):
                cen = C[c]
                acc = np.zeros(len(ok))
                if metric == "dot":
                    for j in range(dim):  # sequential: the fold order
                        acc += M[:, j] * cen[j]
                    dmat[:, c] = acc
                else:
                    for j in range(dim):  # sequential: the fold order
                        diff = M[:, j] - cen[j]
                        acc += diff * diff
                    dmat[:, c] = acc
            if metric == "dot":
                # argmax, first index on ties (array_position semantics)
                idx = np.argmax(dmat, axis=1)
            else:
                # argmin, first index on ties
                idx = np.argmin(dmat, axis=1)
            for pos, i in enumerate(ok):
                if good[pos]:
                    out[i] = int(idx[pos])
        return pd.Series(out, dtype="object")

    # Real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve here.
    cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # asNondeterministic: forbid the optimizer's pushdown from DUPLICATING
    # the ArrowEvalPython node under derived filters (the r15 §4.4 lesson —
    # e.g. ivf_topk filters on __cell__ right above this projection). The
    # kernel is deterministic; the flag only forbids reordering/duplication.
    return pandas_udf(cells, "long").asNondeterministic()


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cell_col: str = "__cell__",
    impl: str | None = None,
) -> DataFrame:
    """Attach the index of the nearest centroid by squared euclidean distance
    (ties -> lowest index). Centroids are broadcast constants; assignment is
    one Arrow-batched scan (``_ASSIGN_IMPL``; ``impl="fold"`` forces the
    pure-expression twin), no shuffle."""
    if (impl or _ASSIGN_IMPL) == "arrow":
        return df.withColumn(cell_col, _cells_arrow_udf(centroids, "l2")(F.col(vec_col)))
    dists = F.array(
        *[
            sq_dist(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
            for c in centroids
        ]
    )
    return df.withColumn(
        cell_col, (F.array_position(dists, F.array_min(dists)) - 1).cast("long")
    )


def kmeans_lloyd(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1024,
):
    """Distributed Lloyd k-means over an embedding column, pure DataFrame ops
    — the coarse-quantizer trainer for ``ivf_assign``/``ivf_topk``.

    Deterministic contract (what makes it oracle-able): init centroids = the
    vectors of the ``k`` smallest ids; each update quantizes the per-cell
    mean to ``1/quant`` steps, so the centroid stream is reproducible across
    engines and across Spark's own partition orders (float sums differ in
    low bits; the quantization absorbs them — boundary margins are verified
    by the gate's docstring check). Empty cells keep their previous centroid.

    Scale shape: per iteration ONE scan + a map-side-combinable
    (cell, dim) hash agg; only k*d aggregated doubles ever reach the driver
    (the standard iterative-ML pattern — the data never collects). Returns
    (assigned DataFrame with ``__cell__``, final centroids).
    """
    import math

    rows = (
        df.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in rows]
    dim = len(centroids[0])
    for _ in range(iters):
        asg = kmeans_assign(df, centroids, vec_col=vec_col)
        # r16: per-dim sums as `dim` codegen'd SUM columns over one
        # groupBy(cell) scan — the posexplode formulation blew the relation
        # up dim-fold and hash-aggregated (cell, dim) keyed rows (0.74s vs
        # ~0.1s per iteration at sf0.1). Same addend set per (cell, dim);
        # only the parallel-sum order changes, which the 1/quant centroid
        # quantization absorbs by contract (gate-verified margins are
        # ~1e8 x the float divergence).
        vcast = F.col(vec_col).cast("array<double>")
        stats = (
            asg.groupBy("__cell__")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.element_at(vcast, j + 1)).alias(f"s{j}") for j in range(dim)],
            )
            .collect()
        )
        per = {
            (r["__cell__"], j): (r[f"s{j}"], r["n"])
            for r in stats
            for j in range(dim)
        }
        centroids = [
            [
                (math.floor(per[(c, j)][0] / per[(c, j)][1] * quant) / quant)
                if (c, j) in per
                else centroids[c][j]
                for j in range(dim)
            ]
            for c in range(k)
        ]
    return kmeans_assign(df, centroids, vec_col=vec_col), centroids


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 between two array columns as the 0.0-seeded sequential
    fold — the ``dot`` numeric discipline, reproduced bit-identically by
    DuckDB's ``list_sum(list_transform(list_zip(...)))`` (the pairing the
    kmeans gate proves through two Lloyd rounds)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Attach ``__cell__`` = index of the nearest centroid — by inner
    product (metric="dot", the cosine-family default shared with
    ``ivf_topk``) or by squared L2 (metric="l2", first index on ties),
    the metrically-consistent choice when the fine stage is L2-based ADC
    (``pq_topk``). r14: the ``--vecs=10`` pruning cell
    (scripts/check_vectors_scaled.py) measured the dot-probe/L2-ADC
    mismatch at recall@10 = 0.0 vs the full ADC scan — large-dot cells
    hold LARGE vectors, which are L2-FAR from the query — so the IVFADC
    composition (q_ivfpq_topk) now assigns and probes by L2. Measured
    trade on the clustered 10x twin: 2/8 probes scan 25% and read
    recall@10 = 1.0; the uniform twin is the negative control (recall
    flat until the full scan — distance concentration makes Voronoi
    pruning uninformative on unclustered 64-dim data, the measured form
    of "IVF needs a trained/clustered quantizer"). SCALING.md has both
    curves.

    The centroid list is a driver-side constant (coarse quantizers are tiny
    by construction — k ~ sqrt(N)); assignment is a codegen'd expression per
    row, no shuffle. At 100 TB the cell column becomes the table's partition
    or bucketing key so probes prune at the scan."""
    if metric not in ("dot", "l2"):
        # fail loudly: a typo ("L2", "euclidean") silently falling through
        # to the dot path would recreate the exact probe/ADC metric
        # mismatch the r14 pruning cell measured at recall 0 (review find)
        raise ValueError(f"metric must be 'dot' or 'l2', got {metric!r}")
    if _ASSIGN_IMPL == "arrow":
        # One Arrow-batched scan instead of k interpreted CodegenFallback
        # folds per row (see _ASSIGN_IMPL / _cells_arrow_udf — bit-exact
        # fold order, first-index tie rule for both metrics).
        return df.withColumn(
            "__cell__", _cells_arrow_udf(centroids, metric)(F.col(vec_col))
        )
    if metric == "l2":
        dists = F.array(
            *[
                sq_l2(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
                for c in centroids
            ]
        )
        # argmin: first index on ties; _pq_argmin evaluates the k
        # CodegenFallback folds ONCE per row (this is the per-vector
        # 100 TB assignment scan — the bare duplicated argmin shape would
        # double it; review find)
        return df.withColumn(
            "__cell__", _pq_argmin(dists).cast("long")
        )
    dots = F.array(
        *[dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c])) for c in centroids]
    )
    # argmax: first index attaining the maximum (deterministic tie rule);
    # the one-element-transform idiom binds the k fold expressions so they
    # evaluate once per row, not twice (r14 review find, same as the l2 arm)
    pos = F.element_at(
        F.transform(
            F.array(dots), lambda dl: F.array_position(dl, F.array_max(dl))
        ),
        1,
    )
    return df.withColumn("__cell__", (pos - 1).cast("long"))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` inverted lists whose
    centroids are nearest the query (classic IVF-Flat, the coarse-quantizer
    half of Jégou et al.'s IVFADC; the quantizer here is pluggable — pass
    k-means centroids in production, any deterministic sample for tests).

    Complement to ``lsh_topk``: LSH probes hash buckets, IVF probes Voronoi
    cells — IVF recall degrades more gracefully on clustered data."""
    scored = [
        (i, sum(x * y for x, y in zip(query_vec, c))) for i, c in enumerate(centroids)
    ]
    probes = [i for i, _ in sorted(scored, key=lambda t: (-t[1], t[0]))[:n_probe]]
    cand = ivf_assign(df, centroids, vec_col=vec_col).filter(
        F.col("__cell__").isin([int(p) for p in probes])
    )
    return brute_force_topk(cand, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def semantic_dedup_clusters(
    df: DataFrame,
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bands: int = 1,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate clustering: banded-LSH cosine pairs ->
    distributed connected components -> one canonical vector per semantic
    cluster. The embedding twin of ``ml.dedup.dedup_clusters`` — same output
    contract ``(id_col, cluster_id, is_canonical)``, cluster id = smallest
    member id, singletons canonical.

    Scale: inherits ``cosine_similarity_join``'s banded-bucket candidate
    shape (never all-pairs) and ``connected_components``' edge-relation
    iteration; the final membership join is one broadcast-sized label table
    against the corpus when dup rates are low, a plain shuffle join
    otherwise.
    """
    from pyranges_1_x_spark.ml.dedup import connected_components

    pairs = cosine_similarity_join(
        df, planes, vec_col=vec_col, id_col=id_col, threshold=threshold, bands=bands
    ).select("id_a", "id_b")
    cc = connected_components(pairs, max_iter=max_iter, checkpoint_dir=checkpoint_dir)
    return (
        df.select(F.col(id_col))
        .join(cc, df[id_col] == cc["node"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def pq_codebooks(
    dim: int = 64, m: int = 8, k: int = 16, seed: int = 77, scale: float = 0.5
) -> list[list[list[float]]]:
    """Deterministic seeded product-quantization codebooks: ``m`` subspaces of
    ``dim/m`` dims, ``k`` centroids each. A production pipeline trains these
    with ``kmeans_lloyd`` per subspace (same engine, already gated); seeded
    uniform codebooks keep the GATE deterministic while exercising the exact
    encode+ADC machinery — the ``_lsh_planes`` shared-literal precedent."""
    import random

    if dim % m:
        raise ValueError("dim must divide into m equal subspaces")
    rng = random.Random(seed)
    dsub = dim // m
    return [
        [[rng.uniform(-scale, scale) for _ in range(dsub)] for _ in range(k)]
        for _ in range(m)
    ]


def _pq_dist_arrays(vec: Column, codebooks: list[list[list[float]]]) -> list[Column]:
    """Per-subspace arrays of k squared-L2 distances, each the 0.0-seeded
    sequential HOF fold over the subspace's dims."""
    dsub = len(codebooks[0][0])
    arrays = []
    for s, cb in enumerate(codebooks):
        sub = F.slice(vec, s * dsub + 1, dsub)
        dists = [
            F.aggregate(
                F.zip_with(
                    sub,
                    F.array(*[F.lit(float(x)) for x in centroid]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for centroid in cb
        ]
        arrays.append(F.array(*dists))
    return arrays


def _pq_argmin(dist_array: Column) -> Column:
    """FIRST index (0-based, int) of the minimum in a distance-array column.
    ``array_position(arr, array_min(arr))`` references the array twice, so
    it is wrapped in the one-element-transform idiom and the array is
    evaluated once — the array is a HOF-fold subtree (already
    CodegenFallback), so the transform costs nothing extra and halves the
    fold evaluations. An all-NULL array (malformed vector) yields NULL:
    array_min skips nulls -> NULL, array_position(arr, NULL) -> NULL."""
    pos = F.element_at(
        F.transform(
            F.array(dist_array),
            lambda dl: F.array_position(dl, F.array_min(dl)),
        ),
        1,
    )
    return (pos - 1).cast("int")


def pq_encode(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ codes for a vector column: per subspace, the index of the nearest
    codebook centroid (squared L2; FIRST index on ties). Returns
    ``array<int>`` of ``m`` codes — the 100 TB ANN compression step: a
    64-dim float vector becomes m log2(k)-bit codes (8 bytes here), so the
    scan side of search reads ~30x less than raw embeddings.

    Numeric discipline: each distance is the left-assoc 0.0-seeded HOF fold
    ``((0.0+d*d)+d*d)+...``. DuckDB's ``list_sum(list_transform(...))``
    reproduces it bit-identically (proven through the kmeans gate), so
    argmin agrees across engines unconditionally — no margin assumptions
    needed. The per-subspace distance ARRAY is bound once as a lambda
    variable (the one-element-transform idiom) so argmin's two consumers
    don't re-evaluate the k distances twice. An unrolled ``element_at``
    chain of the same arithmetic fails Janino compilation on
    production-sized codebooks and runs interpreted (SCALING.md, "PQ
    scoring shape A/B (r14)").
    """
    return F.array(*[_pq_argmin(arr) for arr in _pq_dist_arrays(vec, codebooks)])


def pq_adc_table(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Driver-side ADC lookup table: squared L2 from the query's subvectors
    to every (subspace, centroid). Pure Python floats (``sum`` is the
    0-seeded left fold), so an oracle twin embedding these values as
    literals is byte-identical by construction — shared by ``pq_topk`` and
    the driver gate's SQL generator."""
    dsub = len(codebooks[0][0])
    return [
        [
            sum(
                (query_vec[s * dsub + j] - c[j]) * (query_vec[s * dsub + j] - c[j])
                for j in range(dsub)
            )
            for c in cb
        ]
        for s, cb in enumerate(codebooks)
    ]


def _pq_adist_arrow(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Arrow-batched encode+ADC: one vectorized pandas UDF computes each
    row's PQ codes and the m-lookup ADC sum. Bit-identical to the
    ``pq_encode`` fold codes summed through the ADC table, by construction:
    numpy float64 elementwise ops are IEEE-correct per element, the
    per-centroid distance accumulates ``acc += diff*diff``
    SEQUENTIALLY over the dsub dims (the 0.0-seeded fold order), argmin is
    numpy's first-index-on-ties, and adist accumulates sequentially over
    subspaces. Malformed vectors (null / short / containing null-or-NaN
    elements) return NULL and are dropped by the caller — for null/short
    that's exactly the fold semantics; a NaN-element vector gets NaN adist
    under the fold and sorts LAST (Spark treats NaN as greatest), so
    dropping it leaves the same top-k whenever k finite rows exist. The one
    residual divergence (documented trade, r14 review): with FEWER than k
    finite rows a fold-scored top-k would NaN-pad its tail while this
    returns only the finite rows — a row whose distance is undefined
    has no defensible rank."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cbs = [[list(map(float, c)) for c in cb] for cb in codebooks]
    tbl = [list(map(float, row)) for row in table]

    def _adist(v):
        import numpy as np  # noqa: PLC0415

        n = len(v)
        vals = v.tolist()
        # Arrow hands list<double> elements as float64 ndarrays (nulls
        # inside become NaN); local-test rows may arrive as Python lists
        # possibly holding None — a failed conversion is a malformed row.
        ok: list[int] = []
        rows = []
        for i, x in enumerate(vals):
            if x is None or len(x) < dim:
                continue
            try:
                rows.append(np.asarray(x[:dim], dtype=np.float64))
            except (TypeError, ValueError):
                continue
            ok.append(i)
        out: list[float | None] = [None] * n
        if ok:
            M = np.array(rows)
            finite = ~np.isnan(M).any(axis=1)
            acc = np.zeros(len(ok))
            for s in range(m):
                sub = M[:, s * dsub : (s + 1) * dsub]
                dmat = np.empty((len(ok), k))
                for c in range(k):
                    cen = cbs[s][c]
                    dacc = np.zeros(len(ok))
                    for j in range(dsub):  # sequential: the fold order
                        diff = sub[:, j] - cen[j]
                        dacc += diff * diff
                    dmat[:, c] = dacc
                codes = np.argmin(dmat, axis=1)  # first index on ties
                acc += np.asarray(tbl[s])[codes]  # sequential over subspaces
            for row_pos, i in enumerate(ok):
                if finite[row_pos]:
                    out[i] = float(acc[row_pos])
        return pd.Series(out, dtype="object")

    # Real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve here.
    _adist.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # r15 (optimization round): asNondeterministic — downstream constraint
    # inference pushed an `isnotnull(adist)` filter below the projection and
    # planned a SECOND ArrowEvalPython (plans/r15/pq_topk_before.txt ops
    # 3+6), scoring every row twice (guide §4.4). The fold is deterministic;
    # the flag only forbids the duplication.
    udf = F.pandas_udf(_adist, "double").asNondeterministic()
    return df.select(F.col(id_col), udf(F.col(vec_col)).alias("adist"))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): encode
    every row to PQ codes, precompute the query's distance to every
    (subspace, centroid) pair ON THE DRIVER (m*k floats — pure Python, so
    the table is literal-identical in any engine), and score each row as the
    sum of m table lookups. Jegou/Douze/Schmid, "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011.

    Returns (id, adist, rank) for the k best rows (ties on ascending id).
    Scale shape: one scan of codes + a distributed TakeOrdered — at 100 TB
    the codes column is what's stored (bytes, not float arrays) and this
    composes with IVF partition pruning (``ivf_topk``) for the classic
    IVF-PQ stack. The m lookups accumulate 0.0-seeded in subspace order so
    the double compares bit-exactly cross-engine.

    Plan shape (r14, VERDICT r13 #3): scoring runs in ONE vectorized
    pandas UDF (``_pq_adist_arrow``), bit-identical to the ``pq_encode``
    fold codes summed through the ADC table. Interleaved three-arm A/B at
    sf0.1, results asserted bit-identical before timing (SCALING.md, "PQ
    scoring shape A/B (r14)"): 0.43s for this UDF vs 5.0s for the HOF fold
    (128 interpreted CodegenFallback lambdas per row — the board's most
    volatile query, 5.2-22.5s across same-code r13 sessions) vs 17.0s for
    an unrolled element_at chain, which fails Janino compilation."""
    table = pq_adc_table(query_vec, codebooks)
    scored = _pq_adist_arrow(df, vec_col, id_col, table, codebooks)
    # A malformed/short embedding yields NULL codes -> NULL adist, and a
    # plain asc sort puts NULLS FIRST — garbage rows would displace true
    # neighbors from the top-k (review find, r12). Drop them: a row that
    # cannot be encoded has no defensible distance.
    scored = scored.filter(F.col("adist").isNotNull())
    top = scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))
