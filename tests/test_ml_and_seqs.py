"""Training-data-pipeline ops (dedup/text/similarity/multimodal) + sequence ops."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_exact_and_signature_dedup(spark):
    from pyranges_1_x_spark.ml.dedup import dedup_exact, exact_duplicates, signature_duplicates

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["a b c", "a b c", "c b a", "x y z"],
            }
        )
    )
    ed = exact_duplicates(docs).toPandas()
    assert sorted(ed.n_docs) == [1, 1, 2]
    kept = dedup_exact(docs).toPandas()
    assert sorted(kept.doc_id) == [1, 3, 4]
    sig = signature_duplicates(docs).toPandas()
    # "a b c" x2 and "c b a" share a bag-of-words signature
    assert sorted(sig.n_docs) == [1, 3]


def test_minhash_lsh_finds_near_dups(spark):
    from pyranges_1_x_spark.ml.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [base, base.replace("lazy", "sleepy"), "completely different words entirely here now okay"],
            }
        )
    )
    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=16, k=2).toPandas()
    pairs = set(zip(cand.id_a, cand.id_b))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    verified = ngram_jaccard_pairs(
        minhash_lsh_candidates(docs, num_hashes=32, bands=16, k=2), docs, k=2, threshold=0.5
    ).toPandas()
    assert set(zip(verified.id_a, verified.id_b)) == {(1, 2)}


def test_simhash_similar_docs_close(spark):
    from pyranges_1_x_spark.ml.dedup import simhash

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon zeta eta theta",
                    "alpha beta gamma delta epsilon zeta eta iota",
                    "one two three four five six seven eight",
                ],
            }
        )
    )
    out = docs.select("doc_id", simhash(F.col("text"), bits=32).alias("sh")).toPandas()
    h = dict(zip(out.doc_id, out.sh))
    d12 = bin(int(h[1]) ^ int(h[2])).count("1")
    d13 = bin(int(h[1]) ^ int(h[3])).count("1")
    assert d12 < d13


def test_brute_force_topk_cosine(spark):
    from pyranges_1_x_spark.ml.similarity import brute_force_topk

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    top = brute_force_topk(df, [1.0, 0.0, 0.0], k=2).toPandas()
    assert top.vec_id.tolist() == [0, 1]
    assert math.isclose(top.cosine.iloc[0], 1.0, abs_tol=1e-9)


def test_lsh_topk_matches_brute_force(spark):
    import random

    from pyranges_1_x_spark.ml.similarity import brute_force_topk, lsh_topk

    rng = random.Random(4)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = vecs[7][1]
    planes = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
    exact = brute_force_topk(df, q, k=1).toPandas().vec_id.tolist()
    approx = lsh_topk(df, q, planes, k=1, probe_hamming=1).toPandas().vec_id.tolist()
    assert approx[0] == exact[0]  # query's own bucket contains itself


def test_multimodal_feature_plumbing(spark):
    from pyranges_1_x_spark.ml.multimodal import extract_features, frame_sample, synthetic_media

    media = synthetic_media(spark, 30)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 8 for f in feats.feature)
    fs = frame_sample(media, every_n=7).toPandas()
    assert (fs.frame_index % 7 == 0).all()


def test_reverse_complement_and_translate(spark):
    from pyranges_1_x_spark.functions.seqs import reverse_complement, translate_cds

    df = spark.createDataFrame([("ATGAAATAG",)], "seq string")
    out = df.select(
        reverse_complement(F.col("seq")).alias("rc"),
        translate_cds(F.col("seq")).alias("aa"),
    ).head()
    assert out.rc == "CTATTTCAT"
    assert out.aa == "MK*"


def test_get_sequence(spark):
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges

    gr = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                [("chr1", 1, 4, "+"), ("chr1", 1, 4, "-")],
                columns=["Chromosome", "Start", "End", "Strand"],
            )
        )
    )
    seqs = spark.createDataFrame([("chr1", "AACGTT")], "Chromosome string, Sequence string")
    out = gr.get_sequence(seqs).df.toPandas().sort_values("Strand")
    assert out[out.Strand == "+"].Seq.iloc[0] == "ACG"
    assert out[out.Strand == "-"].Seq.iloc[0] == "CGT"


def test_get_sequence_sizing_memo_consulted(spark):
    """ADVICE r8: with tile_size unset, the broadcast-vs-tiled sizing job is
    memoized per (session, sequences plan semanticHash). Prove the memo is
    actually CONSULTED (not just populated): poison the cached size past the
    tile threshold and the next identical call must pick the tiled plan
    (\\G-split Generate in the plan); clearing the memo restores broadcast."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.functions import seqs as S

    gr = GenomicRanges(
        spark.createDataFrame(
            pd.DataFrame(
                [("chr1", 1, 4, "+")],
                columns=["Chromosome", "Start", "End", "Strand"],
            )
        )
    )
    seqs = spark.createDataFrame(
        [("chr1", "AACGTTAC")], "Chromosome string, Sequence string"
    )

    def plan_of(g):
        return g.df._jdf.queryExecution().executedPlan().toString()

    # auto_tile_cache off: this test pins the SIZING memo specifically (the
    # adopted-tile registry would otherwise absorb the poisoned tiled call
    # and hide the \G plan marker — its own test is
    # test_get_sequence_auto_tile_adoption).
    S._SIZE_CACHE.clear()
    out1 = gr.get_sequence(seqs, auto_tile_cache=False)
    assert "\\G" not in plan_of(out1)  # tiny table -> broadcast plan
    # ADVICE r10: weak-keyed per-session memo (session -> {semanticHash: size})
    memo = S._SIZE_CACHE[spark]
    assert len(memo) == 1 and list(memo.values()) == [8]
    key = next(iter(memo))
    memo[key] = S._TILE_THRESHOLD + 1  # poison: pretend it's huge
    out2 = gr.get_sequence(seqs, auto_tile_cache=False)
    assert "\\G" in plan_of(out2)  # memo consulted -> tiled plan, no re-size
    assert S._SIZE_CACHE[spark][key] == S._TILE_THRESHOLD + 1  # no re-measure
    S._SIZE_CACHE.clear()
    out3 = gr.get_sequence(seqs, auto_tile_cache=False)
    assert "\\G" not in plan_of(out3)
    assert out3.df.collect()[0]["Seq"] == "ACG"


def test_genetic_code_tables():
    from pyranges_1_x_spark.functions.genetic_codes import (
        GENETIC_CODES,
        get_genetic_code,
        stop_codons,
    )
    from pyranges_1_x_spark.functions.seqs import STANDARD_CODE

    # 25 NCBI tables, each with a +U selenocysteine variant
    assert len(GENETIC_CODES) == 50
    t1 = get_genetic_code(1)
    assert all(t1[c] == aa for c, aa in STANDARD_CODE.items())
    assert t1["---"] == "-"
    # canonical table differences (NCBI): vertebrate mito recodes ATA->M,
    # TGA->W, AGA/AGG->stop; yeast mito (3) recodes CTN->T; ciliate (6)
    # recodes TAA/TAG->Q
    t2 = get_genetic_code("2")
    assert (t2["ATA"], t2["TGA"], t2["AGA"], t2["AGG"]) == ("M", "W", "*", "*")
    assert get_genetic_code(3)["CTG"] == "T"
    assert get_genetic_code(6)["TAA"] == "Q"
    assert set(stop_codons(1)) == {"TAA", "TAG", "TGA"}
    assert set(stop_codons(2)) == {"TAA", "TAG", "AGA", "AGG"}
    assert stop_codons("6") == ("TGA",)
    assert set(stop_codons("1+U")) == {"TAA", "TAG"}  # TGA -> U
    assert get_genetic_code({"AAA": "X"}) == {"AAA": "X"}
    with pytest.raises(ValueError):
        get_genetic_code(7)


def test_translate_cds_chunked_matches_python_oracle(spark):
    """The sqrt-chunked plan must translate byte-identically to a naive
    Python oracle across lengths that exercise every chunk boundary shape:
    empty, sub-codon, exact-chunk multiples, trailing partial codons,
    lowercase, unknown codons, and a long (~30 kb) outlier row."""
    import random

    from pyranges_1_x_spark.functions.seqs import STANDARD_CODE, translate_cds

    rng = random.Random(421)
    lengths = [0, 1, 2, 3, 4, 5, 6, 8, 9, 26, 27, 28, 47, 48, 49, 300, 2999, 30_000]
    rows = []
    for i, n in enumerate(lengths):
        s = "".join(rng.choice("ACGTacgtN") for _ in range(n))
        rows.append((i, s))
    rows.append((len(rows), None))

    def oracle(s):
        if s is None or len(s) < 3:
            return ""
        u = s.upper()
        return "".join(
            STANDARD_CODE.get(u[j : j + 3], "X") for j in range(0, len(u) - 2, 3)
        )

    df = spark.createDataFrame(rows, "i int, seq string")
    got = {
        r.i: r.aa
        for r in df.select("i", translate_cds(F.col("seq")).alias("aa")).collect()
    }
    for i, s in rows:
        assert got[i] == oracle(s), f"mismatch at row {i} (len={len(s or '')})"


def test_translate_cds_alternate_tables(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.functions.seqs import translate_cds

    df = spark.createDataFrame([("ATATGAAGA",)], "seq string")
    got = df.select(
        translate_cds(F.col("seq")).alias("t1"),
        translate_cds(F.col("seq"), code=2).alias("t2"),
        translate_cds(F.col("seq"), code="2+U").alias("t2u"),
    ).collect()[0]
    assert got.t1 == "I*R"   # standard: ATA=I, TGA=*, AGA=R
    assert got.t2 == "MW*"   # vertebrate mito: ATA=M, TGA=W, AGA=*
    assert got.t2u == "MU*"  # +U: TGA=selenocysteine


def test_winnow_fingerprints_long_doc_python_oracle(spark):
    """Pin the r10 overlap-chunked gram hashing on a document long enough to
    span many chunks (~20 kb, c = ceil(sqrt(n_grams)) ~ 142): the fingerprint
    set must equal a brute-force Python winnow built on the Spark-exact xxh64
    twin (ml/xxh64.py). Catches chunk-boundary off-by-ones (a lost or
    duplicated boundary gram shifts window minima) independently of the old
    plan."""
    import random

    from pyranges_1_x_spark.ml.text import winnow_fingerprints
    from pyranges_1_x_spark.ml.xxh64 import spark_xxhash64_str

    k, window = 5, 4
    rng = random.Random(77)
    text = "".join(rng.choice("abcdefg hij") for _ in range(20_000)).strip()
    hashes = [
        spark_xxhash64_str(text[i : i + k]) for i in range(max(len(text) - k + 1, 1))
    ]
    expect = set()
    for pos, h in enumerate(hashes):
        if h == min(hashes[max(pos - window + 1, 0) : pos + 1]):
            expect.add(h)

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r.fp for r in winnow_fingerprints(df, k=k, window=window).collect()}
    assert got == expect


def test_winnow_fingerprints_row_local_plan(spark):
    """r15 optimization pin: fingerprint selection and per-document dedup are
    array expressions inside the row — the physical plan must contain no
    Exchange (the pre-r15 shape shuffled every gram position for a Window
    min, then shuffled survivors again for distinct)."""
    from pyranges_1_x_spark.ml.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, k=5, window=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "winnow regressed to a shuffling plan"
    assert "Window" not in plan


def test_winnow_fingerprints_robust_to_insertion(spark):
    from pyranges_1_x_spark.ml.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    edited = base.replace("jumps", "jumped")
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    fps = winnow_fingerprints(df, k=5, window=4).toPandas()
    s1 = set(fps[fps.doc_id == 1].fp)
    s2 = set(fps[fps.doc_id == 2].fp)
    # local edit: most fingerprints shared, but not all
    inter = len(s1 & s2)
    assert inter / max(len(s1), len(s2)) > 0.5
    assert s1 != s2
    # identical docs -> identical fingerprint sets
    df2 = spark.createDataFrame([(3, base), (4, base)], "doc_id long, text string")
    fps2 = winnow_fingerprints(df2, k=5, window=4).toPandas()
    assert set(fps2[fps2.doc_id == 3].fp) == set(fps2[fps2.doc_id == 4].fp)


def test_ivf_topk_matches_bruteforce_in_probed_cells(spark):
    import random

    from pyranges_1_x_spark.ml.similarity import brute_force_topk, ivf_assign, ivf_topk

    rng = random.Random(11)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [v for _, v in vecs[:4]]
    qv = vecs[0][1]
    got = ivf_topk(df.filter("vec_id <> 0"), qv, cents, k=5, n_probe=2).toPandas()
    assert len(got) == 5
    # IVF top-k == brute force restricted to the probed cells
    assigned = ivf_assign(df.filter("vec_id <> 0"), cents).toPandas()
    scored = [
        (i, sum(x * y for x, y in zip(qv, c))) for i, c in enumerate(cents)
    ]
    probes = {i for i, _ in sorted(scored, key=lambda t: (-t[1], t[0]))[:2]}
    keep = set(assigned[assigned.__cell__.isin(probes)].vec_id)
    bf = brute_force_topk(df.filter(df.vec_id.isin(keep)), qv, k=5).toPandas()
    assert list(got.vec_id) == list(bf.vec_id)


def test_kmeans_lloyd_separable(spark):
    """Two well-separated blobs -> 2 pure cells after one iteration, and the
    quantized centroids land on the blob means."""
    import pandas as pd

    from pyranges_1_x_spark.ml.similarity import kmeans_lloyd

    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3), 10.0]))          # blob A near (11, 10)
        rows.append((100 + i, [-10.0 - (i % 3), -10.0]))  # blob B near (-11, -10)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    )
    assigned, cents = kmeans_lloyd(df, k=2, iters=2, quant=1024)
    out = assigned.toPandas()
    cells_a = set(out[out.vec_id < 100]["__cell__"])
    cells_b = set(out[out.vec_id >= 100]["__cell__"])
    assert len(cells_a) == 1 and len(cells_b) == 1 and cells_a != cells_b
    # blob means: x = mean(10,11,12 pattern over 10 pts) = 10.9, y = +/-10,
    # floor-quantized to 1/1024 steps (negative means floor AWAY from zero)
    import math

    q = lambda v: math.floor(v * 1024) / 1024  # noqa: E731
    flat = sorted((c[0], c[1]) for c in cents)
    assert flat == [(q(-10.9), -10.0), (q(10.9), 10.0)]


def test_connected_components_matches_union_find(spark):
    """Random graph: distributed CC labels == a driver-side union-find."""
    import random

    from pyranges_1_x_spark.ml.dedup import connected_components

    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (f"n{min(a, b):03d}", f"n{max(a, b):03d}")
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
        )
        if a != b
    ]
    # Expected: classic union-find on the same edges.
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a string, id_b string")
    # driver_threshold=0 forces the distributed min-label rounds; the
    # default adaptive path is union-find-on-driver and is cross-checked
    # against this one in test_connected_components_small_path_equals.
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == expected


def test_connected_components_path_graph_converges(spark):
    """A 40-node path is the worst case for plain neighbor-min (diameter
    rounds); pointer jumping must still converge inside max_iter=8."""
    from pyranges_1_x_spark.ml.dedup import connected_components

    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(39)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    out = connected_components(df, max_iter=8, driver_threshold=0).collect()
    assert len(out) == 40
    assert {r["component"] for r in out} == {"p00"}


def test_connected_components_null_ids_both_paths(spark):
    """NULL endpoint rows are dropped identically by both paths (ADVICE r7:
    the driver union-find raised TypeError on None comparison while the
    distributed path silently dropped them via equi-join semantics)."""
    from pyranges_1_x_spark.ml.dedup import connected_components

    edges = [("a", "b"), ("b", None), (None, "c"), (None, None), ("c", "d")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    for thr in (0, 10**6):  # distributed path, then driver union-find path
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=thr).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}, thr


def test_dedup_clusters_singletons_and_groups(spark):
    from pyranges_1_x_spark.ml.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            ("d1", base),
            ("d2", base + " ok"),          # near-dup of d1
            ("d3", "completely different text about spark and parquet files"),
            ("d4", base + " ok"),          # exact dup of d2 -> same cluster as d1
        ],
        "doc_id string, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, threshold=0.6).collect()}
    assert rows["d1"]["cluster_id"] == "d1" and rows["d1"]["is_canonical"]
    assert rows["d2"]["cluster_id"] == "d1" and not rows["d2"]["is_canonical"]
    assert rows["d4"]["cluster_id"] == "d1" and not rows["d4"]["is_canonical"]
    assert rows["d3"]["cluster_id"] == "d3" and rows["d3"]["is_canonical"]


def test_ngram_contamination_flags_shared_span(spark):
    from pyranges_1_x_spark.ml.dedup import ngram_contamination

    train = spark.createDataFrame(
        [
            ("t1", "alpha beta gamma delta epsilon zeta"),   # contains eval 4-gram
            ("t2", "one two three four five six seven"),     # clean
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame(
        [("e1", "XX alpha beta gamma delta YY")], "doc_id string, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_contamination(train, ev, n=4).collect()}
    assert set(rows) == {"t1"}
    # t1 has 3 distinct 4-grams; exactly one ("alpha beta gamma delta") is in eval
    assert rows["t1"]["n_hit_ngrams"] == 1 and rows["t1"]["n_ngrams"] == 3
    assert abs(rows["t1"]["contamination_rate"] - 1 / 3) < 1e-12


def test_stratified_sample_deterministic_and_bounded(spark):
    from pyranges_1_x_spark.ml.sampling import hash_sample, stratified_sample

    docs = spark.createDataFrame(
        [(str(i), "src%d" % (i % 2), "x") for i in range(400)],
        "doc_id string, source string, text string",
    )
    out1 = sorted(r["doc_id"] for r in stratified_sample(
        docs, "source", {"src0": 0.5}, default=0.1, seed=3).collect())
    out2 = sorted(r["doc_id"] for r in stratified_sample(
        docs.repartition(13), "source", {"src0": 0.5}, default=0.1, seed=3).collect())
    assert out1 == out2  # partitioning-independent membership
    n0 = sum(1 for d in out1 if int(d) % 2 == 0)
    n1 = len(out1) - n0
    assert 60 <= n0 <= 140 and 5 <= n1 <= 45  # ~100 of 200 / ~20 of 200
    # different seed -> different subset; same fraction ballpark
    out3 = sorted(r["doc_id"] for r in hash_sample(docs, 0.5, seed=9).collect())
    assert out3 != out1 and 140 <= len(out3) <= 260


def test_deterministic_shuffle_total_order_and_reproducible(spark):
    from pyranges_1_x_spark.ml.sampling import deterministic_shuffle

    docs = spark.createDataFrame(
        [(str(i),) for i in range(300)], "doc_id string"
    )
    r1 = {r["doc_id"]: r["shuffle_rank"]
          for r in deterministic_shuffle(docs, seed=1).collect()}
    # total permutation of 1..300
    assert sorted(r1.values()) == list(range(1, 301))
    # partitioning-independent
    r2 = {r["doc_id"]: r["shuffle_rank"]
          for r in deterministic_shuffle(docs.repartition(17), seed=1).collect()}
    assert r1 == r2
    # different seed -> different permutation; still total
    r3 = {r["doc_id"]: r["shuffle_rank"]
          for r in deterministic_shuffle(docs, seed=2).collect()}
    assert sorted(r3.values()) == list(range(1, 301)) and r3 != r1
    # actually shuffled (not identity / not sorted-by-id order)
    ids_in_rank_order = [d for d, _ in sorted(r1.items(), key=lambda kv: kv[1])]
    assert ids_in_rank_order != sorted(r1, key=int)


def test_curation_pipeline_end_to_end(spark):
    """The README's curation tour actually composes: scrub -> boilerplate
    strip -> substring dedup -> quality filter -> LM signal -> quota ->
    shuffle -> pack runs as one chain of DataFrame transforms and every
    stage's contract holds on the way through."""
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.dedup import strip_repeated_substrings
    from pyranges_1_x_spark.ml.sampling import (
        pack_training_examples,
        quota_sample,
    )
    from pyranges_1_x_spark.ml.text import (
        filter_corpus,
        lm_bigram_score,
        remove_boilerplate_lines,
        scrub_pii,
    )

    boiler = "COOKIE BANNER ACCEPT ALL"
    shared = "this exact sentence repeats across documents verbatim"
    # bodies must be genuinely unique per doc — templated filler would be
    # (correctly!) eaten by the substring dedup stage
    rows = [
        (i,
         f"{boiler}\nwrite to u{i}@example.com "
         + " ".join(f"w{(i * 13 + j * 7) % 211}q{j}" for j in range(15))
         + (f" {shared}" if i % 2 == 0 else f" solo trailer {i}"),
         "web" if i % 3 else "books")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    # the README chain verbatim: every stage passes non-text columns
    # through, so the stages compose without manual re-joins
    scrubbed = scrub_pii(docs, out_col="text")
    assert scrubbed.filter("n_email = 0").count() == 0
    assert scrubbed.filter(F.col("text").contains("@example.com")).count() == 0

    stripped = remove_boilerplate_lines(scrubbed, out_col="text")
    assert stripped.filter(F.col("text").contains(boiler)).count() == 0
    assert "source" in stripped.columns  # passthrough

    docs2 = strip_repeated_substrings(stripped, out_col="text", min_len=30)
    assert docs2.filter(F.col("text").contains(shared)).count() == 0
    assert "source" in docs2.columns

    quality = filter_corpus(docs2, min_chars=40, min_tokens=5)
    assert quality.filter("keep").count() > 0

    lm = lm_bigram_score(docs2)
    assert lm.count() == 12 and lm.filter("n_bigrams > 0").count() == 12

    quota = quota_sample(docs2, "source", 3, seed=1)
    per_src = {r["source"]: r["n"] for r in
               quota.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 3 for v in per_src.values())

    pack = pack_training_examples(quota, budget=16)
    got = pack.orderBy("start_offset").collect()
    # offsets tile the packed stream exactly
    pos = 0
    for r in got:
        assert r["start_offset"] == pos
        pos += r["n_tokens"]


def test_quota_sample_caps_per_group_deterministically(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.dedup import md5_hash64
    from pyranges_1_x_spark.ml.sampling import quota_sample

    docs = spark.createDataFrame(
        [(str(i), "src%d" % (i % 3)) for i in range(330)],
        "doc_id string, source string",
    )
    out = quota_sample(docs, "source", 25, seed=4, out_col="rk").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"src0", "src1", "src2"}
    # reference: single-node sort by (hash, key) per group, take cap
    hashed = docs.withColumn("h", md5_hash64(F.col("doc_id"), 4)).collect()
    for src, rows in by_src.items():
        ref = sorted(
            ((r["h"], r["doc_id"]) for r in hashed if r["source"] == src)
        )[:25]
        got = sorted((r["rk"], r["doc_id"]) for r in rows)
        assert [d for _, d in got] == [d for _, d in ref]
        assert [k for k, _ in got] == list(range(1, 26))
    # partitioning- and bucket_bits-independent membership
    alt = quota_sample(docs.repartition(13), "source", 25, seed=4, bucket_bits=3)
    assert sorted(r["doc_id"] for r in alt.collect()) == sorted(
        r["doc_id"] for r in out
    )
    # group smaller than cap -> kept whole; cap=0 -> empty
    assert quota_sample(docs, "source", 1000, seed=4).count() == 330
    assert quota_sample(docs, "source", 0, seed=4).count() == 0
    # NULL group is a quota group of its own, not silently dropped
    withnull = spark.createDataFrame(
        [(str(i), None if i < 40 else "srcA") for i in range(100)],
        "doc_id string, source string",
    )
    got = quota_sample(withnull, "source", 15, seed=4).groupBy("source").count()
    counts = {r["source"]: r["count"] for r in got.collect()}
    assert counts == {None: 15, "srcA": 15}
    # out_col naming an existing column substitutes IN PLACE — no
    # duplicate-named output column (review find, r12)
    ranked = docs.withColumn("rk", F.lit(-1))
    inplace = quota_sample(ranked, "source", 25, seed=4, out_col="rk")
    assert inplace.columns == ["doc_id", "source", "rk"]
    assert all(r["rk"] >= 1 for r in inplace.collect())
    # xxhash64 hash_fn: bucket shift derives from the 64-bit width, and
    # membership stays the per-group hash-order prefix
    from pyranges_1_x_spark.ml.dedup import xxhash64_fn
    from pyranges_1_x_spark.ml.sampling import _bucket_shift

    assert _bucket_shift(xxhash64_fn, 12) == 52
    assert _bucket_shift(md5_hash64, 12) == 48
    xout = quota_sample(docs, "source", 25, seed=4, hash_fn=xxhash64_fn)
    xhashed = docs.withColumn("h", xxhash64_fn(F.col("doc_id"), 4)).collect()
    for src in ("src0", "src1", "src2"):
        ref = sorted((r["h"], r["doc_id"]) for r in xhashed if r["source"] == src)[:25]
        got_ids = sorted(
            r["doc_id"] for r in xout.collect() if r["source"] == src
        )
        assert got_ids == sorted(d for _, d in ref)


def test_repeated_substring_spans_and_strip(spark):
    """Lee-et-al-style exact substring dedup over the interval engine:
    shared 30-char boilerplate surfaces as one merged span per occurrence
    with exact character coordinates, internal self-repeats are found
    within a single doc, sub-min_len docs never match, and the strip
    rebuild removes exactly the spanned characters."""
    from pyranges_1_x_spark.ml.dedup import (
        repeated_substring_spans,
        strip_repeated_substrings,
    )

    boiler = "All rights reserved worldwide."  # 30 chars
    docs = spark.createDataFrame(
        [
            (1, "unique head one. " + boiler + " unique tail one."),
            (2, "different head! " + boiler + " other tail."),
            (3, "totally original content with no repeats at all here"),
            (4, "selfrepeat selfrepeat selfrepeat selfrepeat xx"),
            (5, "short"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        tuple(r) for r in repeated_substring_spans(docs, min_len=20).collect()
    )
    # the shared region includes the spaces flanking the boilerplate on
    # both sides of doc 1/2 (they are part of the common 20-grams)
    assert spans == [(1, 16, 48, 13), (2, 15, 47, 13), (4, 0, 44, 25)]
    out = {r["doc_id"]: r for r in strip_repeated_substrings(docs, min_len=20).collect()}
    assert out[1]["clean_text"] == "unique head one.unique tail one."
    assert out[1]["n_chars_removed"] == 32
    assert out[3]["clean_text"].startswith("totally") and out[3]["n_chars_removed"] == 0
    assert out[4]["clean_text"] == "xx" and out[4]["n_chars_removed"] == 44
    assert out[5]["clean_text"] == "short"
    # min_count raises the evidence bar: nothing occurs 3x here except the
    # self-repeat grams of doc 4
    tri = {r["doc_id"] for r in
           repeated_substring_spans(docs, min_len=20, min_count=3).collect()}
    assert tri == {4}


def test_repeated_spans_hot_gram_fallback_shapes_agree(spark):
    """The hot-gram fallback knob (r13, VERDICT r12 #4): a pathological
    boilerplate gram occurring in ~every doc must yield IDENTICAL spans
    from all three plan shapes — the fused count window (default), the
    fallback with the pathological gram routed through the broadcast hot
    path (threshold below its occurrence count), and the fallback with
    everything on the cold shuffle-semi-join path (huge threshold). Also
    pins the knob's plumbing through strip_repeated_substrings and the
    threshold < min_count guard."""
    import pytest as _pytest

    from pyranges_1_x_spark.ml.dedup import (
        repeated_substring_spans,
        strip_repeated_substrings,
    )

    boiler = "SUBSCRIBE TO OUR NEWSLETTER TODAY!"  # 34 chars, in every doc
    rows = []
    for i in range(60):
        head = f"doc {i} opens with its own words number {i * 17} "
        tail = f" and closes uniquely {i * 31}."
        rows.append((i, head + boiler + tail))
    # two docs also share a second, merely-warm span (count 2)
    rows.append((60, "warm pair alpha SHARED-WARM-SPAN-OF-THIRTY!! omega"))
    rows.append((61, "warm pair beta  SHARED-WARM-SPAN-OF-THIRTY!! gamma"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def collect_spans(**kw):
        return sorted(
            tuple(r)
            for r in repeated_substring_spans(docs, min_len=20, **kw).collect()
        )

    window_shape = collect_spans()
    hot_shape = collect_spans(hot_gram_threshold=10)  # boiler grams ~60x: hot
    cold_shape = collect_spans(hot_gram_threshold=10_000_000)  # all cold
    assert window_shape == hot_shape == cold_shape
    # every doc's boilerplate occurrence is covered by some span (the doc
    # templates share more than the boilerplate — "opens with its own
    # words" etc. — so spans may extend beyond it; coverage is the
    # invariant all three shapes must preserve)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for did, s, e, _n in hot_shape:
        by_doc.setdefault(did, []).append((s, e))
    for i in range(60):
        idx = texts[i].index(boiler)
        assert any(s <= idx and e >= idx + len(boiler) for s, e in by_doc[i]), i
    assert 60 in by_doc and 61 in by_doc  # the warm (count-2) pair too

    # strip plumbs the knob through and agrees with the default shape
    base = {r["doc_id"]: r["clean_text"]
            for r in strip_repeated_substrings(docs, min_len=20).collect()}
    via_hot = {r["doc_id"]: r["clean_text"]
               for r in strip_repeated_substrings(
                   docs, min_len=20, hot_gram_threshold=10).collect()}
    assert base == via_hot

    with _pytest.raises(ValueError, match="hot_gram_threshold"):
        repeated_substring_spans(docs, min_count=5, hot_gram_threshold=3)


def test_gram_hash_rows_match_their_definition(spark):
    """The row-form gram generator yields the same (id, pos, hash) multiset
    as posexplode of the array form, and both equal the definition: the
    hash of substring(text, pos+1, k) at every gram start 0..len-k (one
    position-0 gram of the whole text when it is shorter than k, NULL
    included). Lengths cover the sub-k edge, the chunk edges (n_grams = m^2
    and m^2 +- 1) and a 3 kB text; characters include two-byte, CJK and
    non-BMP code points, which count as one character each."""
    from collections import Counter

    from pyranges_1_x_spark.ml.dedup import md5_hash64, xxhash64_fn
    from pyranges_1_x_spark.ml.text import chunked_gram_hashes, gram_hash_rows

    k = 5
    alpha = "é日本語🚀abcdefghij"

    def text(n, salt=0):
        return "".join(alpha[(i * 7 + salt) % len(alpha)] for i in range(n))

    lengths = [0, k - 1, k, k + 1]
    lengths += [m * m + d + k - 1 for m in (3, 4, 7) for d in (-1, 0, 1)]
    rows = [(i, text(n, i)) for i, n in enumerate(lengths)]
    rows.append((100, "".join(chr(97 + (i * 7919) % 26) for i in range(3000))))
    rows.append((101, "héllo wörld 日本語 テスト emoji 🚀🚀 done"))
    rows.append((102, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    starts = spark.createDataFrame(
        [
            (i, p)
            for i, t in rows
            for p in range(max(len(t or "") - k + 1, 1))
        ],
        "doc_id long, pos int",
    )
    for hash_fn in (xxhash64_fn, md5_hash64):
        got = Counter(
            map(tuple, gram_hash_rows(docs, "doc_id", "text", k, hash_fn).collect())
        )
        arr = docs.select(
            "doc_id",
            F.posexplode(chunked_gram_hashes(F.col("text"), k, hash_fn)).alias("p", "h"),
        )
        defined = starts.join(docs, "doc_id").select(
            "doc_id", "pos", hash_fn(F.substring("text", F.col("pos") + 1, k))
        )
        assert got == Counter(map(tuple, arr.collect()))
        assert got == Counter(map(tuple, defined.collect()))


def test_text_operators_unicode_character_semantics(spark):
    """The text operators count CHARACTERS, not bytes, for multi-byte
    input: CJK/emoji are one unit each in diversity counters, chunk slicing
    respects token boundaries whatever the script, and repeated-span
    coordinates slice the original Python string exactly."""
    from pyranges_1_x_spark.ml.dedup import repeated_substring_spans
    from pyranges_1_x_spark.ml.text import char_diversity_stats, chunk_documents

    docs = spark.createDataFrame(
        [(1, "héllo wörld 日本語 テスト emoji 🚀 done")],
        "doc_id long, text string",
    )
    (row,) = char_diversity_stats(docs).collect()
    assert row["n_chars"] == 32 and row["top_char_count"] == 6  # spaces
    chunks = [r["chunk_text"] for r in
              chunk_documents(docs, chunk_tokens=3).orderBy("chunk_id").collect()]
    assert chunks == ["héllo wörld 日本語", "テスト emoji 🚀", "done"]

    shared = " 東京タワーは高いです 都市の景色 "
    d2 = spark.createDataFrame(
        [(1, "prefix one" + shared + "suffix aa"),
         (2, "other start" + shared + "tail bb")],
        "doc_id long, text string",
    )
    texts = {r["doc_id"]: r["text"] for r in d2.collect()}
    spans = repeated_substring_spans(d2, min_len=10).collect()
    assert {r["doc_id"] for r in spans} == {1, 2}
    for r in spans:
        assert texts[r["doc_id"]][r["Start"]:r["End"]] == shared


def test_char_diversity_stats_simpson_counters(spark):
    from pyranges_1_x_spark.ml.text import char_diversity_stats

    docs = spark.createDataFrame(
        [(1, "aab"), (2, "aaaa"), (3, ""), (4, "abcd")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_diversity_stats(docs).collect()}
    # "aab": counts a=2,b=1 -> simpson 4+1=5, top 2
    assert tuple(rows[1])[1:] == (3, 2, 2, 5)
    # maximal concentration: simpson_num == n^2
    assert tuple(rows[2])[1:] == (4, 1, 4, 16)
    # empty text -> zeros, not a dropped row
    assert tuple(rows[3])[1:] == (0, 0, 0, 0)
    # maximal diversity: simpson_num == n
    assert tuple(rows[4])[1:] == (4, 4, 1, 4)


def test_chunk_documents_windows_and_overlap(spark):
    from pyranges_1_x_spark.ml.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                                # shorter than chunk
            (3, "   "),                                  # whitespace-only: no chunks
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"], r["token_start"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    )
    # step = 3: starts 0,3,6 — a start-9 chunk would hold only t9, which
    # chunk 2 (t6..t9) already covers, so it is not emitted
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, "t0 t1 t2 t3", 4, 0),
        (1, 1, "t3 t4 t5 t6", 4, 3),
        (1, 2, "t6 t7 t8 t9", 4, 6),
    ]
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b c", 3, 0)]
    assert not [r for r in rows if r[0] == 3]
    # zero overlap tiles exactly
    tiled = chunk_documents(docs.filter("doc_id = 1"), chunk_tokens=5).collect()
    assert sorted((r["chunk_id"], r["n_tokens"]) for r in tiled) == [(0, 5), (1, 5)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_remove_boilerplate_lines_strips_shared_keeps_order(spark):
    from pyranges_1_x_spark.ml.text import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "NAV\nalpha\n\nbeta\nFOOTER"),
            (2, "NAV\ngamma\nFOOTER"),
            (3, "NAV"),          # all lines boilerplate -> empty text
            (4, "delta\n   \ndelta two"),  # whitespace-only line kept verbatim
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in remove_boilerplate_lines(docs).collect()}
    # NAV appears in 3 docs, FOOTER in 2 -> both stripped everywhere
    assert rows[1]["clean_text"] == "alpha\n\nbeta"
    assert rows[1]["n_removed"] == 2 and rows[1]["n_kept"] == 3
    assert rows[2]["clean_text"] == "gamma"
    assert rows[3]["clean_text"] == "" and rows[3]["n_kept"] == 0
    # blank lines never count toward frequency and survive verbatim
    assert rows[4]["clean_text"] == "delta\n   \ndelta two"
    # raising min_docs above the max frequency keeps everything
    untouched = {r["doc_id"]: r["clean_text"]
                 for r in remove_boilerplate_lines(docs, min_docs=9).collect()}
    assert untouched[1] == "NAV\nalpha\n\nbeta\nFOOTER"


def test_quota_pair_null_keys_leave_the_order(spark):
    """A NULL doc id hashes to NULL and leaves the order; it used to zero
    its whole group (its bucket's total entered every real bucket's offset).
    The cap still keeps the first 4 keyed docs by (hash, id)."""
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.dedup import md5_hash64
    from pyranges_1_x_spark.ml.sampling import quota_sample, token_quota_sample

    docs = spark.createDataFrame(
        [(str(i) if i < 10 else None, "web", 1) for i in range(15)],
        "doc_id string, source string, n long",
    )
    hashed = docs.filter("doc_id IS NOT NULL").withColumn("h", md5_hash64(F.col("doc_id"), 0))
    first4 = [r["doc_id"] for r in sorted(hashed.collect(), key=lambda r: (r["h"], r["doc_id"]))][:4]
    kept = quota_sample(docs, "source", 4).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(first4)
    kept = token_quota_sample(docs, "source", 4, tokens_col="n").collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(first4)


def test_token_quota_sample_prefix_budget(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.dedup import md5_hash64
    from pyranges_1_x_spark.ml.sampling import token_quota_sample

    docs = spark.createDataFrame(
        [(str(i), "s%d" % (i % 2), " ".join(["tok"] * ((i % 5) + 1)))
         for i in range(200)],
        "doc_id string, source string, text string",
    )
    out = token_quota_sample(docs, "source", 60, seed=2).collect()
    # reference: per group, accumulate token counts in (hash, key) order
    hashed = docs.withColumn("h", md5_hash64(F.col("doc_id"), 2)).collect()
    expect = {}
    for src in ("s0", "s1"):
        cum = 0
        for r in sorted((r for r in hashed if r["source"] == src),
                        key=lambda r: (r["h"], r["doc_id"])):
            nt = (int(r["doc_id"]) % 5) + 1
            cum += nt
            if cum > 60:
                break
            expect[r["doc_id"]] = nt
    got = {r["doc_id"]: r["n_tokens"] for r in out}
    assert got == expect
    # budget honored exactly per group
    per_src = {}
    for r in out:
        per_src[r["source"]] = per_src.get(r["source"], 0) + r["n_tokens"]
    assert all(v <= 60 for v in per_src.values())
    # partitioning- and bucket_bits-independent membership; tokens_col path
    alt = token_quota_sample(
        docs.repartition(7).withColumn("nt", F.lit(1) + F.col("doc_id") % 5),
        "source", 60, tokens_col="nt", seed=2, bucket_bits=3,
    )
    assert sorted(r["doc_id"] for r in alt.collect()) == sorted(got)
    assert token_quota_sample(docs, "source", 0, seed=2).count() == 0


def test_lm_bigram_score_weakest_link_and_rare_counts(spark):
    from pyranges_1_x_spark.ml.text import lm_bigram_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "A b"), (3, "c"), (4, "")],
        "doc_id long, text string",
    )
    # corpus bigrams (lowercased): cb(a,b)=3, cb(b,a)=1; cu(a)=3, cu(b)=1
    rows = {r["doc_id"]: r for r in lm_bigram_score(docs).collect()}
    assert rows[1]["n_bigrams"] == 3 and rows[1]["min_prob"] == 1.0
    assert rows[2]["n_bigrams"] == 1 and rows[2]["min_prob"] == 1.0
    # zero-bigram docs come back with nulls/zeros, not dropped
    assert rows[3]["n_bigrams"] == 0 and rows[3]["min_prob"] is None
    assert rows[4]["n_bigrams"] == 0 and rows[4]["n_rare"] == 0
    # shared prefix splits the conditional mass; threshold counts the rare leg
    docs2 = spark.createDataFrame(
        [(1, "x y"), (2, "x z x z x z")], "doc_id long, text string"
    )
    # cb(x,y)=1, cb(x,z)=3, cb(z,x)=2; cu(x)=4, cu(z)=2
    out2 = {r["doc_id"]: r for r in lm_bigram_score(
        docs2, rare_threshold=0.3).collect()}
    assert out2[1]["min_prob"] == 0.25 and out2[1]["n_rare"] == 1
    assert out2[2]["min_prob"] == 0.75 and out2[2]["n_rare"] == 0


def test_semantic_dedup_clusters_groups_near_vectors(spark):
    from pyranges_1_x_spark.ml.similarity import semantic_dedup_clusters

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),      # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1.0, 0.3, -0.2], [-0.4, 1.0, 0.1], [0.2, -0.3, 1.0],
              [0.7, 0.7, 0.0], [0.0, 0.6, -0.8], [-0.5, 0.2, 0.6]]
    out = {r["vec_id"]: r for r in
           semantic_dedup_clusters(emb, planes, threshold=0.95, bands=2).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["is_canonical"]
    assert out[2]["cluster_id"] == 1 and not out[2]["is_canonical"]
    assert out[3]["cluster_id"] == 3 and out[4]["cluster_id"] == 3
    assert out[5]["cluster_id"] == 5 and out[5]["is_canonical"]


def test_bpe_pretokens_shape(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.text import bpe_pretokens, bpe_token_count

    df = spark.createDataFrame(
        [("d1", "I don't have 42 apples, OK?")], "doc_id string, text string"
    )
    toks = df.select(bpe_pretokens(F.col("text")).alias("t")).collect()[0]["t"]
    # contraction split, space-prefixed words, digit run, punctuation runs
    assert toks == ["I", " don", "'t", " have", " 42", " apples", ",", " OK", "?"]
    n = df.select(bpe_token_count(F.col("text")).alias("n")).collect()[0]["n"]
    assert n == len(toks)


def test_resize_images_plumbing(spark):
    from pyranges_1_x_spark.ml.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, 12)
    out = resize_images(media, width=4, height=4).collect()
    assert len(out) == 12
    for r in out:
        if r["kind"] == "image":
            assert len(r["payload"]) == 16 and r["width"] == 4 and r["height"] == 4
        else:  # non-image rows untouched
            assert len(r["payload"]) >= 64


def test_filter_corpus_reason_precedence(spark):
    from pyranges_1_x_spark.ml.text import filter_corpus

    docs = spark.createDataFrame(
        [
            ("short", "tiny"),                                   # too_short
            ("fewtok", "x " * 3 + "the is of to in it a an or"), # enough chars? no
            (
                "good",
                "the quick brown fox jumps over a lazy dog while many other "
                "animals watch from the tall grass and wonder about it all "
                "during an otherwise quiet afternoon in the green valley",
            ),
            ("repeat", ("the the the the the is is is is of of " * 8).strip()),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in filter_corpus(
        docs, min_chars=30, min_tokens=10, min_unique_ratio=0.2,
        min_stopword_ratio=0.05).collect()}
    assert out["short"]["drop_reason"] == "too_short" and not out["short"]["keep"]
    assert out["good"]["keep"] and out["good"]["drop_reason"] is None
    assert out["repeat"]["drop_reason"] == "low_unique_ratio"


def test_kmv_distinct_exact_and_estimate(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.sketches import kmv_distinct

    rows = [("small", f"v{i % 10}") for i in range(100)] + [
        ("big", f"w{i}") for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r["grp"]: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    # below k: exact count
    assert out["small"]["est_distinct"] == 10 and out["small"]["exact"]
    # above k: estimator within ~4 sigma (sigma ~ D/sqrt(k-2) ~ 634)
    assert not out["big"]["exact"]
    assert abs(out["big"]["est_distinct"] - 5000) < 2600
    # partitioning-independent (deterministic sketch)
    out2 = {r["grp"]: r["est_distinct"]
            for r in kmv_distinct(df.repartition(13), "grp", "val", k=64).collect()}
    assert out2 == {g: r["est_distinct"] for g, r in out.items()}


def test_normalize_text_canonicalizes(spark):
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.text import normalize_text

    df = spark.createDataFrame(
        [("a", "Hello,   World!"), ("b", "hello world"), ("c", "other text")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id",
        normalize_text(F.col("text"), strip_punctuation=True).alias("n"),
    ).collect()}
    assert out["a"] == out["b"] == "hello world"
    assert out["c"] == "other text"


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_connected_components_property_multi_seed(spark, seed):
    """Random graphs at several densities equal a driver-side union-find."""
    import random

    from pyranges_1_x_spark.ml.dedup import connected_components

    rng = random.Random(seed)
    n = 40 + seed
    edges = list(
        {
            (f"n{min(a, b):03d}", f"n{max(a, b):03d}")
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(seed * 2))
            if a != b
        }
    )
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a string, id_b string"),
            driver_threshold=0,
        ).collect()
    }
    assert got == expected
    # the adaptive small-graph path (driver union-find + broadcast labels)
    # must produce identical labels
    small = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "id_a string, id_b string")
        ).collect()
    }
    assert small == expected


def test_xxh64_module_matches_spark(spark):
    """The pure-Python/numpy Spark-xxhash64 twin (ml/xxh64.py) — which the
    DuckDB oracle registers as a scalar UDF to make the ``minhash_lsh``
    registry row hash-exact — must agree bit-for-bit with live
    ``F.xxhash64`` on strings (seed 42) and on the (string, int-literal)
    fold, across empty/short/31/32/33-byte/multibyte-unicode inputs."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.xxh64 import (
        hash_int_seeded,
        spark_xxhash64_str,
        spark_xxhash64_str_seeded,
    )

    rng = random.Random(7)
    strs = ["", "a", "hello world", "x" * 31, "y" * 32, "z" * 33, "w" * 100,
            "é漢字🎉 test", " multi  word shingle "] + [
        "".join(rng.choice("abcdefg hij") for _ in range(rng.randint(0, 80)))
        for _ in range(30)
    ]
    seeds = (0, 1, 5, 31)
    rows = (
        spark.createDataFrame([(x,) for x in strs], "s string")
        .select(
            "s",
            F.xxhash64("s").alias("h"),
            *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in seeds],
        )
        .collect()
    )
    for r in rows:
        assert spark_xxhash64_str(r["s"]) == r["h"], repr(r["s"])
        base = np.array([spark_xxhash64_str(r["s"])], dtype=np.int64)
        for i in seeds:
            assert spark_xxhash64_str_seeded(r["s"], i) == r[f"h{i}"]
            assert int(hash_int_seeded(np.array([i]), base)[0]) == r[f"h{i}"]


def test_minhash_lsh_exact_python_twin(spark):
    """Exact pair-set equality between minhash_lsh_candidates (the xxhash64
    path the driver can only rows-check — DuckDB has no xxhash64) and a
    pure-Python banded-LSH twin at n=200 docs (VERDICT r6 #6).

    The twin recomputes shingling, per-seed min-hash signatures, banding,
    and bucket joins independently in Python; only the raw per-(shingle,
    seed) xxhash64 values are read back from a one-column Spark projection,
    since xxhash64 is the shared primitive, not the logic under test. Band
    agreement in the twin is band-STRING equality — exactly what the
    engine's band-hash equality encodes modulo astronomically unlikely
    xxhash64 collisions, so (id_a, id_b, n_bands_agree) must match 1:1.
    """
    import random

    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.dedup import minhash_lsh_candidates

    num_hashes, bands, k = 16, 8, 3
    rows_per_band = num_hashes // bands
    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    base_texts = [" ".join(rng.choices(vocab, k=rng.randint(5, 30))) for _ in range(80)]
    for i in range(200):
        if i < 80:
            text = base_texts[i]
        else:
            # perturbed near-duplicates of earlier docs: swap/drop one word
            src = base_texts[i % 80].split()
            j = rng.randrange(len(src))
            if rng.random() < 0.5:
                src[j] = rng.choice(vocab)
            else:
                src = src[:j] + src[j + 1 :] or [rng.choice(vocab)]
            text = " ".join(src)
        docs.append((i, text))

    def py_shingles(text: str) -> set:
        toks = text.strip().split()
        if len(toks) <= k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    shingle_sets = {i: py_shingles(t) for i, t in docs}
    all_shingles = sorted(set().union(*shingle_sets.values()))

    # xxhash64(shingle, seed) for every seed, via a minimal Spark projection.
    hdf = spark.createDataFrame([(s,) for s in all_shingles], "s string").select(
        "s", *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    hashes = {
        r["s"]: [r[f"h{i}"] for i in range(num_hashes)] for r in hdf.collect()
    }

    # Pure-Python signatures, band strings, bucket joins.
    sigs = {
        i: [min(hashes[s][j] for s in ss) for j in range(num_hashes)]
        for i, ss in shingle_sets.items()
    }
    band_strings = {
        i: [
            ",".join(str(v) for v in sig[b * rows_per_band : (b + 1) * rows_per_band])
            for b in range(bands)
        ]
        for i, sig in sigs.items()
    }
    expected = {}
    ids = sorted(band_strings)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            agree = sum(
                band_strings[ids[ai]][b] == band_strings[ids[bi]][b]
                for b in range(bands)
            )
            if agree:
                expected[(ids[ai], ids[bi])] = agree

    got_df = minhash_lsh_candidates(
        spark.createDataFrame(docs, "doc_id long, text string"),
        num_hashes=num_hashes,
        bands=bands,
        k=k,
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_bands_agree"] for r in got_df.collect()
    }
    assert len(expected) > 50  # the fixture must actually exercise collisions
    assert got == expected


def test_netpbm_real_decode_features(spark):
    """The netpbm decode path is REAL: features computed from decoded pixels
    match a numpy recomputation exactly, and a known 2x2 P6 image decodes to
    its exact pixel grid."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        decode_netpbm,
        encode_netpbm,
        extract_features,
        synthetic_netpbm_media,
    )

    # exact round-trip, with a comment line in the header
    img = np.array([[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]], dtype=np.uint8)
    raw = encode_netpbm(img)
    raw_commented = raw[:2] + b"\n# a comment\n" + raw[3:]
    assert np.array_equal(decode_netpbm(raw), img)
    assert np.array_equal(decode_netpbm(raw_commented), img)
    assert decode_netpbm(b"JFIF...") is None  # non-netpbm falls to the stub

    media = synthetic_netpbm_media(spark, n=12)
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    for row in media.collect():
        arr = decode_netpbm(bytes(row["payload"]))
        assert arr is not None
        h, w, c = arr.shape
        f = feats[row["media_id"]]
        assert f[0] == w and f[1] == h and f[2] == c
        assert abs(f[3] - arr.astype(float).mean()) < 1e-5
        assert f[5] == arr.min() and f[6] == arr.max()


def test_netpbm_real_resize(spark):
    """Nearest-neighbor resize of netpbm payloads matches numpy index
    sampling exactly and re-encodes as valid netpbm."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        decode_netpbm,
        resize_images,
        synthetic_netpbm_media,
    )

    media = synthetic_netpbm_media(spark, n=8)
    out = {r["media_id"]: r for r in resize_images(media, width=2, height=2).collect()}
    for row in media.collect():
        src = decode_netpbm(bytes(row["payload"]))
        h, w, _ = src.shape
        rows_idx = (np.arange(2) * h) // 2
        cols_idx = (np.arange(2) * w) // 2
        expected = src[rows_idx][:, cols_idx]
        got = decode_netpbm(bytes(out[row["media_id"]]["payload"]))
        assert got is not None and np.array_equal(got, expected)
        assert out[row["media_id"]]["width"] == 2 and out[row["media_id"]]["height"] == 2


def test_get_sequence_from_fasta_path(spark, tmp_path):
    """Reference get_sequence(path=...) spelling: parse the FASTA natively
    and fetch subsequences (strand-aware)."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.sources.fasta import write_fasta

    p = str(tmp_path / "g.fa")
    write_fasta(p, [("chr1", "ACGTACGTAC"), ("chr2", "TTTTGGGG")], width=4)
    d = pd.DataFrame(
        {
            "Chromosome": ["chr1", "chr1", "chr2"],
            "Start": [0, 2, 4],
            "End": [4, 6, 8],
            "Strand": ["+", "-", "+"],
        }
    )
    g = GenomicRanges(spark.createDataFrame(d))
    out = {
        (r.Chromosome, r.Start): r.Seq
        for r in g.get_sequence(path=p).df.collect()
    }
    assert out[("chr1", 0)] == "ACGT"
    # [2,6) = GTAC; '-' strand -> reverse complement, which for GTAC is GTAC
    assert out[("chr1", 2)] == "GTAC"
    assert out[("chr2", 4)] == "GGGG"


def test_get_sequence_tiled_path_matches_broadcast(spark):
    """The tiled scale plan (forced tile_size=7, so every interval spans
    multiple tiles) must reproduce the whole-string broadcast plan exactly:
    multi-tile spans, tile-boundary-aligned intervals, zero-length
    intervals (''), spans past the sequence end (truncated), missing
    chromosomes (null), duplicate rows (stable-id discipline keeps both),
    and '-' strand reverse complement after assembly."""
    import random

    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges

    rng = random.Random(99)
    seq1 = "".join(rng.choice("ACGT") for _ in range(53))
    seq2 = "".join(rng.choice("ACGT") for _ in range(20))
    seqs = spark.createDataFrame(
        [("chr1", seq1), ("chr2", seq2)], "Chromosome string, Sequence string"
    )
    rows = []
    for _ in range(25):
        c = rng.choice(["chr1", "chr2", "chrX"])
        s = rng.randrange(0, 60)
        e = s + rng.choice([0, 1, 3, 8, 15, 40])
        rows.append((c, s, e, rng.choice(["+", "-"])))
    rows += [("chr1", 7, 14, "+"),   # exactly one tile at size 7
             ("chr1", 0, 53, "-"),   # whole sequence, reverse complement
             ("chr1", 0, 53, "-")]   # duplicate row
    gr = GenomicRanges(spark.createDataFrame(
        pd.DataFrame(rows, columns=["Chromosome", "Start", "End", "Strand"])))

    def key(df):
        pdf = df.toPandas()
        return sorted(
            (r.Chromosome, r.Start, r.End, r.Strand,
             None if pd.isna(r.Seq) else r.Seq)
            for r in pdf.itertuples()
        )

    broad = key(gr.get_sequence(seqs).df)
    tiled = key(gr.get_sequence(seqs, tile_size=7).df)
    assert tiled == broad
    # sanity against pure-Python slicing on a known row
    comp = {"A": "T", "C": "G", "G": "C", "T": "A"}
    rc = "".join(comp[b] for b in reversed(seq1))
    assert ("chr1", 0, 53, "-", rc) in tiled


def test_read_fasta_tiles_and_pretiled_get_sequence(spark, tmp_path):
    """read_fasta_tiles emits (Chromosome, tile_id, tile) chunks that
    reassemble to the exact sequences, and get_sequence(tiled_sequences=...)
    skips the per-call split while matching the broadcast plan exactly."""
    import random

    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.sources.fasta import read_fasta_tiles, write_fasta

    rng = random.Random(5)
    seq1 = "".join(rng.choice("ACGT") for _ in range(41))
    seq2 = "".join(rng.choice("ACGT") for _ in range(16))
    p = str(tmp_path / "g.fa")
    write_fasta(p, [("chr1", seq1), ("chr2", seq2)], width=10)

    tiles = read_fasta_tiles(spark, p, tile_size=8).toPandas()
    rebuilt = {
        c: "".join(g.sort_values("tile_id").tile)
        for c, g in tiles.groupby("Chromosome")
    }
    assert rebuilt == {"chr1": seq1, "chr2": seq2}
    assert (tiles.tile.str.len() <= 8).all()

    rows = [("chr1", 3, 30, "+"), ("chr1", 7, 9, "-"), ("chr2", 0, 16, "-"),
            ("chr1", 38, 41, "+"), ("chrX", 0, 5, "+")]
    gr = GenomicRanges(spark.createDataFrame(
        pd.DataFrame(rows, columns=["Chromosome", "Start", "End", "Strand"])))
    seqs = spark.createDataFrame(
        [("chr1", seq1), ("chr2", seq2)], "Chromosome string, Sequence string")
    tiled_df = read_fasta_tiles(spark, p, tile_size=8)

    def key(df):
        pdf = df.toPandas()
        return sorted(
            (r.Chromosome, r.Start, r.End,
             None if pd.isna(r.Seq) else r.Seq)
            for r in pdf.itertuples()
        )

    assert key(gr.get_sequence(tiled_sequences=tiled_df, tile_size=8).df) == key(
        gr.get_sequence(seqs).df
    )
    with pytest.raises(ValueError, match="requires tile_size"):
        gr.get_sequence(tiled_sequences=tiled_df)


def test_get_sequence_empty_and_null_chromosome_all_plans(spark, tmp_path):
    """Pin the present-vs-absent probe contract (seqs.py `have=`, commit
    048c3d9 + r9 ADVICE): a chromosome PRESENT with an EMPTY sequence
    yields Seq='' in every plan (broadcast, per-call tiled, pre-tiled),
    a chromosome present with a NULL sequence yields Seq=NULL (matching
    broadcast's substring-of-NULL) in every user-supplied-table plan, and
    an absent chromosome yields NULL everywhere."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.sources.fasta import read_fasta_tiles, write_fasta

    seqs = spark.createDataFrame(
        [("chr1", "ACGTACGTAC"), ("chrE", ""), ("chrN", None)],
        "Chromosome string, Sequence string",
    )
    rows = [
        ("chr1", 2, 6),   # ordinary slice: GTAC
        ("chrE", 0, 0),   # zero-length on the empty chromosome
        ("chrE", 0, 5),   # past-the-end on the empty chromosome
        ("chrN", 0, 5),   # NULL-sequence chromosome
        ("chrX", 0, 5),   # absent chromosome
    ]
    gr = GenomicRanges(spark.createDataFrame(
        pd.DataFrame(rows, columns=["Chromosome", "Start", "End"])))
    want = [
        ("chr1", 2, 6, "GTAC"),
        ("chrE", 0, 0, ""),
        ("chrE", 0, 5, ""),
        ("chrN", 0, 5, None),
        ("chrX", 0, 5, None),
    ]

    def key(df):
        pdf = df.toPandas()
        return sorted(
            (r.Chromosome, r.Start, r.End, None if pd.isna(r.Seq) else r.Seq)
            for r in pdf.itertuples()
        )

    assert key(gr.get_sequence(seqs).df) == sorted(want)               # broadcast
    assert key(gr.get_sequence(seqs, tile_size=4).df) == sorted(want)  # tiled

    # pre-tiled: a FASTA round-trip keeps chrE as a sequence-less header
    # (FASTA cannot carry NULL, so chrN is out of scope on this plan)
    p = str(tmp_path / "g.fa")
    write_fasta(p, [("chr1", "ACGTACGTAC"), ("chrE", "")], width=4)
    tiled_df = read_fasta_tiles(spark, p, tile_size=4)
    want_fa = [w for w in want if w[0] != "chrN"] + [("chrN", 0, 5, None)]
    assert key(gr.get_sequence(tiled_sequences=tiled_df, tile_size=4).df) == sorted(
        want_fa
    )


def test_bmp_real_decode_features_and_resize(spark):
    """The BMP decode path is REAL: 24bpp and 8bpp-palette round-trip
    through encode_bmp/decode_bmp exactly (incl. row padding and BGR
    order), features match a numpy recomputation through the Arrow batch
    path, top-down storage decodes, and NN resize re-encodes as BMP."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        MEDIA_SCHEMA,
        decode_bmp,
        encode_bmp,
        extract_features,
        resize_images,
    )

    rgb = np.arange(3 * 5 * 3, dtype=np.uint8).reshape(3, 5, 3)  # w=5: padded rows
    gray = (np.arange(4 * 3, dtype=np.uint8) * 17 % 256).astype(np.uint8).reshape(4, 3)
    assert np.array_equal(decode_bmp(encode_bmp(rgb)), rgb)
    assert np.array_equal(decode_bmp(encode_bmp(gray)), gray[:, :, None])
    assert decode_bmp(b"JFIF...") is None
    assert decode_bmp(b"BM" + bytes(52)) is None  # truncated header

    # top-down variant: flip the height sign and the row order by hand
    import struct
    raw = bytearray(encode_bmp(rgb))
    data_off = struct.unpack_from("<I", raw, 10)[0]
    struct.pack_into("<i", raw, 22, -3)  # height = -3 (top-down)
    stride = ((5 * 3 + 3) & ~3)
    body = raw[data_off:]
    flipped = b"".join(
        bytes(body[i * stride : (i + 1) * stride]) for i in reversed(range(3))
    )
    raw[data_off:] = flipped
    assert np.array_equal(decode_bmp(bytes(raw)), rgb)

    media = spark.createDataFrame(
        [(0, "image", encode_bmp(rgb), 5, 3, 1), (1, "image", encode_bmp(gray), 3, 4, 1)],
        schema=MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    for mid, arr in ((0, rgb), (1, gray[:, :, None])):
        h, w, c = arr.shape
        f = feats[mid]
        assert f[0] == w and f[1] == h and f[2] == c
        assert abs(f[3] - arr.astype(float).mean()) < 1e-5
        assert f[5] == arr.min() and f[6] == arr.max()

    out = {r["media_id"]: r for r in resize_images(media, width=2, height=2).collect()}
    for mid, arr in ((0, rgb), (1, gray[:, :, None])):
        h, w, _ = arr.shape
        expected = arr[(np.arange(2) * h) // 2][:, (np.arange(2) * w) // 2]
        got = decode_bmp(bytes(out[mid]["payload"]))
        assert got is not None and np.array_equal(got, expected)


def test_wav_real_decode_features(spark):
    """The PCM WAV decode path is REAL: encode_wav/decode_wav round-trip to
    16-bit precision, stereo interleave deshuffles into (frames, channels),
    and audio features through the Arrow batch path match numpy stats."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        encode_wav,
        extract_features,
    )

    t = np.arange(800) / 8000.0
    mono = np.sin(2 * np.pi * 440 * t) * 0.5
    stereo = np.stack([mono, -mono], axis=1)
    got, rate = decode_wav(encode_wav(mono, sample_rate=8000))
    assert rate == 8000 and got.shape == (800, 1)
    assert np.abs(got[:, 0] - mono).max() < 1e-4  # 16-bit quantization
    got2, _ = decode_wav(encode_wav(stereo, sample_rate=8000))
    assert got2.shape == (800, 2) and np.abs(got2 - stereo).max() < 1e-4
    assert decode_wav(b"OggS....") is None
    assert decode_wav(b"RIFF\x00\x00\x00\x00AVI LIST") is None  # RIFF, not WAVE

    media = spark.createDataFrame(
        [(0, "audio", encode_wav(stereo, sample_rate=8000), 0, 0, 1)],
        schema=MEDIA_SCHEMA,
    )
    (feat,) = [r["feature"] for r in extract_features(media).collect()]
    ref, rate = decode_wav(encode_wav(stereo, sample_rate=8000))
    assert feat[0] == 800 and feat[1] == 2 and feat[2] == 8000
    assert abs(feat[3] - ref.mean()) < 1e-6 and abs(feat[4] - ref.std()) < 1e-6
    assert abs(feat[7] - 0.1) < 1e-6  # 800 frames / 8000 Hz


def test_adpcm_real_lossy_codec(spark):
    """The IMA ADPCM path is a REAL lossy audio codec: the vectorized
    nibble decode matches a scalar straight-from-the-spec reference on
    random streams, encode->decode reaches transparent-for-features SNR at
    ~4:1 compression, formats discriminate, and the formula fixture decodes
    to per-block constants through the Arrow feature path."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        _IMA_INDEX_ADJ,
        _IMA_STEPS,
        _ima_decode_nibbles,
        decode_adpcm_wav,
        decode_wav,
        encode_adpcm_wav,
        encode_wav,
        extract_features,
        synthetic_adpcm_media,
    )

    def ref_decode(nibbles, pred, idx):
        out = [pred]
        for code in nibbles:
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if code & 1:
                diff += step >> 2
            if code & 2:
                diff += step >> 1
            if code & 4:
                diff += step
            pred = pred - diff if code & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX_ADJ[code & 7]))
            out.append(pred)
        return out

    rng = np.random.default_rng(7)
    nib = rng.integers(0, 16, size=(4, 50))
    p0 = rng.integers(-30000, 30000, size=4)
    i0 = rng.integers(0, 89, size=4)
    vec = _ima_decode_nibbles(nib, p0, i0)
    for s in range(4):
        assert list(vec[s]) == ref_decode(list(nib[s]), int(p0[s]), int(i0[s]))

    t = np.arange(4000) / 8000.0
    sig = 0.6 * np.sin(2 * np.pi * 440 * t)
    stereo = np.stack([sig, 0.3 * np.cos(2 * np.pi * 220 * t)], axis=1)
    dec, rate = decode_adpcm_wav(encode_adpcm_wav(sig, 8000))
    assert rate == 8000 and dec.shape == (4000, 1)
    snr = 10 * np.log10((sig**2).mean() / ((dec[:, 0] - sig) ** 2).mean())
    assert snr > 25, snr
    dec2, _ = decode_adpcm_wav(encode_adpcm_wav(stereo, 16000))
    snr2 = 10 * np.log10((stereo**2).mean() / ((dec2 - stereo) ** 2).mean())
    assert dec2.shape == (4000, 2) and snr2 > 25, snr2
    # ~4:1 vs 16-bit PCM, and the two WAV decoders never claim each other
    assert len(encode_adpcm_wav(sig)) * 3 < len(encode_wav(sig))
    assert decode_adpcm_wav(encode_wav(sig)) is None
    assert decode_wav(encode_adpcm_wav(sig)) is None

    # truncated RIFF chunks return None (never raise) so one corrupt
    # payload cannot fail the whole mapInPandas feature job
    import struct as _struct

    trunc_fact = (b"RIFF" + _struct.pack("<I", 100) + b"WAVE"
                  + b"fact" + _struct.pack("<I", 4) + b"\x00\x00")
    trunc_fmt = (b"RIFF" + _struct.pack("<I", 100) + b"WAVE"
                 + b"fmt " + _struct.pack("<I", 16) + b"\x11\x00\x01")
    assert decode_adpcm_wav(trunc_fact) is None
    assert decode_adpcm_wav(trunc_fmt) is None

    # groups_per_block < 1 would emit header-only blocks the decoder
    # rejects; the encoder must raise, not round-trip to None (review r12)
    with pytest.raises(ValueError, match="groups_per_block"):
        encode_adpcm_wav(sig, groups_per_block=0)

    media = synthetic_adpcm_media(spark, 4)
    for r in media.collect():
        smp, rate = decode_adpcm_wav(bytes(r["payload"]))
        i = r["media_id"]
        nch = 1 if i % 2 == 0 else 2
        assert rate == 8000 and smp.shape == (99, nch)
        for b in range(3):
            for ch in range(nch):
                p = ((i * 131 + b * 311 + ch * 457 + 17) % 2000) - 1000
                assert np.all(smp[b * 33 : (b + 1) * 33, ch] * 32768 == p)
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert feats[0][0] == 99.0 and feats[1][1] == 2.0 and feats[2][2] == 8000.0


def test_png_real_decode_features_and_resize(spark):
    """The PNG decode path is REAL (r11, VERDICT r10 #5): stdlib zlib
    inflate + per-scanline unfilter. Round-trips through encode_png (filter
    0) for all four supported color types; a HAND-FILTERED stream applying
    each of Sub/Up/Average/Paeth (independent reference filtering done here
    in the test, per PNG spec §9) decodes back to the source pixels;
    out-of-scope variants (16-bit, palette, interlaced) and truncated
    payloads return None; features and NN resize flow through the same
    Arrow batch path as netpbm/BMP, re-encoding as PNG."""
    import struct
    import zlib

    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        MEDIA_SCHEMA,
        _PNG_SIG,
        decode_png,
        encode_png,
        extract_features,
        resize_images,
    )

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):  # gray, gray+alpha, RGB, RGBA
        img = rng.integers(0, 256, size=(5, 4, c), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    # Hand-filtered stream: one scanline per filter type, filtering done by
    # an independent straight-from-spec implementation right here.
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)

    def paeth(a, b, cc):
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)

    body = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):  # None, Sub, Up, Average, Paeth
        body.append(f)
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        for i in range(stride):
            x = int(flat[y][i])
            a = int(flat[y][i - c]) if i >= c else 0
            b = int(prev[i])
            cc = int(prev[i - c]) if i >= c else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - ((a + b) >> 1)
            else:
                v = x - paeth(a, b, cc)
            body.append(v & 0xFF)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), img)

    # IDAT split across two chunks must concatenate before inflate
    comp = zlib.compress(bytes(body))
    split = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:10])
        + chunk(b"IDAT", comp[10:])
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(split), img)

    # out-of-scope variants -> None (stub fallback), never an exception
    assert decode_png(b"\x89PNG\r\n\x1a\n" + b"short") is None
    bad_depth = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    assert decode_png(_PNG_SIG + chunk(b"IHDR", bad_depth)) is None
    palette = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    assert decode_png(_PNG_SIG + chunk(b"IHDR", palette)) is None
    interlaced = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    assert decode_png(_PNG_SIG + chunk(b"IHDR", interlaced)) is None
    assert decode_png(payload[:-20]) is None  # truncated tail
    assert decode_png(b"JFIF" + bytes(64)) is None

    # zlib bomb: a ~64 KB IDAT inflating to 64 MiB against a 4x3 IHDR —
    # the BOUNDED inflate must only materialize the 15-byte raster, never
    # the 64 MiB (r11 code-review find); an over-long stream still decodes
    # the declared raster correctly
    bomb_ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    bomb_idat = zlib.compress(bytes(64 << 20))  # zeros: highly compressible
    assert (
        decode_png(_PNG_SIG + chunk(b"IHDR", bomb_ihdr) + chunk(b"IDAT", bomb_idat)
                   + chunk(b"IEND", b"")) is not None
    )  # first 3*(4+1) zero bytes decode as an all-zero 4x3 grayscale
    over = decode_png(
        _PNG_SIG + chunk(b"IHDR", bomb_ihdr) + chunk(b"IDAT", bomb_idat)
        + chunk(b"IEND", b"")
    )
    assert over.shape == (3, 4, 1) and int(over.max()) == 0

    # Arrow batch path: features match numpy stats, resize re-encodes PNG
    gray = rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
    media = spark.createDataFrame(
        [(0, "image", encode_png(img), w, h, 1),
         (1, "image", encode_png(gray), 6, 6, 1)],
        schema=MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    for mid, arr in ((0, img), (1, gray[:, :, None])):
        hh, ww, cc = arr.shape
        f = feats[mid]
        assert f[0] == ww and f[1] == hh and f[2] == cc
        assert abs(f[3] - arr.astype(float).mean()) < 1e-5
        assert f[5] == arr.min() and f[6] == arr.max()

    out = {r["media_id"]: r for r in resize_images(media, width=3, height=2).collect()}
    for mid, arr in ((0, img), (1, gray[:, :, None])):
        hh, ww, _ = arr.shape
        expected = arr[(np.arange(2) * hh) // 2][:, (np.arange(3) * ww) // 3]
        got_payload = bytes(out[mid]["payload"])
        assert got_payload[:8] == _PNG_SIG  # stayed PNG through resize
        got = decode_png(got_payload)
        assert got is not None and np.array_equal(got, expected)


def test_jpeg_real_decode_roundtrip_and_features(spark):
    """The JPEG decode path is REAL (r12, VERDICT r11 #5): baseline
    Huffman entropy decode + dequant + numpy IDCT + JFIF color transform.
    Block-constant images with all-ones quant tables round-trip EXACTLY
    (flat block -> DC-only -> IDCT returns the constant; equal channels ->
    neutral chroma -> color transform exact) across gray/RGB, 4:4:4/4:2:0
    where applicable, and restart intervals; random images round-trip
    within the quantization error bound; multi-length canonical DHT
    decode is pinned at the unit level; out-of-scope variants and
    truncated payloads return None; features and NN resize flow through
    the same Arrow batch path as netpbm/BMP/PNG, re-encoding as JPEG."""
    import numpy as np

    from pyranges_1_x_spark.ml.jpeg import (
        _HuffTable,
        decode_jpeg,
        encode_jpeg,
    )
    from pyranges_1_x_spark.ml.multimodal import (
        extract_features,
        resize_images,
        synthetic_jpeg_media,
    )

    ones = np.ones((8, 8), dtype=np.int64)
    by, bx = np.mgrid[0:2, 0:3]
    blocks = ((by * 31 + bx * 7 + 9) % 256).astype(np.uint8)
    flat = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)

    # flat-block EXACTNESS: gray, RGB(equal channels), with/without RSTn
    for c, rst in ((1, 0), (1, 2), (3, 0), (3, 2)):
        img = np.repeat(flat[:, :, None], c, axis=2)
        got = decode_jpeg(
            encode_jpeg(img, quant=ones, quant_chroma=ones, restart_interval=rst)
        )
        assert got is not None and got.shape == img.shape
        assert np.array_equal(got, img), f"c={c} rst={rst}"

    # random gray with quant=1: error bounded by coefficient rounding
    rng = np.random.default_rng(7)
    r = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    dr = decode_jpeg(encode_jpeg(r, quant=ones))
    assert np.abs(dr[:, :, 0].astype(int) - r.astype(int)).max() <= 2

    # smooth RGB through 4:2:0 + restarts + odd dims: decodes to the right
    # shape with small error (chroma is subsampled, so a loose bound)
    yy, xx = np.mgrid[0:19, 0:21]
    sm = np.stack([(yy * 5 + xx) % 256, (xx * 3) % 256, (yy + 2 * xx) % 256], -1)
    sm = sm.astype(np.uint8)
    ds = decode_jpeg(encode_jpeg(sm, quality=92, subsampling="420", restart_interval=2))
    assert ds.shape == (19, 21, 3)
    assert np.abs(ds.astype(float) - sm.astype(float)).mean() < 12.0

    # multi-length canonical Huffman decode (T.81 F.2.2.3) — the DHT
    # parser must handle real-world variable-length tables, not just our
    # encoder's fixed-length ones. counts=[1,1,1] yields the canonical
    # codes 0 (len 1), 10 (len 2), 110 (len 3).
    from pyranges_1_x_spark.ml.jpeg import _decode_symbol

    tab = _HuffTable([1, 1, 1] + [0] * 13, bytes([5, 6, 7]))
    bits = np.array([0, 1, 0, 1, 1, 0], dtype=np.uint8)
    pos = 0
    seen = []
    for _ in range(3):
        s, pos = _decode_symbol(bits, pos, tab)
        seen.append(s)
    assert seen == [5, 6, 7] and pos == 6

    # rejection: not-JPEG, truncated entropy stream, progressive SOF2,
    # 16-bit DQT
    assert decode_jpeg(None) is None
    assert decode_jpeg(b"notajpeg") is None
    full = encode_jpeg(flat, quant=ones)
    assert decode_jpeg(full[: len(full) // 2]) is None
    assert decode_jpeg(full.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    # DQT pq=1 (16-bit) is out of scope: flip the precision nibble
    i = full.index(b"\xff\xdb") + 4
    assert decode_jpeg(full[:i] + bytes([full[i] | 0x10]) + full[i + 1 :]) is None

    # T.81 A.2 (r12 review): a SINGLE-component scan is non-interleaved,
    # so a gray JPEG declaring Hi=Vi=2 in SOF decodes in the component's
    # own row-major block order — patch our 0x11 sampling byte to 0x22
    # (the entropy stream is identical in both orders for one component)
    # and the decode must not scramble or fall to None.
    import struct as _struct

    sof_at = full.index(b"\xff\xc0")
    hv_at = sof_at + 4 + 6 + 1  # marker+len, BHHB header, component id
    assert full[hv_at] == 0x11
    patched = full[:hv_at] + b"\x22" + full[hv_at + 1 :]
    d22 = decode_jpeg(patched)
    assert d22 is not None and np.array_equal(d22[:, :, 0], flat)

    # Arrow batch path: features are formula-exact, resize stays JPEG
    media = synthetic_jpeg_media(spark, 8)
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    for i in range(8):
        bw, bh = 2 + i % 3, 1 + i % 2
        g = ((np.mgrid[0:bh, 0:bw][0] * 31 + np.mgrid[0:bh, 0:bw][1] * 7 + i) % 256)
        f = feats[i]
        assert (f[0], f[1], f[2]) == (8 * bw, 8 * bh, 3 if i % 2 else 1)
        assert f[3] == np.float32(g.mean()) and f[5] == g.min() and f[6] == g.max()
    out = {r["media_id"]: r for r in resize_images(media, width=8, height=8).collect()}
    for i in (0, 1):
        p = bytes(out[i]["payload"])
        assert p[:2] == b"\xff\xd8"  # stayed JPEG through resize
        assert decode_jpeg(p).shape == (8, 8, 3 if i % 2 else 1)


def test_avi_real_video_decode_and_frame_sampling(spark):
    """The uncompressed-AVI video path is REAL (r12): RIFF container walk,
    per-frame bottom-up BGR/palette decode, video-statistics features, and
    frame sampling that re-emits sampled frames as BMP image records into
    the existing image kernels. Round-trips exactly (uncompressed), rejects
    non-AVI/compressed payloads, and the Arrow frame-sampling path yields
    formula-exact per-frame features."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.multimodal import (
        decode_avi,
        decode_bmp,
        encode_avi,
        extract_features,
        frame_sample_decode,
        synthetic_avi_media,
    )

    rng = np.random.default_rng(11)
    for c in (1, 3):
        fr = rng.integers(0, 256, (4, 5, 7, c), dtype=np.uint8)
        got, fps = decode_avi(encode_avi(fr, fps=12))
        assert fps == 12 and np.array_equal(got, fr), f"c={c}"

    # rejection: not RIFF, RIFF-but-WAVE, truncated, compressed handler
    assert decode_avi(None) is None
    assert decode_avi(b"nope") is None
    assert decode_avi(b"RIFF\x04\x00\x00\x00WAVE") is None
    full = encode_avi(rng.integers(0, 256, (2, 4, 4, 3), dtype=np.uint8))
    assert decode_avi(full[: len(full) // 2]) is None
    assert decode_avi(full.replace(b"DIB ", b"H264", 1)) is None

    # r12 review fixes, pinned:
    import struct

    fr = rng.integers(0, 256, (3, 6, 9, 3), dtype=np.uint8)
    # (a) frame_stride converts only sampled frames
    got2, _ = decode_avi(encode_avi(fr, fps=12), frame_stride=2)
    assert np.array_equal(got2, fr[::2])
    # (b) top-down DIB (negative biHeight) honored, like decode_bmp
    p = bytearray(encode_avi(fr[:1], fps=10))
    i = p.index(b"strf") + 8
    w0, h0 = struct.unpack_from("<ii", p, i + 4)
    struct.pack_into("<ii", p, i + 4, w0, -h0)
    td, _ = decode_avi(bytes(p))
    assert np.array_equal(td[0], fr[0][::-1])
    # (c) fps is the exact rate/scale float (NTSC-style fractional rate)
    p = bytearray(encode_avi(fr, fps=30))
    j = p.index(b"strh") + 8 + 20  # dwScale offset within strh body
    struct.pack_into("<II", p, j, 1001, 30000)
    _, fps = decode_avi(bytes(p))
    assert abs(fps - 30000 / 1001) < 1e-9

    media = synthetic_avi_media(spark, 6)
    # real video features: [n_frames, w, h, mean, std, min, max, fps]
    vf = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    for i in range(6):
        w, h, nf = 4 + i % 5, 3 + i % 4, 2 + i % 3
        ff, yy, xx = np.mgrid[0:nf, 0:h, 0:w]
        g = (yy * 31 + xx * 7 + ff * 13 + i) % 256
        f = vf[i]
        assert (f[0], f[1], f[2], f[7]) == (nf, w, h, 10)
        assert f[3] == np.float32(g.mean()) and f[5] == g.min() and f[6] == g.max()

    # frame sampling: every 2nd frame re-emitted as a decodable BMP image
    frames = frame_sample_decode(media, every_n=2)
    rows = frames.collect()
    expected_count = sum(len(range(0, 2 + i % 3, 2)) for i in range(6))
    assert len(rows) == expected_count
    for r in rows:
        i, fi = r["media_id"], r["frame_index"]
        w, h = 4 + i % 5, 3 + i % 4
        img = decode_bmp(bytes(r["payload"]))
        yy, xx = np.mgrid[0:h, 0:w]
        g = ((yy * 31 + xx * 7 + fi * 13 + i) % 256).astype(np.uint8)
        c = 3 if i % 2 else 1
        assert img is not None and img.shape == (h, w, c)
        assert np.array_equal(img, np.repeat(g[:, :, None], c, axis=2))
        assert r["kind"] == "image" and r["n_frames"] == 1
    # non-video rows pass through the filter untouched (empty output)
    imgs = media.withColumn("kind", F.lit("image"))
    assert frame_sample_decode(imgs, every_n=2).count() == 0


def test_mjpeg_avi_lossy_video_by_composition(spark):
    """LOSSY video decode (r13, VERDICT r12 #3): MJPEG AVI = the shipped
    RIFF walker + the shipped baseline JPEG codec, no new compression
    code. Block-constant frames under all-ones quantization round-trip
    bit-exactly (the jpeg_features exactness argument per frame); generic
    frames round-trip within JPEG quantization error; corrupt frames,
    dimension mismatches and out-of-scope codecs return None; and the
    frame-sampling Arrow path emits decodable BMPs matching the formula."""
    import numpy as np

    from pyranges_1_x_spark.ml.multimodal import (
        decode_avi,
        decode_bmp,
        encode_avi,
        frame_sample_decode,
        synthetic_mjpeg_media,
    )

    ones = np.ones((8, 8), dtype=np.int64)
    # bit-exact: block-constant frames, all-ones quant, gray + RGB,
    # restart intervals on odd records
    for i in range(4):
        bw, bh, nf = 2 + i % 3, 1 + i % 2, 2 + i % 3
        c = 3 if i % 2 else 1
        ff, by, bx = np.mgrid[0:nf, 0:bh, 0:bw]
        blocks = ((by * 31 + bx * 7 + ff * 13 + i) % 256).astype(np.uint8)
        fr = np.repeat(np.repeat(blocks, 8, axis=1), 8, axis=2)
        fr = np.repeat(fr[:, :, :, None], c, axis=3)
        payload = encode_avi(
            fr, fps=10, codec="MJPG",
            jpeg_kwargs={"quant": ones, "quant_chroma": ones,
                         "restart_interval": 2 if i % 2 else 0},
        )
        got, fps = decode_avi(payload)
        assert fps == 10 and np.array_equal(got, fr), i
        got2, _ = decode_avi(payload, frame_stride=2)
        assert np.array_equal(got2, fr[::2])

    # generic (non-flat) frames: lossy but close — quality-85 JPEG per frame
    rng = np.random.default_rng(13)
    base = rng.integers(60, 196, (1, 16, 16, 3), dtype=np.uint8).astype(np.int64)
    fr = np.clip(
        base + np.arange(3)[:, None, None, None] * 5, 0, 255
    ).astype(np.uint8)
    dec, _ = decode_avi(encode_avi(fr, codec="MJPG"))
    assert dec.shape == fr.shape
    assert np.abs(dec.astype(np.int64) - fr.astype(np.int64)).mean() < 16

    # rejection: truncated payload, frame dims disagreeing with strf,
    # corrupt JPEG body, unknown codec fourcc
    full = encode_avi(fr, codec="MJPG")
    assert decode_avi(full[: len(full) // 2]) is None
    bad = bytearray(full)
    j = bad.index(b"\xff\xd8")  # first JPEG SOI in the movi list
    bad[j : j + 2] = b"\x00\x00"  # clobber SOI: frame is not a JPEG
    assert decode_avi(bytes(bad)) is None
    import struct as _st

    dim = bytearray(full)
    k = dim.index(b"strf") + 8
    w0, h0 = _st.unpack_from("<ii", dim, k + 4)
    _st.pack_into("<ii", dim, k + 4, w0 + 8, h0)
    assert decode_avi(bytes(dim)) is None
    assert decode_avi(full.replace(b"MJPG", b"H264")) is None

    # Arrow frame-sampling path: sampled MJPEG frames re-emit as BMPs
    # matching the block formula exactly
    media = synthetic_mjpeg_media(spark, 6)
    rows = frame_sample_decode(media, every_n=2).collect()
    expected_count = sum(len(range(0, 2 + i % 3, 2)) for i in range(6))
    assert len(rows) == expected_count
    for r in rows:
        i, fi = r["media_id"], r["frame_index"]
        bw, bh = 2 + i % 3, 1 + i % 2
        c = 3 if i % 2 else 1
        by, bx = np.mgrid[0:bh, 0:bw]
        blocks = ((by * 31 + bx * 7 + fi * 13 + i) % 256).astype(np.uint8)
        g = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        img = decode_bmp(bytes(r["payload"]))
        assert img is not None and img.shape == (8 * bh, 8 * bw, c)
        assert np.array_equal(img, np.repeat(g[:, :, None], c, axis=2))


def test_bpe_pair_counts_merge_statistic(spark):
    """bpe_pair_counts is the first-merge-step statistic of BPE training:
    pair counts are weighted by pretoken occurrence, never cross pretoken
    boundaries, honor the GPT-2-style leading-space pretokens, and top_k
    ranks deterministically (count desc, lhs, rhs)."""
    from pyranges_1_x_spark.ml.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "the theme, the them"), (2, "hello")], "doc_id long, text string"
    )
    d = {(r.lhs, r.rhs): r.pair_count for r in bpe_pair_counts(df).collect()}
    # pretokens: the | ' theme' | ',' | ' the' | ' them' | hello
    assert d[("h", "e")] == 5   # 4x th(e|eme|em) + hello
    assert d[("t", "h")] == 4
    assert d[(" ", "t")] == 3   # leading-space pretokens pair space+t
    assert ("e", " ") not in d  # pairs never cross pretoken boundaries
    assert d[("l", "l")] == 1 and d[("e", "m")] == 2
    top = bpe_pair_counts(df, top_k=3).collect()
    assert [(r.lhs, r.rhs, r.merge_rank) for r in top] == [
        ("h", "e", 1), ("t", "h", 2), (" ", "t", 3)
    ]
    # "a b c" pretokenizes as 'a', ' b', ' c' — the leading-space pretokens
    # are 2-char, so exactly the two space-pairs exist (weighted counting)
    lone = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ld = {(r.lhs, r.rhs): r.pair_count for r in bpe_pair_counts(lone).collect()}
    assert ld == {(" ", "b"): 1, (" ", "c"): 1}
    # a single 1-char pretoken corpus has no pairs at all
    assert bpe_pair_counts(
        spark.createDataFrame([(1, "a")], "doc_id long, text string")
    ).count() == 0
    # ties break on (lhs, rhs) ascending at equal counts
    tie = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    tt = bpe_pair_counts(tie, top_k=10).collect()
    assert [(r.lhs, r.rhs) for r in tt] == [(" ", "c"), ("a", "b"), ("c", "d")]


def test_bpe_train_and_apply_match_reference(spark):
    """bpe_train is the real iterative BPE trainer (distinct-pretoken
    relation weighted by count; one TakeOrdered(1) row to the driver per
    round) — its merge table must equal a pure-Python reference trainer
    merge-for-merge, bpe_apply must reproduce the trainer's own final
    symbolization when applied back to the training corpus, and the
    Python-re pretokenizer twin the apply kernel uses must match the Java
    pattern token-for-token (unicode letters, contractions, underscores,
    the space-then-apostrophe case a naive \\p substitution gets wrong)."""
    import re
    from collections import Counter

    from pyranges_1_x_spark.ml.text import (
        BPE_PRETOKEN_PATTERN_PY,
        bpe_apply,
        bpe_pretokens,
        bpe_train,
    )

    corpus = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new lower"),
        (3, "low low low newer newest"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    wc = Counter(
        r[0]
        for r in df.select(F.explode(bpe_pretokens(F.col("text"))).alias("p")).collect()
    )

    def ref_train(wc, n):
        words = {w: list(w) for w in wc}
        merges = []
        for _ in range(n):
            pc = Counter()
            for w, syms in words.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += wc[w]
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            if c < 2:
                break
            merges.append((l, r))
            for w, syms in words.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[w] = out
        return merges, words

    ref_m, ref_words = ref_train(wc, 12)
    got = bpe_train(df, 12)
    assert got == ref_m
    # early stop: asking for more merges stops when counts drop under 2
    assert bpe_train(df, 500)[: len(ref_m)] == ref_m

    # r14 merge_batch escape: the prefix-disjoint-strict batching rule must
    # produce the sequential merge table EXACTLY (VERDICT r13 #5) — on the
    # fixture corpus and on an adversarial corpus built to punish naive
    # disjoint batching: fusing (a,b) in "xab" spawns (x,ab) with the SAME
    # count as the next disjoint candidate (c,d), so a skip-based batcher
    # would pick (c,d) where the sequential trainer picks (x,ab); the
    # prefix rule truncates the batch at (x,a) instead. Plus self-pair
    # chains ("aaaa") where greedy take-every-other order matters.
    for b in (2, 4, 64):
        assert bpe_train(df, 12, merge_batch=b) == ref_m, b
    tricky = spark.createDataFrame(
        [
            (1, "xab xab xab xab cd cd cd"),
            (2, "aaaa bbbb aaaa ab ab"),
            (3, "xab cd aaaa bbbb"),
        ],
        "doc_id long, text string",
    )
    seq_m = bpe_train(tricky, 10, min_pair_count=1)
    for b in (2, 3, 8):
        assert bpe_train(tricky, 10, min_pair_count=1, merge_batch=b) == seq_m, b
    # the SELF-PAIR spawn hole (found by re-deriving the safety proof, r14):
    # fusing (a,a) on runs spawns (aa,aa) with count ~ floor(c/2), which no
    # out-of-batch pair witnesses — here (a,a)=140 spawns (aa,aa)=60, which
    # the sequential trainer picks at round 2 OVER the disjoint (c,d)=50 a
    # bound-free batcher would have taken in round 1's batch. Rule (iii)
    # (self_bound) must truncate the batch to [(a,a)] alone.
    selfy = spark.createDataFrame(
        [(1, "aaaaaaaa")] * 20 + [(2, "cd " * 50)],
        "doc_id long, text string",
    )
    seq_s = bpe_train(selfy, 6, min_pair_count=1)
    for b in (2, 4):
        assert bpe_train(selfy, 6, min_pair_count=1, merge_batch=b) == seq_s, b

    seg = bpe_apply(
        spark.createDataFrame([(w,) for w in wc], "text string"), got, out_col="s"
    )
    segd = {r["text"]: list(r["s"]) for r in seg.collect()}
    for w, syms in ref_words.items():
        assert segd[w] == syms, w
    # NULL text passes through as NULL tokens; other columns survive
    nn = bpe_apply(
        spark.createDataFrame([(9, None)], "doc_id long, text string"), got
    ).collect()[0]
    assert nn["doc_id"] == 9 and nn["bpe_tokens"] is None

    # Java-vs-Python pretokenizer parity on the adversarial cases
    pat = re.compile(BPE_PRETOKEN_PATTERN_PY)
    for u in [
        "héllo wörld 日本語 123 ... 'll x",
        "it's we're I'll you've they'd I'm can't",
        "under_score mixed_2x 3.14 -- !? (a) [b] \t tabs\nnewlines",
    ]:
        sp = [
            r[0]
            for r in spark.createDataFrame([(u,)], "text string")
            .select(F.explode(bpe_pretokens(F.col("text"))).alias("p"))
            .collect()
        ]
        assert sp == pat.findall(u), u


def test_dedup_paragraphs(spark):
    """Paragraph-level first-occurrence dedup (ml/text.py dedup_paragraphs):
    corpus-wide keep-first by (doc_id, position), blank/short paragraphs
    exempt, byte-exact reassembly (split-on-literal + join-with-literal
    round-trips \\n\\n\\n runs), NULL text -> empty clean text."""
    from pyranges_1_x_spark.ml.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nshared promo\n\nbeta"),
            (2, "shared promo\n\ngamma\n\nalpha"),
            (3, "gamma\n\n\ndelta"),
            (4, ""),
            (5, None),
            (6, "  \n\nshared promo"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert out[1]["clean_text"] == "alpha\n\nshared promo\n\nbeta"
    assert (out[1]["n_removed"], out[1]["n_kept"]) == (0, 3)
    # doc2: "shared promo" first seen at (1,1), "alpha" at (1,0) -> dropped
    assert out[2]["clean_text"] == "gamma"
    assert (out[2]["n_removed"], out[2]["n_kept"]) == (2, 1)
    # "gamma\n\n\ndelta" splits as ["gamma", "\ndelta"]; "gamma" first at
    # (2,1) -> dropped here; "\ndelta" (distinct from "delta") kept
    assert out[3]["clean_text"] == "\ndelta"
    assert (out[3]["n_removed"], out[3]["n_kept"]) == (1, 1)
    # empty text: one blank paragraph, kept verbatim
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 1
    # NULL text: no paragraphs at all
    assert out[5]["clean_text"] == ""
    assert (out[5]["n_removed"], out[5]["n_kept"]) == (0, 0)
    # blank paragraph kept even when its neighbor is a corpus dup
    assert out[6]["clean_text"] == "  "
    assert (out[6]["n_removed"], out[6]["n_kept"]) == (1, 1)

    # min_len exempts short paragraphs from dedup entirely
    out2 = {
        r["doc_id"]: r
        for r in dedup_paragraphs(docs, min_len=6).collect()
    }
    assert out2[2]["clean_text"] == "gamma\n\nalpha"  # both under 6 chars
    # in-place rewrite + passthrough columns
    inp = dedup_paragraphs(docs, out_col="text")
    assert inp.columns == ["doc_id", "text", "n_removed", "n_kept"]

    # round-trip identity: a corpus with no cross-doc duplicate paragraphs
    # reassembles byte-exactly, whatever the newline structure
    weird = spark.createDataFrame(
        [(1, "a\n\n\n\nb\nc\n\n"), (2, "x\n\n\ny")], "doc_id long, text string"
    )
    w = {r["doc_id"]: r["clean_text"] for r in dedup_paragraphs(weird).collect()}
    assert w == {1: "a\n\n\n\nb\nc\n\n", 2: "x\n\n\ny"}


def test_dedup_and_boilerplate_compose_and_null_ids(spark):
    """r14 advice regressions (ml/text.py _attach_rebuilt_text):

    1. chaining remove_boilerplate_lines -> dedup_paragraphs (the two
       documented adjacent pipeline stages) must substitute n_removed /
       n_kept IN PLACE, not emit duplicate column names;
    2. a NULL-id doc passes through VERBATIM — previously its
       struct(null, pos) could win the corpus-wide MIN while its own kept
       predicate evaluated to NULL, dropping the paragraph from EVERY doc
       with no surviving copy, and the join-back blanked its text to "".
    """
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.text import (
        dedup_paragraphs,
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (None, "orphan paragraph\n\nNAV"),
            (7, "orphan paragraph\n\nkept seven\nNAV"),
            (8, "orphan paragraph\n\nkept eight\nNAV"),
        ],
        "doc_id long, text string",
    )
    chained = dedup_paragraphs(
        remove_boilerplate_lines(docs, out_col="text"), out_col="text"
    )
    # one n_removed / n_kept pair, substituted in place
    assert chained.columns == ["doc_id", "text", "n_removed", "n_kept"]
    # ...and the counts are usable downstream (no ambiguous reference)
    chained.filter(F.col("n_removed") >= 0).collect()

    out = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    # NULL-id row: text verbatim, counts zero, never deduped
    assert out[None]["clean_text"] == "orphan paragraph\n\nNAV"
    assert (out[None]["n_removed"], out[None]["n_kept"]) == (0, 0)
    # the first NON-NULL occurrence survives: doc 7 keeps the paragraph
    # (previously the NULL-id MIN winner left no surviving copy anywhere)
    assert out[7]["clean_text"].startswith("orphan paragraph")
    assert out[8]["clean_text"] == "kept eight\nNAV"

    rows = {r["doc_id"]: r for r in remove_boilerplate_lines(docs).collect()}
    # NAV is a line in 2 non-null docs -> stripped there; the NULL-id doc
    # passes through verbatim and does NOT count toward line frequency
    # ("orphan paragraph" appears in only 7 and 8 among counted docs, so
    # min_docs=2 strips it from both — the NULL doc contributed nothing)
    assert rows[None]["clean_text"] == "orphan paragraph\n\nNAV"
    assert (rows[None]["n_removed"], rows[None]["n_kept"]) == (0, 0)
    # (the blank separator line survives verbatim, as documented)
    assert rows[7]["clean_text"] == "\nkept seven"
    assert rows[8]["clean_text"] == "\nkept eight"


def test_stratified_sample_empty_fractions_threshold_parity(spark):
    """r14 advice regression (ml/sampling.py): the empty-fractions branch
    must ROUND the default threshold like the non-empty branch and
    hash_keep do — int(0.29 * 1e6) truncates to 289999 while
    round(...) = 290000, so the same default selected different rows
    depending on whether the fractions dict happened to be empty."""
    from pyranges_1_x_spark.ml.sampling import stratified_sample

    docs = spark.createDataFrame(
        [(i, "s") for i in range(4000)], "doc_id long, src string"
    )
    empty = stratified_sample(
        docs, "src", {}, key_col="doc_id", default=0.29
    )
    nonempty = stratified_sample(
        docs, "src", {"absent-stratum": 1.0}, key_col="doc_id", default=0.29
    )
    a = sorted(r["doc_id"] for r in empty.collect())
    b = sorted(r["doc_id"] for r in nonempty.collect())
    assert a == b and len(a) > 0


def test_bpe_train_checkpoint_rotation_frees_blocks(spark):
    """The trainer's checkpoint rotation must FREE superseded localCheckpoint
    blocks, not merely drop references: DataFrame.unpersist() is a no-op on
    local checkpoints (their blocks live on the LogicalRDD's internal RDD,
    not in the cache manager — r14 review find, verified on PySpark 4.1.2),
    so plans/qcache.py:free_checkpoint reaches through the analyzed plan. A
    12-merge run with checkpoint_every=2 rotates up to 6 times; without the
    eager free the session's persistent-RDD count grows by one per rotation."""
    from pyranges_1_x_spark.ml.text import bpe_train

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, "ab ab ba bb aa cc dd ee ff gg " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, 12, min_pair_count=1, checkpoint_every=2)
    assert len(merges) > 6  # enough rounds that rotation actually happened
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1, (before, after)



def test_decoder_mutation_fuzz_never_raises():
    """Decoder robustness contract: a corrupt payload returns None (or a
    best-effort decode), NEVER raises — one bad record must not kill a
    whole mapInPandas feature batch. Deterministic mutation fuzz: valid
    payloads from every real codec (netpbm, BMP, PNG, JPEG, WAV, ADPCM,
    DIB-AVI, MJPEG-AVI) take seeded byte flips, truncations and length
    corruptions; every decode call must return cleanly."""
    import numpy as np

    from pyranges_1_x_spark.ml.jpeg import decode_jpeg, encode_jpeg
    from pyranges_1_x_spark.ml.multimodal import (
        decode_adpcm_wav,
        decode_avi,
        decode_bmp,
        decode_image,
        decode_png,
        decode_wav,
        encode_adpcm_wav,
        encode_avi,
        encode_bmp,
        encode_netpbm,
        encode_png,
        encode_wav,
    )

    rng = np.random.default_rng(2024)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    gray = img[:, :, 0]
    sig = 0.4 * np.sin(np.arange(500) / 7.0)
    frames = rng.integers(0, 256, (2, 8, 8, 3), dtype=np.uint8)
    payloads = [
        (encode_netpbm(img), decode_image),
        (encode_bmp(img), decode_bmp),
        (encode_png(img), decode_png),
        (encode_jpeg(img), decode_jpeg),
        (encode_wav(sig), decode_wav),
        (encode_adpcm_wav(sig), decode_adpcm_wav),
        (encode_avi(frames), decode_avi),
        (encode_avi(frames, codec="MJPG"), decode_avi),
        (encode_jpeg(gray, subsampling="420", restart_interval=1), decode_jpeg),
    ]
    for payload, dec in payloads:
        assert dec(payload) is not None  # sanity: the clean payload decodes
        n = len(payload)
        for trial in range(40):
            mode = trial % 4
            buf = bytearray(payload)
            if mode == 0:  # flip a handful of bytes anywhere
                for pos in rng.integers(0, n, size=5):
                    buf[pos] ^= int(rng.integers(1, 256))
            elif mode == 1:  # truncate
                buf = buf[: int(rng.integers(0, n))]
            elif mode == 2:  # corrupt a declared length field region
                pos = int(rng.integers(0, max(n - 4, 1)))
                buf[pos : pos + 4] = b"\xff\xff\xff\x7f"
            else:  # splice two halves of different payloads
                other = payloads[(trial // 4) % len(payloads)][0]
                buf = bytearray(payload[: n // 2] + other[len(other) // 2 :])
            dec(bytes(buf))  # must return (None or data), never raise
            decode_image(bytes(buf))  # the magic-dispatch path too
        # empty / None / single byte
        dec(b"")
        dec(None)
        dec(b"\x00")


def test_get_sequence_auto_tile_adoption(spark):
    """r11 (VERDICT r10 #6): the first tiled get_sequence call for a source
    adopts a localCheckpoint'ed chunk relation; call 2+ over the same
    source runs with NO chunk-split stage in the plan (no \\G split, no
    posexplode Generate) and returns identical values — including the
    empty/NULL/absent probe contract frozen into the adopted relations.
    auto_tile_cache=False opts out (split present every call)."""
    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.functions import seqs as S

    seqs = spark.createDataFrame(
        [("chr1", "ACGTACGTAC"), ("chrE", ""), ("chrN", None)],
        "Chromosome string, Sequence string",
    )
    gr = GenomicRanges(spark.createDataFrame(
        pd.DataFrame(
            [("chr1", 2, 6), ("chrE", 0, 5), ("chrN", 0, 5), ("chrX", 0, 5)],
            columns=["Chromosome", "Start", "End"],
        )
    ))
    want = sorted([
        ("chr1", 2, 6, "GTAC"),
        ("chrE", 0, 5, ""),
        ("chrN", 0, 5, None),
        ("chrX", 0, 5, None),
    ])

    def key(df):
        pdf = df.toPandas()
        return sorted(
            (r.Chromosome, r.Start, r.End, None if pd.isna(r.Seq) else r.Seq)
            for r in pdf.itertuples()
        )

    def plan_of(g):
        return g.df._jdf.queryExecution().executedPlan().toString()

    S._tiles_memo(spark).clear()
    out1 = gr.get_sequence(seqs, tile_size=4)
    assert key(out1.df) == want  # adoption call: values exact
    memo = S._tiles_memo(spark)
    assert len(memo) == 1 and next(iter(memo.values()))["tile_size"] == 4
    out2 = gr.get_sequence(seqs, tile_size=4)
    p2 = plan_of(out2)
    assert "\\G" not in p2 and "posexplode" not in p2  # split-free reuse
    assert key(out2.df) == want  # probe contract survives adoption
    # tile_size=None also rides the adopted relation (registry consulted
    # before the sizing job)
    out3 = gr.get_sequence(seqs)
    assert "\\G" not in plan_of(out3)
    assert key(out3.df) == want
    # a DIFFERENT explicit tile_size must not reuse the size-4 tiles —
    # and must not RE-adopt either (alternating sizes must not churn
    # checkpointed generations; r11 code-review find)
    out4 = gr.get_sequence(seqs, tile_size=3)
    assert key(out4.df) == want
    assert next(iter(S._tiles_memo(spark).values()))["tile_size"] == 4
    # opt-out: the split stays in-plan every call
    S._tiles_memo(spark).clear()
    off = gr.get_sequence(seqs, tile_size=4, auto_tile_cache=False)
    assert "\\G" in plan_of(off)
    assert not S._tiles_memo(spark)
    # the memo lives ON the session (no module-global holding DataFrames
    # that strongly reference their own weak key — r11 code-review find)
    assert getattr(spark, S._TILES_ATTR) is S._tiles_memo(spark)
    S._tiles_memo(spark).clear()


def test_get_sequence_tile_cache_staleness(spark, tmp_path):
    """r12 (VERDICT r11 #3 / ADVICE r11): the adopted-tile key carries a
    (path, mtime_ns, size) stat fingerprint, so a source rewritten
    MID-SESSION is a cache miss that re-splits fresh data — with
    ``auto_tile_cache=True`` — instead of serving stale sequence output.
    Covers both key shapes: path input (FASTA rewrite) and table input
    (parquet overwrite under the same logical plan / semanticHash)."""
    import os

    import pandas as pd

    from pyranges_1_x_spark.core import GenomicRanges
    from pyranges_1_x_spark.functions import seqs as S
    from pyranges_1_x_spark.sources.fasta import write_fasta

    gr = GenomicRanges(spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["chr1"], "Start": [2], "End": [6]})
    ))

    def seq_of(g):
        return g.df.collect()[0]["Seq"]

    # --- path input: FASTA rewritten between calls ---
    S._tiles_memo(spark).clear()
    p = str(tmp_path / "g.fa")
    write_fasta(p, [("chr1", "ACGTACGTAC")], width=4)
    assert seq_of(gr.get_sequence(path=p, tile_size=4)) == "GTAC"
    assert len(S._tiles_memo(spark)) == 1
    write_fasta(p, [("chr1", "GGGGGGGGGG")], width=4)
    # force a distinct mtime_ns even on coarse-mtime filesystems
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert seq_of(gr.get_sequence(path=p, tile_size=4)) == "GGGG"  # fresh
    assert len(S._tiles_memo(spark)) == 2  # miss adopted a new entry

    # --- table input: parquet overwritten, same plan hash ---
    S._tiles_memo(spark).clear()
    pq = str(tmp_path / "seqs.parquet")
    spark.createDataFrame(
        [("chr1", "ACGTACGTAC")], "Chromosome string, Sequence string"
    ).write.mode("overwrite").parquet(pq)
    t1 = spark.read.parquet(pq)
    assert seq_of(gr.get_sequence(t1, tile_size=4)) == "GTAC"
    spark.createDataFrame(
        [("chr1", "CCCCCCCCCC")], "Chromosome string, Sequence string"
    ).write.mode("overwrite").parquet(pq)
    t2 = spark.read.parquet(pq)
    assert t2.semanticHash() == t1.semanticHash()  # plan identity unchanged
    assert seq_of(gr.get_sequence(t2, tile_size=4)) == "CCCC"  # data identity won
    # and an UNCHANGED source still hits (split-free second call)
    out = gr.get_sequence(t2, tile_size=4)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "\\G" not in plan and "posexplode" not in plan
    assert seq_of(out) == "CCCC"
    S._tiles_memo(spark).clear()


def test_connected_components_durable_checkpoint_dir(spark, tmp_path):
    """r11 (VERDICT r10 #8): checkpoint_dir= switches the per-round lineage
    truncation from localCheckpoint (executor-storage blocks, lost with a
    preempted executor) to reliable DataFrame.checkpoint under the given
    directory. Forced onto the distributed path: labels identical to the
    driver union-find, reliable checkpoint files actually land in the dir,
    and the default path leaves the dir untouched."""
    import os

    from pyranges_1_x_spark.ml.dedup import CC_LAST_STATS, connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (7, 3)], "id_a long, id_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}
    ck = str(tmp_path / "cc_ck")
    jsc = spark.sparkContext._jsc.sc()
    orig_opt = jsc.checkpointDir()

    try:
        # app with NO checkpoint dir: the call must leave it UNSET after
        # (ADVICE r11 — the r11 restore skipped the None case, permanently
        # redirecting every later application checkpoint under cc_ck)
        getattr(jsc, "checkpointDir_$eq")(spark.sparkContext._jvm.scala.Option.empty())
        got0 = {
            r.node: r.component
            for r in connected_components(
                edges, driver_threshold=0, checkpoint_dir=ck
            ).collect()
        }
        assert got0 == want
        assert spark.sparkContext.getCheckpointDir() is None  # unset restored

        # pre-set an application checkpoint dir: the call must RESTORE it
        # (r11 code-review find: a library must not permanently redirect the
        # session-global checkpoint dir)
        app_ck = str(tmp_path / "app_ck")
        spark.sparkContext.setCheckpointDir(app_ck)
        resolved_app = spark.sparkContext.getCheckpointDir()
        got = {
            r.node: r.component
            for r in connected_components(
                edges, driver_threshold=0, checkpoint_dir=ck
            ).collect()
        }
        assert got == want
        assert CC_LAST_STATS["path"] == "distributed"
        # exact restore: the SAME resolved per-context UUID subdir, not a
        # fresh UUID nested under it (ADVICE r11 — a get→set round-trip
        # re-resolves and nests)
        assert spark.sparkContext.getCheckpointDir() == resolved_app
    finally:
        getattr(jsc, "checkpointDir_$eq")(orig_opt)
    # reliable checkpoint files landed under the requested dir
    ck_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ck) for f in fs
    ]
    assert ck_files, "no reliable checkpoint files written"

    # default (localCheckpoint) path: same labels, nothing written to disk
    ck2 = str(tmp_path / "cc_ck_unused")
    got2 = {
        r.node: r.component
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got2 == want
    assert not os.path.exists(ck2)


def test_repetition_stats_counts(spark):
    from pyranges_1_x_spark.ml.text import repetition_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["x y\nx y\n\nz w", "hello", ""],
            }
        )
    )
    got = {
        r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()
    }
    assert len(got) == 3  # empty/one-token docs keep their row (zeros)
    # doc 1: lines [x y, x y, z w]; 2-grams [x y, y x, x y, y z, z w]
    assert got[1] == {
        "doc_id": 1, "n_lines": 3, "n_dup_line_occ": 1,
        "n_chars_dup_lines": 3, "n_2grams": 5, "top_2gram_count": 2,
        "n_dup_2gram_occ": 2,
    }
    # doc 2: one line, one token -> no 2-grams
    assert got[2] == {
        "doc_id": 2, "n_lines": 1, "n_dup_line_occ": 0,
        "n_chars_dup_lines": 0, "n_2grams": 0, "top_2gram_count": 0,
        "n_dup_2gram_occ": 0,
    }
    assert all(v == 0 for k, v in got[3].items() if k != "doc_id")


def test_tfidf_top_terms_rational_idf(spark):
    from pyranges_1_x_spark.ml.text import tfidf_top_terms

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "apple banana apple",
                    "banana cherry",
                    "cherry cherry date",
                ],
            }
        )
    )
    out = tfidf_top_terms(docs, k=3).toPandas()
    by_doc = {
        d: g.sort_values(["score", "term"], ascending=[False, True])
        for d, g in out.groupby("doc_id")
    }
    # idf(df=1) = 2.5/1.5, idf(df=2) = 1.5/2.5 — exact IEEE rationals
    assert list(by_doc[1].term) == ["apple", "banana"]
    assert by_doc[1].score.iloc[0] == 2.0 * (2.5 / 1.5)
    # doc 2: equal scores -> ascending-term tiebreak
    assert list(by_doc[2].term) == ["banana", "cherry"]
    # doc 3: date (tf 1, rare) outranks cherry (tf 2, common)
    assert list(by_doc[3].term) == ["date", "cherry"]
    assert by_doc[3].score.iloc[0] == 1.0 * (2.5 / 1.5)
    assert by_doc[3].score.iloc[1] == 2.0 * (1.5 / 2.5)


def test_pack_training_examples_tiles_the_stream(spark):
    from pyranges_1_x_spark.ml.sampling import pack_training_examples

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(20)),
                "text": [
                    " ".join(f"w{i}_{j}" for j in range(3 + 7 * (i % 4)))
                    for i in range(20)
                ]
                + [],
            }
        )
    )
    # empty doc keeps a row and occupies zero tokens
    docs = docs.union(
        spark.createDataFrame(pd.DataFrame({"doc_id": [99], "text": ["   "]}))
    )
    out = pack_training_examples(docs, budget=16, seed=3).toPandas()
    assert len(out) == 21
    got = out.sort_values("start_offset").reset_index(drop=True)
    # the packed stream is an exact tiling: each doc starts where the
    # previous one ended (empty docs share their successor's offset)
    prev_end = 0
    for _, r in got.iterrows():
        assert r.start_offset == prev_end
        prev_end = r.start_offset + r.n_tokens
    assert prev_end == int(out.n_tokens.sum())
    # example ids are the chunk arithmetic
    nonempty = got[got.n_tokens > 0]
    assert (nonempty.first_example == nonempty.start_offset // 16).all()
    assert (
        nonempty.last_example
        == (nonempty.start_offset + nonempty.n_tokens - 1) // 16
    ).all()
    empty = got[got.n_tokens == 0]
    assert (empty.first_example == empty.last_example).all()
    # deterministic under any physical partitioning
    out2 = (
        pack_training_examples(docs.repartition(7), budget=16, seed=3)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True), out2
    )
    # a different seed is a different permutation of the same tiling
    out3 = pack_training_examples(docs, budget=16, seed=4).toPandas()
    assert int(out3.n_tokens.sum()) == int(out.n_tokens.sum())
    assert not out3.sort_values("doc_id").start_offset.reset_index(
        drop=True
    ).equals(out.sort_values("doc_id").start_offset.reset_index(drop=True))


def test_scrub_pii_order_and_counts(spark):
    from pyranges_1_x_spark.ml.text import scrub_pii

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "mail a@b.io and c.d+x@e-f.org now",
                    "see https://x.io/p?q=1 call +1 (555) 010-0099 ok",
                    "clean text with no pii at all",
                ],
            }
        )
    )
    got = {r["doc_id"]: r.asDict() for r in scrub_pii(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_url"] == 0 and got[1]["n_phone"] == 0
    assert got[1]["scrubbed"] == "mail <EMAIL> and <EMAIL> now"
    assert got[2]["n_email"] == 0 and got[2]["n_url"] == 1 and got[2]["n_phone"] == 1
    # email/url redact BEFORE the phone-ish digit-run pattern can eat digits
    assert got[2]["scrubbed"] == "see <URL> call <PHONE> ok"
    assert got[3]["scrubbed"] == "clean text with no pii at all"
    assert got[3]["n_email"] == got[3]["n_url"] == got[3]["n_phone"] == 0
    # non-text columns pass through; out_col=text_col redacts in place
    docs2 = docs.withColumn("source", F.lit("web"))
    out2 = scrub_pii(docs2, out_col="text")
    assert set(out2.columns) == {"doc_id", "text", "source", "n_email", "n_url", "n_phone"}
    r1 = {r["doc_id"]: r["text"] for r in out2.collect()}
    assert r1[1] == "mail <EMAIL> and <EMAIL> now"


def test_dedup_against_store_three_outcomes(spark):
    from pyranges_1_x_spark.ml.dedup import dedup_against_store, fingerprint

    store = spark.createDataFrame(
        pd.DataFrame({"text": ["seen before"]})
    ).select(fingerprint(F.col("text")).alias("sig"))
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [
                    "seen before",   # store dup -> dropped
                    "fresh twice",   # in-batch dup, smallest id -> kept
                    "fresh twice",   # in-batch dup -> dropped
                    "fresh once",    # fresh -> kept
                ],
            }
        )
    )
    got = dedup_against_store(batch, store).select("doc_id").toPandas()
    assert sorted(got.doc_id) == [11, 13]
    # NULL text: sig is NULL — kept once (smallest id), matching the
    # streaming twin's dropDuplicates semantics (review fix, r12)
    nb = spark.createDataFrame(
        [(20, None), (21, None)], "doc_id long, text string"
    )
    got2 = dedup_against_store(nb, store).select("doc_id").toPandas()
    assert sorted(got2.doc_id) == [20]


def test_incremental_dedup_store_growth_soak(spark):
    """Store-growth soak (r13, VERDICT r12 #8), pytest-sized: three
    sequential batches through dedup_against_store against a persisted
    sig-bucketed store must equal the from-scratch dedup after every
    round, and — with auto-broadcast disabled to force the large-store
    plan shape — the anti-join's store side must read through the
    bucketed scan with NO exchange (scripts/soak_incremental_dedup.py
    runs the decade-growth version of the same assertions)."""
    import sys as _sys

    _sys.path.insert(0, ".")
    from scripts.soak_incremental_dedup import store_side_exchange_free

    from pyranges_1_x_spark.ml.dedup import dedup_against_store
    from pyranges_1_x_spark.sources.bucketed import read_bucketed, write_bucketed

    tbl = "t_soak_store_py"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        write_bucketed(
            spark.createDataFrame([], "sig string"),
            tbl, buckets=4, bucket_cols=("sig",), sort_cols=("sig",),
        )
        seen: dict[str, int] = {}
        kept_all: set[int] = set()
        for r in range(3):
            rows = [
                (r * 100 + k, f"content {(r * 50 + k) % 150}") for k in range(100)
            ]
            b = spark.createDataFrame(rows, "doc_id long, text string")
            out = dedup_against_store(b, read_bucketed(spark, tbl))
            plan = out._jdf.queryExecution().executedPlan().toString()
            bucketed, xfree = store_side_exchange_free(plan, tbl)
            assert bucketed and xfree, plan
            kept = out.select("doc_id", "sig").collect()
            kept_all.update(row["doc_id"] for row in kept)
            write_bucketed(
                read_bucketed(spark, tbl)
                .unionByName(
                    spark.createDataFrame([(row["sig"],) for row in kept], "sig string")
                )
                .localCheckpoint(),
                tbl, buckets=4, bucket_cols=("sig",), sort_cols=("sig",),
            )
            for did, txt in rows:
                seen.setdefault(txt, did)
            assert kept_all == set(seen.values()), f"round {r}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_pq_encode_and_adc_topk(spark):
    from pyranges_1_x_spark.ml.similarity import pq_adc_table, pq_encode, pq_topk

    # m=2 subspaces of 2 dims, k=2 centroids each — hand-checkable
    cb = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),   # codes [0, 0]
        (2, [1.0, 1.0, 2.0, 2.0]),   # codes [1, 1] — exactly the query
        (3, [1.0, 1.0, 0.0, 0.0]),   # codes [1, 0]
        (4, [0.5, 0.5, 0.0, 0.0]),   # subspace-0 tie -> FIRST index (0)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = {
        r.vec_id: list(r.c)
        for r in df.select(
            "vec_id", pq_encode(F.col("embedding"), cb).alias("c")
        ).collect()
    }
    assert codes == {1: [0, 0], 2: [1, 1], 3: [1, 0], 4: [0, 0]}

    q = [1.0, 1.0, 2.0, 2.0]
    assert pq_adc_table(q, cb) == [[2.0, 0.0], [8.0, 0.0]]
    top = pq_topk(df, q, cb, k=4).toPandas().sort_values("rank")
    assert list(top.vec_id) == [2, 3, 1, 4]  # adist 0, 8, 10, 10 (id tiebreak)
    assert list(top.adist) == [0.0, 8.0, 10.0, 10.0]
    # malformed (short) embeddings encode to NULL adist and are EXCLUDED,
    # not ranked first by asc-nulls-first (review fix, r12)
    bad = spark.createDataFrame(
        [(9, [9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    top2 = pq_topk(df.union(bad), q, cb, k=5).toPandas()
    assert 9 not in set(top2.vec_id) and len(top2) == 4

    # Seeded random grid: the Arrow scorer's adist is bit-identical to the
    # fold codes summed through the ADC table, row by row. Centroid 5 of
    # every subspace duplicates centroid 2 (an exact distance tie -> first
    # index), and row 0 carries one NULL element (NULL fold code -> excluded).
    import random

    rng = random.Random(2024)
    m, kc, dsub = 4, 8, 2
    cb = [[[rng.uniform(-1, 1) for _ in range(dsub)] for _ in range(kc)] for _ in range(m)]
    for sub in cb:
        sub[5] = list(sub[2])
    rows = [(i, [rng.uniform(-1.5, 1.5) for _ in range(m * dsub)]) for i in range(200)]
    rows[0][1][1] = None
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [rng.uniform(-1, 1) for _ in range(m * dsub)]
    table = pq_adc_table(q, cb)
    fold_codes = {
        r.vec_id: list(r.c)
        for r in df.select("vec_id", pq_encode(F.col("embedding"), cb).alias("c")).collect()
    }
    assert fold_codes[0][0] is None
    assert all(5 not in c for c in fold_codes.values())
    assert any(c[s] == 2 for c in fold_codes.values() for s in range(m))
    expected = {
        i: sum(table[s][c[s]] for s in range(m)).hex()
        for i, c in fold_codes.items()
        if None not in c
    }
    got = {
        r.vec_id: r.adist.hex() for r in pq_topk(df, q, cb, k=len(rows)).collect()
    }
    assert got == expected and 0 not in got


def test_ivfpq_composition(spark):
    """The classic IVF-PQ stack (Jegou et al. IVFADC): ivf_assign prunes to
    the probed Voronoi cells, pq_topk ADC-scores only the survivors — pins
    the 'PQ composes with IVF partition pruning' claim with a case where
    pruning visibly excludes a vector PQ alone would rank."""
    from pyranges_1_x_spark.ml.similarity import ivf_assign, pq_topk

    # two coarse cells along dim 0; PQ books on (dim0,dim1)/(dim2,dim3)
    coarse = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    cb = [[[1.0, 0.0], [-1.0, 0.0]], [[0.0, 0.0], [1.0, 1.0]]]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),    # cell 0, codes [0, 0]
        (2, [1.0, 0.0, 1.0, 1.0]),    # cell 0, codes [0, 1]
        (3, [-1.0, 0.0, 0.0, 0.0]),   # cell 1 — pruned before PQ
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0, 0.0]
    cand = ivf_assign(df, coarse).filter(F.col("__cell__") == 0)
    top = pq_topk(cand, q, cb, k=3).toPandas().sort_values("rank")
    assert list(top.vec_id) == [1, 2]   # vec 3 pruned by IVF, not ranked
    assert list(top.adist) == [0.0, 2.0]

    # r14: metric="l2" (the metric-consistent IVFADC coarse stage the
    # ivfpq_topk gate now runs) — same Voronoi split on this fixture, and
    # argmin breaks ties on the FIRST index like the dot path's argmax.
    a2 = ivf_assign(df, coarse, metric="l2").select("vec_id", "__cell__").toPandas()
    assert dict(zip(a2.vec_id, a2.__cell__)) == {1: 0, 2: 0, 3: 1}
    tie = spark.createDataFrame(
        [(7, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert ivf_assign(tie, coarse, metric="l2").collect()[0]["__cell__"] == 0


def test_sampling_edge_guards_r14(spark):
    """r14 review finds, pinned: (a) rounded (not truncated) hash-keep
    thresholds; (b) NULL text counts 0 tokens in pack/token-quota instead
    of NULL offsets; (c) a NULL id neither corrupts other rows' offsets nor
    survives in pack/deterministic_shuffle; (d) token_quota_sample
    substitutes n_tokens in place when the input already carries it."""
    from pyspark.sql import functions as F

    from pyranges_1_x_spark.ml.sampling import (
        deterministic_shuffle,
        hash_keep,
        pack_training_examples,
        token_quota_sample,
    )

    # (a) 0.29 * 1e6 floats to 289999.99999...: the threshold must be 290000
    df29 = spark.range(1).select(hash_keep(F.lit("x"), 0.29).alias("k"))
    plan = df29._jdf.queryExecution().analyzed().toString()
    assert "290000" in plan and "289999" not in plan

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e"), (None, "x y z")],
        "doc_id long, text string",
    )
    packed = {r["doc_id"]: r for r in pack_training_examples(docs, budget=4).collect()}
    # (c) the NULL-id row is excluded entirely, and offsets still tile
    assert None not in packed and len(packed) == 3
    rows = sorted(packed.values(), key=lambda r: r["start_offset"])
    assert rows[0]["start_offset"] == 0
    for a, b in zip(rows, rows[1:]):
        assert b["start_offset"] == a["start_offset"] + a["n_tokens"]
    # (b) the NULL-text doc packs as a 0-token doc, not NULL
    assert packed[2]["n_tokens"] == 0 and packed[2]["start_offset"] is not None

    ranks = deterministic_shuffle(docs).toPandas()
    assert set(ranks["shuffle_rank"]) == {1, 2, 3}  # starts at 1, no gaps
    assert ranks["doc_id"].notna().all()
    # (c) under xxhash64 too, which hashes a NULL id to its seed, not NULL
    from pyranges_1_x_spark.ml.dedup import xxhash64_fn

    xdocs = docs.union(spark.createDataFrame([(None, "p q")], docs.schema))
    xpacked = pack_training_examples(xdocs, budget=4, hash_fn=xxhash64_fn).collect()
    assert {r["doc_id"] for r in xpacked} == {1, 2, 3} and len(xpacked) == 3
    xorder = sorted(xpacked, key=lambda r: r["start_offset"])
    assert xorder[0]["start_offset"] == 0
    for a, b in zip(xorder, xorder[1:]):
        assert b["start_offset"] == a["start_offset"] + a["n_tokens"]
    xranks = deterministic_shuffle(xdocs, hash_fn=xxhash64_fn).collect()
    assert {r["doc_id"] for r in xranks} == {1, 2, 3}
    assert sorted(r["shuffle_rank"] for r in xranks) == [1, 2, 3]

    # (d) in-place n_tokens substitution — no duplicate column
    pre = docs.filter("doc_id IS NOT NULL").withColumn("n_tokens", F.lit(7))
    tq = token_quota_sample(pre, "doc_id", 100, tokens_col="n_tokens")
    assert tq.columns.count("n_tokens") == 1
    assert {r["n_tokens"] for r in tq.collect()} == {7}


def test_python_udfs_single_evaluation_r15(spark):
    """r15 optimization pin: filter pushdown must not duplicate the pandas
    UDF evaluation (guide-§4.4 class). The ADC scoring UDF appears exactly
    ONCE in pq_topk's executed plan (pre-r15: a pushed isnotnull planned a
    second ArrowEvalPython, scoring every row twice), and the signature /
    cosine-verify UDF factories return nondeterministic UDFs so the
    optimizer may never copy them below a pushed filter."""
    from pyranges_1_x_spark.ml.similarity import (
        _band_signatures_udf,
        _pair_cosine_udf,
        pq_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 2.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    codebooks = [[[0.0, 0.0], [1.0, 1.0]], [[0.5, 2.0], [3.0, 1.0]]]
    out = pq_topk(df, [1.0, 1.0, 1.0, 1.0], codebooks, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert out.count() == 3

    assert _pair_cosine_udf().deterministic is False
    assert _band_signatures_udf([[1.0, 0.0], [0.0, 1.0]], 2).deterministic is False


def test_winnow_fingerprints_window_one(spark):
    """ADVICE r15: window=1 used to raise (F.least needs >= 2 columns, the
    j-loop was empty). With window=1 every position is its own window
    minimum, so every distinct gram hash is selected."""
    from pyranges_1_x_spark.ml.text import winnow_fingerprints
    from pyranges_1_x_spark.ml.xxh64 import spark_xxhash64_str

    text = "abcab"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r.fp for r in winnow_fingerprints(df, k=3, window=1).collect()}
    expect = {spark_xxhash64_str(text[i : i + 3]) for i in range(len(text) - 2)}
    assert got == expect


def test_shingle_rows_null_text_dropped(spark):
    """ADVICE r15: a NULL-text doc must emit NO shingle rows (the pre-r15
    posexplode(split(NULL)) behavior) — not an (id, NULL) token row."""
    from pyranges_1_x_spark.ml.dedup import shingle_rows

    df = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta")], "doc_id long, text string"
    )
    rows = shingle_rows(df, k=3).collect()
    assert all(r.id == 2 for r in rows)
    assert all(r.token is not None for r in rows)
    assert len(rows) == 2


def test_assign_arrow_fold_parity(spark):
    """r16: the Arrow-batched nearest-centroid assignment must equal the
    pure-expression fold twin cell-for-cell on every well-formed vector —
    including exact centroid ties (first index) — and map the malformed
    edges (null vector, wrong length, null element) to NULL. Documented
    divergence: a real-NaN element is NULL under arrow (Arrow encodes null
    elements as NaN, so they are indistinguishable) where the fold yields
    cell 0 — see _cells_arrow_udf."""
    import pyranges_1_x_spark.ml.similarity as sim
    from pyranges_1_x_spark.ml.similarity import ivf_assign, kmeans_assign

    cents = [[0.0, 0.0], [1.0, 1.0], [1.0, 1.0], [-1.0, 2.0]]
    rows = [
        (1, [0.1, 0.2]),
        (2, [1.0, 1.0]),      # exact tie between centroids 1 and 2 -> 1
        (3, [0.5, 0.5]),      # midpoint tie 0 vs 1 (and 2) -> 0
        (4, None),            # null vector -> NULL
        (5, [0.3]),           # wrong length -> NULL
        (6, [0.1, None]),     # null element -> NULL
        (7, [float("nan"), 0.0]),  # NaN: arrow NULL, fold cell 0 (doc'd)
        (8, [-2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    km_a = {r.vec_id: r["__cell__"] for r in kmeans_assign(df, cents).collect()}
    km_f = {
        r.vec_id: r["__cell__"]
        for r in kmeans_assign(df, cents, impl="fold").collect()
    }
    wellformed = [1, 2, 3, 8]
    assert {k: km_a[k] for k in wellformed} == {k: km_f[k] for k in wellformed}
    assert km_a[2] == 1 and km_a[3] == 0  # first-index tie rule
    assert km_a[4] is None and km_a[5] is None and km_a[6] is None
    assert km_f[6] is None
    assert km_a[7] is None and km_f[7] == 0  # the documented NaN divergence

    real = sim._ASSIGN_IMPL
    for metric in ("l2", "dot"):
        arrow = {r.vec_id: r["__cell__"] for r in ivf_assign(df, cents, metric=metric).collect()}
        try:
            sim._ASSIGN_IMPL = "fold"
            fold = {r.vec_id: r["__cell__"] for r in ivf_assign(df, cents, metric=metric).collect()}
        finally:
            sim._ASSIGN_IMPL = real
        assert {k: arrow[k] for k in wellformed} == {k: fold[k] for k in wellformed}, metric
        assert arrow[4] is None and arrow[5] is None and arrow[6] is None
