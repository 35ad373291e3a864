"""Sequence operations (reference ext/seqs.py:9-144, pyranges_main.py:5898-6073).

``reverse_complement`` is a JVM-side translate+reverse; ``translate_cds`` (codon
-> amino acid) is a transform-expression over codon positions; ``get_sequence``
joins a (Chromosome, Sequence) table — broadcast when small — and substrings,
reverse-complementing '-' rows; the per-transcript variant concatenates exon
sequences in 5'->3' order over a sorted window.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges

#: NCBI standard genetic code (table 1) — the reference ships 25 tables
#: (ext/seqs.py); others plug in as alternate dicts.
STANDARD_CODE = {
    "TTT": "F", "TTC": "F", "TTA": "L", "TTG": "L", "CTT": "L", "CTC": "L",
    "CTA": "L", "CTG": "L", "ATT": "I", "ATC": "I", "ATA": "I", "ATG": "M",
    "GTT": "V", "GTC": "V", "GTA": "V", "GTG": "V", "TCT": "S", "TCC": "S",
    "TCA": "S", "TCG": "S", "CCT": "P", "CCC": "P", "CCA": "P", "CCG": "P",
    "ACT": "T", "ACC": "T", "ACA": "T", "ACG": "T", "GCT": "A", "GCC": "A",
    "GCA": "A", "GCG": "A", "TAT": "Y", "TAC": "Y", "TAA": "*", "TAG": "*",
    "CAT": "H", "CAC": "H", "CAA": "Q", "CAG": "Q", "AAT": "N", "AAC": "N",
    "AAA": "K", "AAG": "K", "GAT": "D", "GAC": "D", "GAA": "E", "GAG": "E",
    "TGT": "C", "TGC": "C", "TGA": "*", "TGG": "W", "CGT": "R", "CGC": "R",
    "CGA": "R", "CGG": "R", "AGT": "S", "AGC": "S", "AGA": "R", "AGG": "R",
    "GGT": "G", "GGC": "G", "GGA": "G", "GGG": "G",
}


def reverse_complement(seq: Column) -> Column:
    """ACGT (upper+lower) reverse complement, JVM-side."""
    return F.reverse(F.translate(seq, "ACGTacgt", "TGCAtgca"))


def translate_cds(
    seq: Column, code: dict[str, str] | str | int | None = None, unknown: str = "X"
) -> Column:
    """Translate a nucleotide string to amino acids via a map literal over
    codon windows (transform over sequence indices — no Python UDF).

    ``code`` accepts any NCBI table id the reference accepts (int or str,
    incl. '+U' selenocysteine variants) or a custom {codon: aa} dict —
    see functions/genetic_codes.py.

    Scale shape: per-element ``substring(s, pos, n)`` is O(pos) on
    UTF8String, so the naive per-codon scan is O(len^2/3) per row (~1e9
    char ops for a 100 kb CDS). This version chunks at sqrt granularity:
    the sequence is cut into chunks of ``c = ceil(sqrt(n_codons))`` codons
    (outer scan O(len^2 / 6c)), then each chunk — a BOUND lambda variable,
    already materialized, so per-codon substrings scan only the chunk —
    is translated codon-by-codon (inner O(len*c/2)). Total O(len^1.5),
    minimized at c ~ sqrt(n_codons). The chunk array is the outer
    transform's INPUT (evaluated once per row); nothing indexes an array
    expression from inside a lambda, which Catalyst would inline and
    re-evaluate per element (measured 25x slower in the winnow
    experiment, ml/text.py).

    Pass ``seq`` as a plain column reference when the sequence is derived
    by a non-trivial expression: the chunk lambda references ``seq`` once
    per chunk, and higher-order functions get no common-subexpression
    elimination, so an inlined expensive expression (e.g. a regex strip)
    would be re-evaluated O(sqrt(n_codons)) times per row — materialize
    it in its own projection first (see __spark_entry__.q_translate_cds)."""
    from pyranges_1_x_spark.functions.genetic_codes import get_genetic_code

    code = get_genetic_code(code) if code is not None else STANDARD_CODE
    pairs = []
    for k, v in code.items():
        pairs += [F.lit(k), F.lit(v)]
    codon_map = F.create_map(*pairs)
    n_codons = F.floor(F.length(seq) / 3).cast("int")
    # Chunk size in codons. sqrt balances the outer chunk extraction
    # (O(position) per chunk start) against the inner per-codon scan
    # (O(offset within chunk) per codon).
    c = F.greatest(F.ceil(F.sqrt(n_codons)).cast("int"), F.lit(1))
    n_chunks = F.ceil(n_codons / c).cast("int")
    chunk_idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    # Every chunk start lies at a complete-codon boundary < n_codons, so
    # each chunk holds >= 1 complete codon; a trailing partial codon (1-2
    # chars spilling into the last chunk) is dropped by the inner floor.
    chunks = F.transform(
        chunk_idx, lambda j: F.upper(F.substring(seq, j * c * 3 + 1, c * 3))
    )

    def _translate_chunk(ch: Column) -> Column:
        nc = F.floor(F.length(ch) / 3).cast("int")
        ii = F.sequence(F.lit(0), F.greatest(nc - 1, F.lit(0)))
        aa = F.transform(
            ii,
            lambda i: F.coalesce(
                codon_map[F.substring(ch, i * 3 + 1, 3)], F.lit(unknown)
            ),
        )
        return F.when(nc >= 1, F.concat_ws("", aa)).otherwise(F.lit(""))

    aa_chunks = F.transform(chunks, _translate_chunk)
    return F.when(F.length(seq) >= 3, F.concat_ws("", aa_chunks)).otherwise(F.lit(""))


#: Auto-switch to the tiled plan above this many total sequence bytes.
#: Deliberately tight: the broadcast plan's per-row substring costs
#: O(Start) — ~170M chars/s measured — so even a 1 MB genome burns ~0.5M
#: char-ops per row and the break-even against the tiled plan's two
#: row-relation shuffles arrives within a few thousand rows. Above this
#: size tiled wins for any realistic row count; below it (test-sized
#: sequence tables) the broadcast plan avoids shuffles entirely.
_TILE_THRESHOLD = 1 << 20
_TILE_SIZE = 16384

#: Plan-sizing cache: (session id, sequences plan semanticHash) -> total
#: sequence bytes. With ``tile_size`` unset, get_sequence runs a
#: sum(length) job to pick broadcast-vs-tiled; for ``path=`` input that job
#: re-parses the whole FASTA once PER CALL (ADVICE r8). The same logical
#: plan sizes identically, so memoize on Spark's semanticHash — a driver-
#:-side plan hash, no job. A (astronomically unlikely) hash collision or a
#: file mutated between calls can only mis-pick the PLAN, never the answer;
#: pass tile_size/tiled_sequences explicitly to skip sizing entirely.
#: Keyed on the session OBJECT (not id()) for the same reason as
#: __spark_entry__._gr_cached: a stopped session's id can be reused after
#: GC, and a recycled id + matching semanticHash would hand a new session
#: a stale size. WeakKeyDictionary (ADVICE r10) so a stopped, dereferenced
#: session's memo (and its JVM-side handles) is collectable immediately
#: instead of pinned until a 256-entry clear.
_SIZE_CACHE: "weakref.WeakKeyDictionary[object, dict[int, int]]" = (
    weakref.WeakKeyDictionary()
)


#: Auto-adopted pre-tiled cache (r11, VERDICT r10 #6): per-session
#: {source_key: {"chunks", "have", "tile_size"}}. The per-call \G chunk
#: split is ~48% of the tiled plan's wall (SCALING.md pre-tiled cell), so
#: the FIRST tiled call for a source materializes its chunk relation with
#: ``localCheckpoint(eager=True)`` (block-manager storage, MEMORY_AND_DISK,
#: lineage truncated — the plan of every later call contains NO split
#: stage, just the RDD scan) and every subsequent call reuses it. Source
#: key: a (path, mtime_ns, size) stat fingerprint for path input
#: (read_fasta_native rebuilds a fresh RDD-backed plan per call, so plan
#: hashes don't dedupe paths), and the plan semanticHash MIXED WITH the
#: stat fingerprints of ``inputFiles()`` for table input — so a source
#: file rewritten mid-session is a cache MISS, never stale sequence DATA
#: (VERDICT r11 #3 / ADVICE r11: the pre-r12 key served stale answers,
#: which is strictly worse than the _SIZE_CACHE caveat whose staleness
#: can only mis-pick the PLAN). Residual staleness surface: a
#: semanticHash collision, or a non-stat-able / non-file-backed source
#: whose fingerprint degrades to the bare path (both fall back to the
#: pre-r12 behavior); pass ``auto_tile_cache=False`` (or explicit
#: ``tiled_sequences``) to opt out. localCheckpoint blocks die with their
#: executors — for
#: durable multi-session reuse persist ``read_fasta_tiles`` to parquet and
#: pass ``tiled_sequences=`` instead.
#:
#: Storage: an attribute ON the session object, NOT a module-level
#: WeakKeyDictionary — the cached entries hold DataFrames whose
#: ``_session`` strongly references the session, and a weak-keyed mapping
#: whose VALUES reach their own key never collects (the r11 code-review
#: find). Hanging the memo off the session gives the intended lifetime
#: for free: the dict (and its py4j handles) dies exactly when the
#: session does.
_TILES_ATTR = "_pyranges_1_x_spark_tiles"
#: Adopted genomes are block-manager-resident; cap the per-session count so
#: a source-churning workload cannot accumulate unbounded storage. Evicted
#: entries' checkpoint blocks are reclaimed by ContextCleaner once the
#: dropped DataFrames' py4j refs finalize.
_TILES_CACHE_MAX = 8


def _tiles_memo(session) -> dict:
    """The session's adopted-tile memo, created on first use."""
    memo = getattr(session, _TILES_ATTR, None)
    if memo is None:
        memo = {}
        setattr(session, _TILES_ATTR, memo)
    return memo


#: Per-session tile-cache event counters (r15, VERDICT r14 #2): the driver's
#: BENCH get_sequence_tiled wall reads ~2x the local floor, and the local
#: full-bench artifacts show the timed runs at the floor with the one-time
#: adoption absorbed by the untimed warm-up — so in the driver environment
#: either every run RE-ADOPTS (cache miss) or the lookup is BYPASSED
#: (src_key=None via the best-effort semanticHash/inputFiles probe). These
#: counters are exported into bench.py's JSON payload ("tile_cache") so the
#: per-round driver artifact itself records which mechanism it paid.
_TILES_STATS_ATTR = "_pyranges_1_x_spark_tile_stats"


def tile_cache_stats(session) -> dict:
    """Mutable per-session counters: hit / adopt / nokey (the best-effort
    source-key probe failed — no caching possible) / optout
    (auto_tile_cache=False) / resize (explicit tile_size differing from the
    adopted entry — split without re-adopting)."""
    st = getattr(session, _TILES_STATS_ATTR, None)
    if st is None:
        st = {"hit": 0, "adopt": 0, "nokey": 0, "optout": 0, "resize": 0}
        setattr(session, _TILES_STATS_ATTR, st)
    return st


def _tile_event(session, event: str, detail: str = "") -> None:
    tile_cache_stats(session)[event] += 1
    if os.environ.get("SPARK_GRAFT_TILE_LOG"):
        import sys

        print(f"[tile-cache] {event} {detail}"[:400], file=sys.stderr, flush=True)


def _stat_fingerprint(p: str) -> tuple:
    """(path, mtime_ns, size) staleness fingerprint — one os.stat per path.

    Mixing mtime/size into the adopted-tile key turns a mid-session source
    rewrite into a cache MISS instead of stale sequence output (VERDICT r11
    what's-wrong #2). ``file:`` URIs (what ``DataFrame.inputFiles`` returns
    on local fs) are stat-ed by their path part; a non-local or vanished
    path degrades to the bare string — the pre-r12 key, caveat documented
    on the memo."""
    local = p
    if local.startswith("file:"):
        # file:///x, file:/x and file://host/x all carry the path after
        # the authority; os.stat wants the plain path.
        local = local[5:]
        while local.startswith("//"):
            local = local[1:]
    try:
        st = os.stat(local)
        return (p, st.st_mtime_ns, st.st_size)
    except (OSError, ValueError):
        return (p,)


def _total_seq_bytes(seqs: DataFrame) -> int:
    try:
        session = seqs.sparkSession
        h = seqs.semanticHash()
        memo = _SIZE_CACHE.get(session)
    except Exception:  # semanticHash is best-effort; fall back to sizing
        session = memo = h = None
    if memo is not None and h in memo:
        return memo[h]
    total = seqs.select(F.sum(F.length("__chromseq__"))).first()[0] or 0
    if session is not None:
        memo = _SIZE_CACHE.setdefault(session, {})
        if len(memo) > 256:  # bounded; this is a per-session memo
            memo.clear()
        memo[h] = total
    return total


def get_sequence(
    self: GenomicRanges,
    sequences: DataFrame | None = None,
    *,
    path: str | None = None,
    seq_col: str = "Sequence",
    out_col: str = "Seq",
    use_strand: str | bool = "auto",
    tile_size: int | None = None,
    tiled_sequences: DataFrame | None = None,
    auto_tile_cache: bool = True,
) -> GenomicRanges:
    """Fetch the subsequence of each interval from a per-chromosome sequence
    table (the pyfaidx stand-in, reference pyranges_main.py:5898-6073);
    '-' strand rows are reverse-complemented. ``path`` is the reference's
    FASTA-file spelling: the file is parsed by the native distributed FASTA
    reader (sources/fasta.py; .gz supported) into the sequence table.

    Two plans (r8): small sequence tables broadcast whole-chromosome
    strings and slice per row. That shape has TWO scale cliffs — the
    broadcast itself (a 3 GB genome cannot ship to every task), and
    per-row ``substring(chromseq, Start, ...)`` being O(Start) on
    UTF8String, i.e. O(rows × chromosome_length) of byte-scanning (the
    same hidden quadratic the r8 extend_orfs fix removed). Above
    ``_TILE_THRESHOLD`` total bytes (or with an explicit ``tile_size``)
    the chromosome splits into fixed tiles with ONE O(len) \\G-regex pass,
    each interval equi-joins the tiles it covers, fragments slice
    in-tile (O(fragment)), and per-row assembly is an array_sort over the
    covered-tile structs — per-row state bounded by interval_length/tile,
    never the chromosome. Cross-branch row identity uses the stable
    content id (plans/ids.py), not monotonically_increasing_id.

    ``tiled_sequences`` accepts a PRE-TILED table
    ``(Chromosome, tile_id, tile)`` (``read_fasta_tiles`` output,
    typically persisted as parquet at ingest) with its ``tile_size`` —
    the per-call chunk split, the tiled plan's dominant fixed cost, is
    then skipped entirely.

    With ``auto_tile_cache`` (default on, r11), the tiled plan ADOPTS the
    pre-tiled shape automatically: the first tiled call for a given source
    materializes its chunk relation once (``localCheckpoint``) into the
    session's block managers, and every later call over the same UNCHANGED
    source — same ``path`` with the same (mtime, size), or a sequences
    table with the same logical plan over the same underlying files —
    skips the split and scans the cached tiles. A source rewritten
    mid-session changes the stat fingerprint and re-splits fresh (see the
    ``_TILES_ATTR`` block for the key/staleness/durability contract)."""
    if tiled_sequences is not None:
        if tile_size is None:
            raise ValueError("tiled_sequences requires tile_size")
        return _get_sequence_tiled(
            self,
            tiled_sequences.select(
                F.col(nm.CHROM_COL),
                F.col("tile_id").alias("__tid__"),
                F.col("tile").alias("__chunk__"),
            ),
            int(tile_size),
            out_col,
            use_strand,
            have=tiled_sequences.select(nm.CHROM_COL).distinct(),
        )
    from_path = sequences is None
    if sequences is None:
        if path is None:
            raise ValueError("get_sequence needs a sequences table or a path")
        from pyranges_1_x_spark.sources.fasta import read_fasta_native

        sequences = read_fasta_native(self.df.sparkSession, path)
    seqs = sequences.select(F.col(nm.CHROM_COL), F.col(seq_col).alias("__chromseq__"))
    stranded = self.has_strand and (use_strand is True or use_strand == "auto")

    def _rc_out(d, col):
        if stranded:
            rc = F.when(
                F.col(nm.STRAND_COL) == "-", reverse_complement(F.col(col))
            ).otherwise(F.col(col))
            return d.withColumn(col, rc)
        return d

    # Adopted-tile registry lookup BEFORE the sizing job: a hit means a
    # previous call already split this source, so neither the sizing scan
    # nor the per-call split runs again.
    session = self.df.sparkSession
    if from_path:
        paths = (path,) if isinstance(path, str) else tuple(path)
        src_key = ("path", tuple(_stat_fingerprint(p) for p in paths))
    else:
        try:
            # semanticHash is plan identity; the inputFiles fingerprints are
            # DATA identity — spark.read.parquet(p) after p is overwritten
            # keeps the same plan hash but new part files / mtimes.
            files = tuple(sorted(_stat_fingerprint(u) for u in seqs.inputFiles()))
            src_key = ("plan", seqs.semanticHash(), files)
        except Exception:  # best-effort, like _SIZE_CACHE
            src_key = None
    tiles_memo = _tiles_memo(session) if auto_tile_cache else None
    entry = tiles_memo.get(src_key) if (tiles_memo is not None and src_key) else None
    if entry is not None and tile_size in (None, entry["tile_size"]):
        _tile_event(session, "hit", f"key={src_key!r}")
        return _get_sequence_tiled(
            self, entry["chunks"], entry["tile_size"], out_col, use_strand,
            have=entry["have"],
        )
    if entry is not None:
        _tile_event(session, "resize", f"key={src_key!r} tile_size={tile_size}")
        # Explicit tile_size differing from the adopted one: run the
        # per-call split at the requested size WITHOUT re-adopting —
        # alternating sizes must not churn checkpointed generations
        # (r11 code-review find: each overwrite abandoned the previous
        # entry's blocks to lazy ContextCleaner reclamation).
        tiles_memo = None

    if tile_size is None:
        total = _total_seq_bytes(seqs)
        if total <= _TILE_THRESHOLD:
            d = self.df.join(F.broadcast(seqs), on=nm.CHROM_COL, how="left")
            sub = F.substring(
                F.col("__chromseq__"),
                (F.col(nm.START_COL) + 1).cast("int"),
                (F.col(nm.END_COL) - F.col(nm.START_COL)).cast("int"),
            )
            return GenomicRanges(
                _rc_out(d.withColumn(out_col, sub), out_col).drop("__chromseq__")
            )
        tile_size = _TILE_SIZE

    chunks = seqs.select(
        nm.CHROM_COL,
        F.posexplode(
            F.split("__chromseq__", r"(?<=\G.{" + str(int(tile_size)) + r"})")
        ).alias("__tid__", "__chunk__"),
    ).filter(F.length("__chunk__") > 0)
    # Present-chromosome probe. For path= input the Sequence column
    # never evaluates (our FASTA parser cannot emit a NULL sequence), so
    # the probe stays column-pruned: a key scan, not a second full chunk
    # split (measured ~1s/call at 2.5 MB, r9). A user-SUPPLIED table can
    # carry NULL sequences, and a bare key probe would mark those
    # chromosomes present (split(NULL) -> zero chunks -> Seq ''), where
    # the broadcast plan yields NULL (substring of NULL) — so there the
    # probe filters nulls, matching broadcast exactly (ADVICE r9).
    have = (
        (seqs if from_path else seqs.filter(F.col("__chromseq__").isNotNull()))
        .select(nm.CHROM_COL)
        .distinct()
    )
    if tiles_memo is not None and src_key:
        # Adopt on FIRST use: pay one materialization (~the split we were
        # about to run anyway) so every later call is split-free. The
        # empty-tile/NULL-probe semantics are frozen INTO the adopted
        # relations, so parity with the broadcast plan carries over.
        _tile_event(session, "adopt", f"key={src_key!r} tile_size={tile_size}")
        chunks = chunks.localCheckpoint(eager=True)
        have = have.localCheckpoint(eager=True)
        if len(tiles_memo) >= _TILES_CACHE_MAX:
            # FIFO-evict one genome (insertion-ordered dict), not all:
            # dropped blocks free via ContextCleaner, so bound the
            # transient old+new overlap to a single entry.
            tiles_memo.pop(next(iter(tiles_memo)))
        tiles_memo[src_key] = {
            "chunks": chunks,
            "have": have,
            "tile_size": int(tile_size),
        }
    elif not auto_tile_cache:
        _tile_event(session, "optout")
    elif not src_key:
        _tile_event(session, "nokey")
    return _get_sequence_tiled(
        self, chunks, int(tile_size), out_col, use_strand, have=have
    )


def _get_sequence_tiled(
    self: GenomicRanges,
    chunks: DataFrame,
    tile_size: int,
    out_col: str,
    use_strand,
    have: DataFrame | None = None,
) -> GenomicRanges:
    """Tiled slice-and-assemble over a (Chromosome, __tid__, __chunk__)
    relation — see get_sequence's docstring for the plan shape.

    Per-row assembly state is bounded by interval_length / tile_size — so a
    deliberately chromosome-SPANNING interval collects the whole chromosome
    into one output row (~200k tile structs for a 3 Gb chromosome). That is
    inherent to the requested output (the row IS the chromosome string, and
    any engine must materialize it somewhere); the bound protects against
    many-rows × long-chromosome blowup, not against a single row whose
    answer is itself chromosome-sized (same caveat class as
    get_transcript_sequence's per-transcript collect_list note)."""
    from pyranges_1_x_spark.plans.ids import STABLE_ID_COLS, with_stable_id
    from pyranges_1_x_spark.plans.qcache import persist_tracked

    stranded = self.has_strand and (use_strand is True or use_strand == "auto")

    def _rc_out(d, col):
        if stranded:
            rc = F.when(
                F.col(nm.STRAND_COL) == "-", reverse_complement(F.col(col))
            ).otherwise(F.col(col))
            return d.withColumn(col, rc)
        return d

    s = int(tile_size)
    # d0 feeds two branches (tile spans + the final join-back) — persist so
    # the id shuffle runs once (same discipline as operators/nearest.py).
    # Tracked (plans/qcache.py, r16): CacheManager holds persisted plans
    # strongly — the caller releases via free_tracked().
    d0 = persist_tracked(with_stable_id(self.df))
    start, end = F.col(nm.START_COL), F.col(nm.END_COL)
    spans = (
        d0.select(nm.CHROM_COL, nm.START_COL, nm.END_COL, *STABLE_ID_COLS)
        .filter(end > start)
        .select(
            nm.CHROM_COL,
            nm.START_COL,
            nm.END_COL,
            *STABLE_ID_COLS,
            (F.floor((end - 1) / s) - F.floor(start / s)).alias("__nt__"),
            F.explode(
                F.sequence(
                    F.floor(start / s).cast("long"),
                    F.floor((end - 1) / s).cast("long"),
                )
            ).alias("__tid__"),
        )
    )
    tlo = F.col("__tid__") * s
    frag = F.substring(
        F.col("__chunk__"),
        (F.greatest(start - tlo, F.lit(0)) + 1).cast("int"),
        (F.least(end, tlo + s) - F.greatest(start, tlo)).cast("int"),
    )
    frags = spans.join(chunks, on=[nm.CHROM_COL, "__tid__"], how="inner").select(
        *STABLE_ID_COLS, F.col("__nt__"), F.col("__tid__"), frag.alias("__frag__")
    )
    # r16 (guide §5, VERDICT r15 #10): intervals covering ONE tile (the vast
    # majority for sub-tile-sized intervals — 596,359 of 603,641 fragments
    # at the sf0.1 gate) bypass the collect_list aggregate entirely: their
    # single fragment IS the assembled sequence, so they skip the aggregate
    # exchange and the ObjectHashAggregate buffer. Only multi-tile
    # fragments shuffle into the collect. Interleaved A/B on the isolated
    # assembly stage (OPTIMIZATION_r16.md §7): B faster 5/5 rounds, min
    # 0.434 -> 0.307s; outputs asserted identical on 600,000 rows.
    single = frags.filter(F.col("__nt__") == 0).select(
        *STABLE_ID_COLS, F.col("__frag__").alias("__asm__")
    )
    multi = (
        frags.filter(F.col("__nt__") != 0)
        .groupBy(*STABLE_ID_COLS)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__tid__", "__frag__"))),
                    lambda st: st["__frag__"],
                ),
            ).alias("__asm__")
        )
    )
    asm = single.unionByName(multi)
    # Present-chromosome probe (missing chromosome -> null Seq, matching the
    # broadcast plan's left join). ``have`` lets callers supply the distinct
    # chromosomes from the PRE-SPLIT relation: deriving it from ``chunks``
    # re-evaluates the whole chunk split/FASTA parse a second time just to
    # read the key column (Generate blocks column pruning). A chromosome
    # with an EMPTY sequence is then present (Seq "") rather than absent
    # (null) — which matches the broadcast plan exactly, where the old
    # chunks-derived probe (empty -> zero tiles -> null) did not.
    if have is None:
        have = chunks.select(nm.CHROM_COL).distinct()
    have = F.broadcast(have.withColumn("__has__", F.lit(True)))
    out = (
        d0.join(have, on=nm.CHROM_COL, how="left")
        .join(asm, on=STABLE_ID_COLS, how="left")
        .withColumn(
            out_col,
            F.when(F.col("__has__").isNull(), F.lit(None).cast("string")).otherwise(
                F.coalesce(F.col("__asm__"), F.lit(""))
            ),
        )
        .drop("__has__", "__asm__", *STABLE_ID_COLS)
    )
    return GenomicRanges(_rc_out(out, out_col))


def get_transcript_sequence(
    self: GenomicRanges,
    sequences: DataFrame,
    group_by: str,
    *,
    seq_col: str = "Sequence",
    out_col: str = "Seq",
) -> DataFrame:
    """Per-transcript spliced sequence: exon sequences concatenated in 5'->3'
    order (reference pyranges_main.py:6050-6073: 5' sort + agg ''.join —
    here collect_list over an ordered window, then one row per transcript).

    NOTE the collect is per-transcript (bounded, ~1e2 exons * ~1e4 bp), not
    per-chromosome, so no unbounded-group risk at scale.
    """
    with_seq = get_sequence(self, sequences, seq_col=seq_col, out_col="__exonseq__").df
    neg = F.col(nm.STRAND_COL) == "-" if self.has_strand else F.lit(False)
    order_key = F.when(neg, -F.col(nm.START_COL)).otherwise(F.col(nm.START_COL))
    w = Window.partitionBy(nm.CHROM_COL, group_by).orderBy(order_key.asc())
    seq = F.concat_ws("", F.collect_list("__exonseq__").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    out = (
        with_seq.withColumn(out_col, seq)
        .groupBy(nm.CHROM_COL, group_by)
        .agg(F.first(out_col).alias(out_col))
    )
    return out


#: Reference spelling (ext/seqs.py:150 ``translate``) for ``translate_cds``.
translate = translate_cds
