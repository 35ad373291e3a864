r"""extend_orfs — grow CDS intervals to complete open reading frames.

Reference: ``ext/orfs.py:132-520`` (pyfaidx + numpy chunk loop). Semantics
reproduced from its doctests:

- downstream: extend to (and including) the first in-frame stop codon; none
  within the chromosome => no extension, or the largest 3-nt multiple if
  ``keep_off_bounds``.
- upstream: scan in-frame codons away from the CDS until the first stop (or
  the chromosome edge); extend to the LEFTMOST start codon in that window
  (with ``starts=[]``, to the codon just before the stop). No stop found and
  ``keep_off_bounds`` => the largest 3-nt multiple, ignoring start codons
  (the doctest's off-bounds case extends 18, past its ATG at 12).
- '-' strand rows are handled in transcript orientation (reverse complement).
- with ``group_by``, rows form multi-exon transcripts: only the boundary
  exons (min Start / max End) move; the codon frame continues from the
  spliced CDS, which assumes total CDS length % 3 == 0 (the reference warns
  on violation; we document instead — a lazy plan cannot afford the eager
  validation scan).

Physical strategy: the whole operator is Catalyst expressions, all of them
whole-stage-codegen-compatible — no Python UDF, no higher-order-function
fallback, no shuffle beyond the per-group boundary aggregate when
``group_by`` is set. Sequences come from a (Chromosome, Sequence) table as
in ``get_sequence`` — the pyfaidx stand-in; chromosome strings are
broadcast, so per-row scans never shuffle sequence data.

Scale-critical details (this operator starved two driver rounds before the
r4 rewrite):

1. Immediately after the broadcast join, each row's two bounded scan
   windows are sliced from the chromosome string ONCE
   (``substr(seq, pos, 3*m)``, ≤``max_scan_nt`` chars) and oriented into
   transcript order (strand-conditional reverse/complement/within-codon
   swap — each a single O(window) pass); the chromosome column is dropped
   before any probing. The r3 plan instead kept the full ~500 kB
   chromosome string on every row and probed it with ~80
   ``substr(seq, pos, 3)`` calls — Spark's UTF8String substring is O(pos)
   byte-scanning, so each row cost ~80 × O(250 kB) (measured 177.6 s for
   6 k rows at sf0.001; >12 min at sf0.01).
2. The codon scan itself is regex, not an index-array walk: an in-frame hit
   falls out of one anchored codon-stepped match (``^((?:.{3})*?)(?:...)``
   lazy for nearest-to-anchor, greedy / ``(?:.{3})*$``-tailed for
   farthest). An intermediate array-of-codons design (split + per-index
   ``element_at`` probes under ``filter``/``array_min``) was still ~30×
   slower: higher-order functions are CodegenFallback, so every probe ran
   interpreted with boxed indices.
3. Scans run on the RAW genomic window; transcript orientation lives in the
   PATTERN (direction via lazy-vs-greedy anchoring, '-' strand via
   reverse-complemented codon alternatives — a transcript codon at away
   position k is exactly the RC of the raw codon it maps to). The r5 design
   instead rebuilt every window into transcript order per row
   (reverse + translate + a per-codon regexp_replace); those string
   rebuilds, duplicated across CASE branches that codegen CSE cannot merge,
   cost more than the scans themselves (7.3s -> 4.7s at sf0.1 for the bench
   row once removed).

Cost history (re-measured r8 after the registry fixture became a cached
persist): with the fixture at ~0.1s, directions profiled down-only 4.76s /
up-only 4.8s / both 4.89s — i.e. the regex scans were ~0.1s MARGINAL and
the r7 "per-direction scan cost" attribution was wrong; nearly all the
base was the tile BUILD, whose per-tile substr-from-origin is O(position)
per call = O(len^2/stride) per chromosome (~3.6s at 5 x 500 kb, hopeless
at 250 Mb). r8 replaced it with the one-pass \G-split + lead() pad build
(0.33s, identical tiles): the bench row fell 5.3s -> 2.4s warm. The three
faster-looking SCAN designs tried and measured slower remain items 1-3
above.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pyranges_1_x_spark import names as nm
from pyranges_1_x_spark.core import GenomicRanges

STARTS = ("ATG",)
STOPS = ("TAG", "TGA", "TAA")

_SEQ = "__chromseq__"
_WL = "__scanwinl__"  # RAW codon-aligned window left of Start
_WR = "__scanwinr__"  # RAW codon-aligned window right of End


_RC = {"A": "T", "C": "G", "G": "C", "T": "A"}


def _rc(codon: str) -> str:
    return "".join(_RC.get(c, c) for c in reversed(codon.upper()))


def _scan_raw(
    w: Column,  # RAW genomic window (codon-aligned at both edges), upper-cased
    m: Column,  # codon count of the window
    starts: tuple[str, ...],
    stops: tuple[str, ...],
    *,
    far: bool,
    upstream: bool,
    keep_off_bounds: bool,
) -> Column:
    """Extension length in nt for one direction of one row/group.

    The scan runs on the RAW window string; transcript orientation is folded
    into the PATTERN, not the data (the r5 design reversed/complemented every
    window per row — reverse+translate+regexp_replace chains that cost more
    than the scans themselves; see module docstring #3):

    - ``far=False``: transcript away-order == raw order (right window on '+',
      right window on '-' whose codons the caller pre-RCs). First away hit =
      LEFTMOST raw hit — anchored lazy codon-stepped regex.
    - ``far=True``: transcript away-order is raw order REVERSED (left
      windows). First away hit = RIGHTMOST raw in-frame hit — greedy codon
      prefix with a ``(?:.{3})*$`` tail anchor (both window edges are
      codon-aligned, so left-anchored frame == right-anchored frame).

    For '-' strand rows the caller passes reverse-complemented codon sets:
    a transcript-space codon at away position k is exactly the RC of the raw
    codon it maps to, for both window sides.
    """
    # Rows whose chromosome is absent from `sequences` have null m (null
    # __seqlen__ through the left join) — treat as "no room to scan" so both
    # branches pass such rows through unextended (ADVICE r3: the
    # keep_off_bounds upstream branch used to emit null Starts here).
    # Clamp at 0 too (r15 review): an interval reaching PAST the chromosome
    # edge (End > seqlen, or Start < 0) yields a NEGATIVE codon count, and
    # the keep_off_bounds no-stop branch then emitted ext = 3*m < 0 — a
    # negative "extension" that SHRANK the interval. The window string is
    # already empty for such rows; a clamped m makes every branch emit 0.
    m = F.greatest(F.coalesce(m, F.lit(0).cast("long")), F.lit(0).cast("long"))
    stop_alt = "|".join(stops)
    if far:
        far_pat = f"^((?:.{{3}})*)(?:{stop_alt})(?:.{{3}})*$"
        g0 = F.regexp_extract(w, far_pat, 0)
        found = F.length(g0) > 0
        # raw codon index of the rightmost in-frame stop = len(group1)/3;
        # away-order codons strictly before it = m - 1 - that index.
        pre_stop = (
            F.when(found, m - 1 - (F.length(F.regexp_extract(w, far_pat, 1)) / 3))
            .otherwise(F.lit(0))
            .cast("long")
        )
    else:
        near_pat = f"^((?:.{{3}})*?)(?:{stop_alt})"
        hit = F.regexp_extract(w, near_pat, 0)
        found = F.length(hit) > 0
        pre_stop = (
            F.when(found, (F.length(hit) - 3) / 3).otherwise(F.lit(0)).cast("long")
        )
    if not upstream:
        ext = F.when(found, 3 * (pre_stop + 1))
        if keep_off_bounds:
            ext = ext.otherwise(3 * m)
        return F.coalesce(ext, F.lit(0)).cast("long")
    limit = F.when(found, pre_stop).otherwise(m)
    if starts:
        start_alt = "|".join(starts)
        if far:
            # away window [0, limit) = raw codons [m-limit, m); LAST away
            # start = LEFTMOST raw one in that suffix — lazy scan, ext =
            # 3*limit - (hit_len - 3).
            sw = w.substr((3 * (m - limit) + 1).cast("int"), (3 * limit).cast("int"))
            hit = F.regexp_extract(sw, f"^((?:.{{3}})*?)(?:{start_alt})", 0)
            ext = F.when(
                F.length(hit) > 0, 3 * limit - F.length(hit) + 3
            ).otherwise(F.lit(0))
        else:
            # away window [0, limit) = raw prefix; LAST away start = last raw
            # one — greedy scan, ext = hit length (3*(index+1)).
            sw = w.substr(F.lit(1), (3 * limit).cast("int"))
            hit = F.regexp_extract(sw, f"^((?:.{{3}})*)(?:{start_alt})", 0)
            ext = F.when(F.length(hit) > 0, F.length(hit)).otherwise(F.lit(0))
    else:
        ext = F.when(found, 3 * limit).otherwise(F.lit(0))
    if keep_off_bounds:
        ext = F.when(~found, 3 * m).otherwise(ext)
    return ext.cast("long")


def extend_orfs(
    self: GenomicRanges,
    sequences,
    group_by: str | list[str] | None = None,
    *,
    direction: str | list[str] | None = None,
    starts: tuple[str, ...] = STARTS,
    stops: tuple[str, ...] = STOPS,
    keep_off_bounds: bool = False,
    record_extensions: bool = False,
    seq_col: str = "Sequence",
    max_scan_nt: int | None = None,
) -> GenomicRanges:
    """See module docstring. ``sequences`` is a (Chromosome, ``seq_col``)
    DataFrame; intervals must carry a valid Strand column.

    ``max_scan_nt`` bounds each direction's codon scan (rounded down to a
    codon multiple) — the declarative analog of the reference's
    ``chunk_size`` loop (ext/orfs.py:142): the expression scan has no early
    exit, so an unbounded scan evaluates O(chromosome length) codons per
    transcript even when the answer is 2 codons away. A stop beyond the cap
    is treated as not found (off-bounds). None = scan to the chromosome
    edge, reference-exact — DEBUG-ONLY at scale: it builds per-row codon
    arrays covering the whole remaining chromosome (~166k elements per row
    on a 500 kb chromosome). Production callers should pass a bound."""
    if not stops:
        raise AssertionError("At least one stop codon must be provided.")
    if not all(len(p) == 3 for p in tuple(starts) + tuple(stops)):
        raise AssertionError("Ensure that all patterns have a length of 3 nt.")
    # Codons are spliced into Java-regex alternations below; restrict them
    # to literal symbol characters so a metacharacter cannot silently turn
    # a codon into a wildcard pattern (r15 review — IUPAC letters all pass).
    if not all(p.isalnum() for p in tuple(starts) + tuple(stops)):
        raise AssertionError("Codon patterns must be alphanumeric, e.g. 'ATG'.")
    if not self.has_strand:
        raise AssertionError("Intervals must have valid strands to call extend_orfs")
    dirs = ["up", "down"] if direction is None else (
        [direction] if isinstance(direction, str) else list(direction)
    )
    if not set(dirs) <= {"up", "down"}:
        raise ValueError(f"direction must be 'up', 'down' or both, got {dirs!r}")
    gb = [group_by] if isinstance(group_by, str) else list(group_by or [])

    keys = [nm.CHROM_COL, nm.STRAND_COL, *gb]
    if gb:
        # one boundary row per transcript; extensions join back on the
        # deterministic content keys (no generated ids across branches).
        base = self.df.groupBy(*keys).agg(
            F.min(nm.START_COL).alias("__gs__"), F.max(nm.END_COL).alias("__ge__")
        )
    else:
        # per-row mode: each interval is its own group — compute extensions
        # inline on the row, no second branch, no join.
        base = self.df.withColumn("__gs__", F.col(nm.START_COL)).withColumn(
            "__ge__", F.col(nm.END_COL)
        )

    gs, ge, slen = F.col("__gs__"), F.col("__ge__"), F.col("__seqlen__")
    neg = F.col(nm.STRAND_COL) == "-"

    # Codon index counts away from the CDS boundary in transcript
    # orientation. Cap the codon counts, slice each bounded window ONCE,
    # orient it into transcript away-order per strand, and drop all
    # sequence columns — all probing below runs on the ≤max_scan_nt-char
    # window strings.
    if max_scan_nt is not None:
        # Scale path: broadcast the chromosome as overlapping fixed-stride
        # TILES, not one giant string. Slicing a window out of a whole
        # chromosome column is O(position) per row (UTF8String counts
        # chars), i.e. O(rows × chrom_length) for the operator — ~30 GB of
        # byte-scanning at a mere 60 k rows × 500 kb chromosome, and
        # unshippable for real 250 Mb chromosomes. Each tile covers
        # [tid*T, tid*T + T + pad) with pad ≥ the max window length, so any
        # row's window lives entirely inside ONE tile per direction: two
        # broadcast equi-joins on (Chromosome, tile_id), then an O(window)
        # in-tile substring.
        cap_c = max_scan_nt // 3  # codons per direction
        pad = 3 * cap_c + 3
        stride = max(1024, pad)
        seq0 = sequences.select(
            F.col(nm.CHROM_COL), F.col(seq_col).alias(_SEQ)
        ).withColumn("__seqlen__", F.length(_SEQ).cast("long"))
        # ONE O(len) pass per chromosome: \G-anchored regex split into
        # stride-sized chunks, then each tile borrows its pad from the next
        # chunk via lead(). The obvious per-tile
        # substr(seq, tid*stride+1, ...) is O(position) per call on
        # UTF8String, i.e. O(len^2/stride) per chromosome — measured 3.61s
        # vs 0.33s here at 5 x 500 kb (and hopeless at 250 Mb); tile rows
        # verified identical. The per-chromosome window runs over one row
        # per TILE (~len/1024), not per base — a bounded relation.
        from pyspark.sql import Window as _W

        chunks = seq0.select(
            nm.CHROM_COL,
            "__seqlen__",
            F.posexplode(F.split(_SEQ, r"(?<=\G.{" + str(stride) + r"})")).alias(
                "__tid__", "__chunk__"
            ),
        ).filter(F.length("__chunk__") > 0)
        _tw = _W.partitionBy(nm.CHROM_COL).orderBy("__tid__")
        tiles = chunks.withColumn(
            "__tile__",
            F.concat(
                F.col("__chunk__"),
                F.coalesce(
                    F.substring(F.lead("__chunk__").over(_tw), 1, pad), F.lit("")
                ),
            ),
        ).select(nm.CHROM_COL, "__seqlen__", "__tid__", "__tile__")
        # r15 (optimization round): the tile relation feeds BOTH direction
        # joins, and the two broadcast branches prune different column sets
        # so their exchanges never canonicalize equal (no ReusedExchange —
        # the depth_runs lesson): the whole distinct+regex-split tile
        # build ran twice, i.e. two full passes over the sequence relation.
        # Persist it (MEMORY_AND_DISK keeps lineage — executor loss
        # recomputes). Tracked (plans/qcache.py, r16): CacheManager holds
        # persisted plans strongly — the caller releases via free_tracked().
        # Bounded size: one row per ~stride bases per chromosome.
        from pyranges_1_x_spark.plans.qcache import persist_tracked

        tiles = persist_tracked(tiles)
        cap = F.lit(cap_c).cast("long")
        m_left = F.least(F.floor(gs / 3).cast("long"), cap)  # codons before Start
        ws_l = gs - 3 * m_left + 1  # 1-based left-window start
        b = base.withColumn("__tidl__", F.floor((ws_l - 1) / stride).cast("long"))
        b = b.withColumn("__tidr__", F.floor(ge / stride).cast("long"))
        b = b.join(
            F.broadcast(
                tiles.withColumnRenamed("__tid__", "__tidl__").withColumnRenamed(
                    "__tile__", "__tilel__"
                )
            ),
            on=[nm.CHROM_COL, "__tidl__"],
            how="left",
        ).join(
            F.broadcast(
                tiles.drop("__seqlen__")
                .withColumnRenamed("__tid__", "__tidr__")
                .withColumnRenamed("__tile__", "__tiler__")
            ),
            on=[nm.CHROM_COL, "__tidr__"],
            how="left",
        )
        m_right = F.least(F.floor((slen - ge) / 3).cast("long"), cap)
        win_right = F.upper(
            F.col("__tiler__").substr(
                (ge + 1 - F.col("__tidr__") * stride).cast("int"),
                F.greatest(3 * m_right, F.lit(0)).cast("int"),
            )
        )
        win_left = F.upper(
            F.col("__tilel__").substr(
                (ws_l - F.col("__tidl__") * stride).cast("int"),
                F.greatest(3 * m_left, F.lit(0)).cast("int"),
            )
        )
        seq_cols = ("__tilel__", "__tiler__", "__tidl__", "__tidr__")
    else:
        # Debug-only reference-exact path: whole-chromosome windows. Every
        # row pays an O(chromosome) slice; fine for small fixtures only.
        seqs = sequences.select(
            F.col(nm.CHROM_COL), F.col(seq_col).alias(_SEQ)
        ).withColumn("__seqlen__", F.length(_SEQ).cast("long"))
        b = base.join(F.broadcast(seqs), on=nm.CHROM_COL, how="left")
        m_right = F.floor((slen - ge) / 3).cast("long")  # codons after End
        m_left = F.floor(gs / 3).cast("long")  # codons before Start
        win_right = F.upper(
            F.col(_SEQ).substr(
                (ge + 1).cast("int"), F.greatest(3 * m_right, F.lit(0)).cast("int")
            )
        )
        win_left = F.upper(
            F.col(_SEQ).substr(
                F.greatest(gs - 3 * m_left + 1, F.lit(1)).cast("int"),
                F.greatest(3 * m_left, F.lit(0)).cast("int"),
            )
        )
        seq_cols = (_SEQ,)
    # RAW windows only — no per-row reorientation (see _scan_raw docstring):
    # transcript order is folded into the regex patterns and, for '-' strand
    # rows, into reverse-complemented codon alternatives.
    b = (
        b.withColumn(_WL, F.coalesce(win_left, F.lit("")))
        .withColumn(_WR, F.coalesce(win_right, F.lit("")))
        .withColumn("__ml__", m_left)
        .withColumn("__mr__", m_right)
        .drop(*seq_cols)
    )
    plus_codons = (tuple(s.upper() for s in starts), tuple(s.upper() for s in stops))
    minus_codons = (
        tuple(_rc(s) for s in starts),
        tuple(_rc(s) for s in stops),
    )

    def _dir(upstream: bool) -> Column:
        # upstream on '+' and downstream on '-' scan LEFT of Start (away
        # order reversed -> far scan); downstream on '+' and upstream on '-'
        # scan RIGHT of End (away order == raw -> near scan). Only the taken
        # CASE branch evaluates per row.
        plus_left = upstream
        sts_p, stp_p = plus_codons
        sts_m, stp_m = minus_codons
        on_plus = _scan_raw(
            F.col(_WL if plus_left else _WR),
            F.col("__ml__" if plus_left else "__mr__"),
            starts=sts_p, stops=stp_p, far=plus_left,
            upstream=upstream, keep_off_bounds=keep_off_bounds,
        )
        on_minus = _scan_raw(
            F.col(_WR if plus_left else _WL),
            F.col("__mr__" if plus_left else "__ml__"),
            starts=sts_m, stops=stp_m, far=not plus_left,
            upstream=upstream, keep_off_bounds=keep_off_bounds,
        )
        return F.when(neg, on_minus).otherwise(on_plus)

    # Rows whose chromosome has no sequence pass through unextended
    # (ADVICE r3 — both branches, both strands).
    zero = F.lit(0).cast("long")
    has_seq = F.col("__seqlen__").isNotNull()
    ext_up = F.when(has_seq, _dir(True)).otherwise(zero) if "up" in dirs else zero
    ext_down = F.when(has_seq, _dir(False)).otherwise(zero) if "down" in dirs else zero
    b = b.withColumn("__eu__", ext_up).withColumn("__ed__", ext_down)

    if gb:
        out = self.df.join(
            b.select(*keys, "__gs__", "__ge__", "__eu__", "__ed__"), on=keys, how="left"
        )
    else:
        out = b.drop("__seqlen__", _WL, _WR, "__ml__", "__mr__")

    # Genomic left/right extension from transcript up/down.
    left_ext = F.when(neg, F.col("__ed__")).otherwise(F.col("__eu__"))
    right_ext = F.when(neg, F.col("__eu__")).otherwise(F.col("__ed__"))
    is_left_row = F.col(nm.START_COL) == F.col("__gs__")
    is_right_row = F.col(nm.END_COL) == F.col("__ge__")
    out = out.withColumn(
        nm.START_COL,
        F.when(is_left_row, F.col(nm.START_COL) - left_ext).otherwise(F.col(nm.START_COL)),
    ).withColumn(
        nm.END_COL,
        F.when(is_right_row, F.col(nm.END_COL) + right_ext).otherwise(F.col(nm.END_COL)),
    )
    if record_extensions:
        out = out.withColumn("extension_up", F.col("__eu__")).withColumn(
            "extension_down", F.col("__ed__")
        )
    return GenomicRanges(
        out.drop("__gs__", "__ge__", "__eu__", "__ed__", "__seqlen__")
    )
