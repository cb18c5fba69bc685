"""Deduplication operators for the LLM-data-pipeline extension
(SURVEY.md §2.10 L1/L2 + mandated dedup variants).

Cross-engine determinism: every hash that reaches checked output derives
from md5/sha2 (stable everywhere), never Spark's murmur3 ``hash()`` or
DuckDB's ``hash()`` (engine-specific).

Scale notes per operator are in each docstring; the common theme is that
candidate generation is always key-bucketed (hash group, LSH band, SimHash
band) so the pair space is per-bucket quadratic, never global quadratic.

The shared-shingle pair family rests on three operators:
:func:`materialized_shingles` (the one shingle frame every consumer
reads), :func:`shingle_pair_counts` (exact per-pair shared counts) and
:func:`minhash_verified_pairs` (banded LSH candidates with the same exact
counts). Every shingle-pair metric in the package — Jaccard, containment,
ppm, the threshold sweep, the df-capped and MinHash variants — is a
select over one of the two pair cores.

Retention note (ADVICE r7): :func:`materialized_shingles` returns a
``localCheckpoint`` frame that lives in block-manager storage until the
DataFrame is garbage-collected driver-side. In a batch/bench context
(fresh session per run, or the bench tools' per-query GC) that is the
intended lifetime; a LONG-LIVED service invoking these repeatedly should
drop references promptly (storage is reclaimed via the ContextCleaner once
the frame is unreachable) and accept that checkpoint truncation makes the
stage non-recomputable on executor loss — the standard localCheckpoint
trade, chosen because the frame is read at least three times per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: 60-bit SimHash (15 hex chars of md5) — fits signed int64, and 60 = 4
#: bands × 15 bits for the banded near-dup join.
SIMHASH_BITS = 60


#: Explicit whitespace class for text normalization, pinned on BOTH engines
#: (ADVICE r11): Java regex '\s' is exactly [ \t\n\x0B\f\r] while DuckDB's
#: RE2 '\s' EXCLUDES \x0B (vertical tab), so an implicit '\s+' on the two
#: sides hashes a \x0B-bearing text differently. The same spelling below is
#: valid Java regex AND RE2, so the engine expression and the SQL-literal
#: oracle twin collapse the identical set of characters.
WS_RE = r"[ \t\r\n\x0B\f]+"
#: The RE2/SQL-literal twin (DuckDB string literals pass backslashes through).
WS_RE_SQL = WS_RE
#: Spark-SQL-expression twin: the SQL parser unescapes string literals once,
#: so backslashes must be doubled when the regex rides inside expr()/sql().
WS_RE_SPARK_SQL = WS_RE.replace("\\", "\\\\")


def normalize_text(col: F.Column) -> F.Column:
    """Canonical text form for exact dedup: lower, collapse whitespace, trim.

    Collapse runs BEFORE trimming: trim() strips only ASCII spaces, so a
    leading tab/newline would survive a trim-first order ('\\tb' → ' b' ≠
    'b' — found by the hypothesis fuzz in tests/test_dedup_properties.py).
    After the collapse every whitespace run is a single 0x20, which trim
    does strip. The whitespace class is :data:`WS_RE` — explicit, so the
    DuckDB oracle twins collapse the same characters (Java vs RE2 '\\s'
    disagree on \\x0B).
    """
    return F.trim(F.regexp_replace(F.lower(col), WS_RE, " "))


def exact_dedup(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: sha2-group, survivor = min id.

    One shuffle on the 256-bit hash; group sizes are bounded by true
    duplicate multiplicity so no skew mitigation is needed at 100 TB.
    Returns (survivor id, content_hash, n_copies).
    """
    hashed = df.select(
        F.col(id_col),
        F.sha2(F.encode(normalize_text(F.col(text_col)), "UTF-8"), 256).alias(
            "content_hash"
        ),
    )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        hashed.select(
            "content_hash",
            F.col(id_col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("content_hash")).alias("n_copies"),
        )
        .where(F.col("rn") == 1)
        .select(F.col(id_col), "content_hash", F.col("n_copies").cast("long"))
    )


def token_shingles(text_col: F.Column, n: int = 3) -> F.Column:
    """Distinct n-token shingles of a document as an array<string>."""
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
    )
    # Spark sequence(1, k) is DESCENDING for k < 1 — guard short docs.
    return F.when(F.size(toks) >= n, F.array_distinct(shingles)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (doc, n-token-shingle) ROWS — the fast twin of
    :func:`token_shingles`.

    token_shingles builds an in-row array via transform/concat_ws — the HOF
    chain is interpreted (not whole-stage codegen) and measured ~5 s/pass on
    sf0.1's 270k tokens. r7–r11 used a posexplode + lead-window form
    instead; r12 (guide §2.3/§2.4) replaces that with ``arrays_zip`` of n
    shifted ``slice``s + one explode: the same in-row bulk array kernels,
    but NO doc-keyed window — so no token-wide sort, and the (doc, shingle)
    dedup happens partition-locally (partial aggregate BEFORE any
    exchange). A/B at sf0.1 (`git show e396564:tools/ab_shingle_zip_r12.py`):
    shingle pass
    0.52 → 0.40 s, the shingle_pair_ppm consumer chain 2.20 → 1.76 s,
    identical 260,388-row output set. At 100 TB the win is structural: the
    old form shuffled EVERY token to the doc window; this form shuffles
    only map-side-deduped shingle rows (and when the scan-parallelism
    guard below repartitions, the dedup is entirely partition-local).
    Equivalence with token_shingles stays fuzz-pinned
    (tests/test_dedup_properties.py).
    """
    # Local-tier scan-parallelism guard (round 10): a bench-tier documents
    # file is smaller than one split, so the scan is ONE task and the whole
    # split+posexplode phase ran single-threaded (ABAB-measured 0.88 →
    # 0.46 s at sf0.1). Repartition ONLY when the scan produced far fewer
    # partitions than cores — at 100 TB the scan is thousands of splits and
    # this is a no-op (a corpus-wide text shuffle would be exactly wrong).
    # Keying by id keeps the exchange reusable by the doc window below.
    # Width is proportional to cores (not a hard-coded 8): on a 64-core
    # executor an 8-way repartition would still sit 4x under this guard's
    # own trigger threshold. defaultParallelism//2 keeps per-task splits
    # chunky while clearing the parts*4 < cores condition on any box.
    # Two-step probe (round 11): file count first (free — no plan
    # conversion), and only when it looks low confirm with the ACTUAL
    # split count via the RDD probe. File count alone is wrong for
    # few-LARGE-files corpora (2 files × 5 GB = ~80 byte-splits — a
    # repartition there would shuffle the whole corpus's text and CAP
    # parallelism, the exact pathology this guard disclaims), and for
    # non-file-backed frames (inputFiles()=[], e.g. createDataFrame),
    # where the RDD probe sees the true parallelize partition count.
    # ADVICE r11 refinement: many TINY files also defeat the file-count
    # pre-filter — FileSourceScan bin-packs small files (maxPartitionBytes /
    # openCostInBytes), so 64 × 100 KB files can collapse to a handful of
    # splits while file_count*4 >= cores skips the probe and caps
    # parallelism. Sample one file's length (one FS metadata call, no job):
    # only a MANY-large-files corpus may skip the RDD probe; small sampled
    # files fall through to it.
    sc = df.sparkSession.sparkContext
    files = df.inputFiles()
    must_probe = (len(files) or 1) * 4 < sc.defaultParallelism
    if not must_probe and files:
        try:
            jpath = sc._jvm.org.apache.hadoop.fs.Path(files[0])
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            # Below ~4 MB/file the packer merges aggressively; probe to be
            # sure. Above it, each file is >= a split on its own and the
            # scan parallelism is >= file count — safe to skip.
            must_probe = fs.getFileStatus(jpath).getLen() < 4 * 1024 * 1024
        except Exception:  # pragma: no cover - FS oddities: pay the probe
            must_probe = True
    if must_probe and df.rdd.getNumPartitions() * 4 < sc.defaultParallelism:
        df = df.repartition(max(8, sc.defaultParallelism // 2), id_col)

    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ln = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln) for i in range(n)])
    return (
        df.select(F.col(id_col), F.explode(z).alias("z"))
        .select(
            id_col,
            F.concat_ws(" ", *[F.col(f"z.{i}") for i in range(n)]).alias("s"),
        )
        .dropDuplicates([id_col, "s"])
    )


def materialized_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """The one shingle frame of a query: distinct (id_col, s) rows of
    :func:`shingle_rows`, materialized once for all its consumers.

    With ``df_cap`` the rows also carry ``df`` (the shingle's document
    frequency, one count window over the shingle-keyed exchange) and only
    shingles with ``df <= df_cap`` survive — the 100 TB-honest cap: a
    boilerplate shingle shared by a million docs would otherwise emit
    5·10¹¹ candidate rows, while a capped shingle contributes at most
    cap²/2 pairs. Downstream, the pair cores read the ``df`` column to keep
    ``df >= 2`` rows on their join sides (see :func:`shingle_pair_counts`).

    This is the only place the package checkpoints a shingle frame, and
    the checkpoint is EAGER: the shingle job runs here, once, before any
    consumer stage is planned. Every consumer (sizes, both join sides, the
    MinHash stats) reads the materialized blocks instead of re-running the
    scan + shingling per lineage branch (ABAB ~10% at sf0.1). A lazy
    checkpoint cuts the frame's lineage when the FIRST job that reads it
    ends, while AQE still runs the other consumers as concurrent stages;
    those stages then report metrics for accumulators the ContextCleaner
    has dropped (DAGScheduler "non-existent accumulator" ERROR traces,
    PERF.md §75-§77). Storage is the block manager's memory-and-disk tier
    — a deliberate spill-for-recompute trade at scale.
    """
    sh = shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
    if df_cap is not None:
        sh = sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
        ).where(F.col("df") <= df_cap)
    return sh.localCheckpoint(eager=True)


def _side(frame: DataFrame, id_col: str, side: str, *cols) -> DataFrame:
    """``frame`` with its id renamed to ``doc_a``/``doc_b`` (side "a"/"b")."""
    return frame.select(F.col(id_col).alias(f"doc_{side}"), *cols)


def _pairable(sh: DataFrame) -> DataFrame:
    """Shingle rows that can join another document's: a ``df == 1``
    shingle occurs in one document only, so it can never produce a pair.
    Only a frame that carries ``df`` (a capped :func:`materialized_shingles`)
    knows that for free; 0.08% of the join rows at sf0.1, 36% at sf0.01,
    60-90% on real unique-shingle-heavy crawls."""
    return sh.where(F.col("df") >= 2) if "df" in sh.columns else sh


def shingle_pair_counts(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every document pair that shares at least one shingle, with the
    exact counts any set-similarity needs: (doc_a, doc_b, shared, na, nb),
    doc_a < doc_b, ``shared`` = |A ∩ B|, ``na``/``nb`` = |A|, |B|.

    ``sh`` is a :func:`materialized_shingles` frame. Candidate generation
    is one shingle-keyed self-join, so only documents sharing a shingle
    ever meet — never |N|²; a hot shingle is a skew key AQE splits (and
    ``df_cap`` bounds). The sizes read every row of ``sh``; the join sides
    read only the ``df >= 2`` rows when ``sh`` carries ``df``.

    The self-join is a shuffled-hash join: both sides grow with the
    corpus, so broadcast is never right, and the checkpointed frame's
    static size estimate runs ~50x under its true size — a statically
    chosen broadcast AQE cannot demote (the x10 parity run OOM'd a
    default-1g driver that way, r8). Between the shuffle joins, SHJ skips
    the two corpus-scale sorts of sort-merge; its build side holds one
    partition's shingle slice (ABAB in PERF.md §77). The size joins carry
    no hint: one row per document grows with the corpus, so AQE picks
    broadcast only when it actually fits.
    """
    pairable = _pairable(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    shared = (
        _side(pairable, id_col, "a", "s")
        .join(_side(pairable, id_col, "b", "s").hint("shuffle_hash"), "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(_side(sizes, id_col, "a", F.col("n").alias("na")), "doc_a")
        .join(_side(sizes, id_col, "b", F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )


#: MinHash tables for the banded candidate join. With 1-row bands the miss
#: probability for a true pair of Jaccard s is (1-s)^N_TABLES — 0.39% at the
#: 0.5 threshold boundary, vanishing for real near-dups (0.8 → 2.6e-6);
#: recall is CERTIFIED by the oracle rows_match, not assumed.
MINHASH_TABLES = 8


def minhash_verified_pairs(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash-LSH candidate pairs with EXACT shared-shingle counts:
    (doc_a, doc_b, shared, na, nb) — the :func:`shingle_pair_counts`
    columns, for the pairs banding finds that can reach Jaccard 0.5.

    1. ONE groupBy over ``sh`` computes each document's shingle count and
       its MINHASH_TABLES minima of ``xxhash64(s, i)`` (map-side partial
       min); the count rides along the band rows, so no sizes join.
    2. Band rows (doc, band, val) self-join on (band, val): only
       same-bucket documents ever meet, never |N|².
    3. Size-ratio prune: J ≥ 0.5 with shared ≤ min(na, nb) forces
       2·min(na, nb) ≥ max(na, nb), so dropping the rest is exact for
       any threshold ≥ 0.5 (ABAB 2.66 → 1.69 s with the SHJ verify at
       sf0.1, PERF.md §52).
    4. Exact verify: the pruned candidates join doc_a's shingles, then
       (doc_b, s) against doc_b's shingles, counted per pair. Both verify
       joins read only ``df >= 2`` rows when ``sh`` carries ``df``; the
       signatures and counts read every row.

    All three joins are shuffled-hash: every side grows with the corpus
    (see :func:`shingle_pair_counts` for why broadcast is never safe). The
    band join builds on one side's band slice; the first verify builds on
    the pruned candidates (4.5x fewer rows than the shingle slice at sf0.1,
    −0.27 s ABAB) and streams the shingle rows; the second builds on the
    shingle slice and streams the ~4-5M-row expansion unsorted, which
    sort-merge would have to sort (PERF.md §52/§56).
    """
    stats = sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"m{i}")
            for i in range(MINHASH_TABLES)
        ],
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(MINHASH_TABLES)])
    bands = stats.select(id_col, "n", F.posexplode(sig).alias("band", "val"))
    cand = (
        _side(bands, id_col, "a", F.col("n").alias("na"), "band", "val")
        .hint("shuffle_hash")
        .join(
            _side(bands, id_col, "b", F.col("n").alias("nb"), "band", "val"),
            ["band", "val"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "na", "doc_b", "nb")
        .distinct()
        .where(F.least("na", "nb") * 2 >= F.greatest("na", "nb"))
    )
    pairable = _pairable(sh)
    return (
        cand.hint("shuffle_hash")
        .join(_side(pairable, id_col, "a", "s"), "doc_a")
        .join(_side(pairable, id_col, "b", "s").hint("shuffle_hash"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )


def _jaccard() -> F.Column:
    return F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over :func:`shingle_pair_counts`.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded 6.
    """
    sh = materialized_shingles(df, text_col=text_col, id_col=id_col, n=n)
    jac = _jaccard()
    return (
        shingle_pair_counts(sh, id_col)
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame, spark, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document from md5(token) bit votes.

    Pipeline: explode tokens (with multiplicity — repeated tokens vote
    repeatedly) → md5 hex → ONE ``conv`` packs the first 15 hex chars into
    a single 60-bit BIGINT per token → a single ``groupBy(doc)`` computes
    all 60 per-bit vote sums as 60 codegen'd integer sum-expressions
    (shiftright + %2) → weighted reassembly into one BIGINT, all exact
    integer math. ONE shuffle of one row per token; no row expansion.

    The round-1..3 implementation broadcast-joined a 60-row bit table
    (60× row expansion: ~16M rows and 16M string ``conv`` calls at sf0.1,
    measured 11.6 s); this shape computes identical votes from the packed
    long in 1.1 s — the per-bit work rides in the aggregate expressions
    instead of the row count, which is also the right shape at 100 TB
    (shuffle volume = docs × 60 longs either way, but map-side input stays
    1× the token count). Cross-engine-stable because md5 is the only hash
    involved.

    Bit addressing (pinned by the oracle and tests/test_simhash_fuzz.py):
    logical bit b = bit (b%4) of the 1-based hex char (b//4 + 1). ``conv``
    parses char 1 as MOST significant of the 15-char slice, so that char
    holds packed-long bits 56..59 — logical bit b sits at packed bit
    4*(14 - b//4) + (b%4).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias("t"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5(F.encode("t", "UTF-8")), 1, 15), 16, 10)
        .cast("long")
        .alias("packed"),
    )

    def vote(b: int) -> F.Column:
        shift = 4 * (14 - b // 4) + (b % 4)
        return (F.shiftright(F.col("packed"), shift) % 2) * 2 - 1

    sums = toks.groupBy("doc").agg(
        *[F.sum(vote(b)).alias(f"v{b}") for b in range(SIMHASH_BITS)]
    )
    weighted = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(SIMHASH_BITS)
    ]
    total = weighted[0]
    for w in weighted[1:]:
        total = total + w
    return sums.select(F.col("doc").alias(id_col), total.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    sh: DataFrame, *, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, with banded candidate
    generation: 60 bits → 4 bands of 15; any pair within Hamming ≤ 3 shares
    at least one identical band (pigeonhole), so the equi-join on
    (band_idx, band_value) finds exactly the same pairs as a quadratic scan
    — per-band-bucket cost instead of |N|² at scale.
    """
    n_bands = 4
    band_bits = SIMHASH_BITS // n_bands
    # shiftright with a Python-literal bit count keeps the math in exact
    # integer ops (a `/` here would detour through double and drop low bits).
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (F.shiftright("simhash", i * band_bits) % (1 << band_bits)).alias("val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select(
        F.col(id_col).alias("doc"), "simhash", F.explode(bands).alias("bb")
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.where(hamming <= max_hamming).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


def ngram_containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: shared/|small| ≥ threshold with
    the smaller shingle set as numerator — catches quotes, excerpts and
    boilerplate wrappers that symmetric Jaccard misses (a 100-shingle doc
    fully embedded in a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0 — the CCNet/RefinedWeb-style dedup criterion).

    A select over :func:`shingle_pair_counts`, like ngram_jaccard_pairs.
    Returns (doc_small, doc_big, containment, jaccard) — containment for
    the decision, Jaccard alongside to show what it would have missed.
    Equal sizes tiebreak to doc_a as the small side.
    """
    sh = materialized_shingles(df, text_col=text_col, id_col=id_col, n=n)
    containment = F.col("shared") / F.least("na", "nb")
    small_is_a = F.col("na") <= F.col("nb")
    return (
        shingle_pair_counts(sh, id_col)
        .where(containment >= threshold)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_small"),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_big"),
            F.round(containment, 6).alias("containment"),
            F.round(_jaccard(), 6).alias("jaccard"),
        )
    )


def shingle_pair_ppm(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Shared-shingle candidate pairs with EXACT integer-ppm Jaccard and
    the threshold-0.5 edge flag — the building block of the
    dedup-governance family (source_overlap_matrix E272,
    neardup_cluster_quality E273, dedup_governance_rollup E275).

    Returns (doc_a, doc_b, jac_ppm, is_edge) with doc_a < doc_b;
    jac_ppm = |∩|·10⁶ div |∪| (multiply-then-div, no float anywhere),
    is_edge ⟺ jaccard ≥ 0.5 via the integer cross-multiplied predicate.
    A select over :func:`shingle_pair_counts`.

    ``shingles`` (r12, guide §1.2): a caller that has ALREADY shingled the
    frame (minhash_banding_recall_curve builds signatures from the same
    rows; ngram_jaccard_dfcap passes a df-capped frame) passes its
    :func:`materialized_shingles` output here so the scan+shingle pass
    runs once; the ``df`` argument is then unused.
    """
    if shingles is not None:
        # ADVICE r12: the escape hatch relies on a caller contract
        # (shingle_rows-shaped frame); the column part is cheap to verify.
        # Distinctness-per-doc stays documented, not scanned.
        missing = {id_col, "s"} - set(shingles.columns)
        assert not missing, (
            f"shingle_pair_ppm(shingles=...) must carry columns "
            f"({id_col!r}, 's'); missing {sorted(missing)}"
        )
        sh = shingles
    else:
        sh = materialized_shingles(df, text_col=text_col, id_col=id_col, n=n)
    return shingle_pair_counts(sh, id_col).select(
        "doc_a",
        "doc_b",
        F.expr("shared * 1000000 div (na + nb - shared)").alias("jac_ppm"),
        (F.col("shared") * 2 >= F.col("na") + F.col("nb") - F.col("shared")).alias(
            "is_edge"
        ),
    )
