"""Deduplication operators for training-data pipelines (SURVEY.md §2.K
K1/K2): exact, MinHash+LSH near-dup, SimHash fingerprints, n-gram
Jaccard — all built from DataFrame primitives (explode → hash →
min-aggregate → band-join), no UDFs, so every stage is JVM codegen
and scales as ordinary shuffles.

Determinism: hashes are md5 hex strings compared lexicographically
(min over hex == min over the underlying 128-bit int), so results are
engine-portable — the DuckDB oracles compute the identical pipeline.

Scale design (100 TB): shingle sets and MinHash signatures are
NARROW per-row array expressions (``array_min(transform(...))``) —
zero shuffles until the LSH band join, whose keys are short uniform
hashes immune to document-length skew. Candidate verification joins
only LSH-surviving pairs against per-doc shingle arrays
(``array_intersect`` in codegen), never a pair × shingle fanout and
never the full cross product.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class _CheckpointHandle:
    """Releasable wrapper around a (local)checkpointed DataFrame's
    backing RDD. ``DataFrame.unpersist`` only clears CacheManager
    entries — checkpoint RDDs are persisted at the RDD layer and
    normally wait for the async ContextCleaner, which leaks them for
    the lifetime of a long session. Duck-types ``unpersist`` so it can
    ride the :func:`attach_cache` contract next to plain persisted
    frames."""

    def __init__(self, jrdd) -> None:
        self._jrdd = jrdd

    def unpersist(self) -> None:
        try:
            self._jrdd.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to release


def checkpoint_handle(checkpointed: DataFrame) -> _CheckpointHandle | None:
    """Handle for the RDD backing an (eagerly) checkpointed DataFrame,
    or None when the plan shape is not the expected ``LogicalRDD``
    (then the ContextCleaner remains the only release path)."""
    try:
        plan = checkpointed._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return None
        return _CheckpointHandle(plan.rdd())
    except Exception:
        return None


@contextlib.contextmanager
def consuming(result: DataFrame):
    """Structural enforcement of the cache contract: materialize a
    cache-attached result inside ``with consuming(out) as df:`` and the
    attached intermediates are released on exit, exceptions included —
    ``release_cached`` stops being a call sites may forget."""
    try:
        yield result
    finally:
        release_cached(result)


def attach_cache(result: DataFrame, *frames) -> DataFrame:
    """Record persisted intermediates on a result frame so consumers
    can release them after materializing (see :func:`release_cached`).
    A lazily-returned DataFrame cannot unpersist its own inputs — the
    cache must outlive the plan until an action runs."""
    result._spark_graft_cached = (
        *getattr(result, "_spark_graft_cached", ()),
        *frames,
    )  # type: ignore[attr-defined]
    return result


def release_cached(result: DataFrame) -> None:
    """Unpersist intermediates attached by :func:`attach_cache`
    (idempotent, no-op for frames without attachments). Call after
    the action that consumes ``result`` — long-lived sessions
    (streaming sinks, notebook loops) leak one cache per call chain
    otherwise."""
    for f in getattr(result, "_spark_graft_cached", ()):  # type: ignore[attr-defined]
        f.unpersist()
    result._spark_graft_cached = ()  # type: ignore[attr-defined]


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """K1: keep exactly one row per key — lowest ``order_col`` wins.

    ``row_number`` (not dropDuplicates) so the keep-policy is explicit
    and deterministic; one shuffle on the key.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def shingle_set_col(text_col: str, k: int = 8):
    """array<string> of distinct char k-grams — a narrow expression,
    no explode, no shuffle; the whole MinHash pipeline runs on it."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
            f" i -> substr({text_col}, i, {k}))"
        )
    )


def minhash_signatures(
    with_sets: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    set_col: str = "sh_set",
) -> DataFrame:
    """MinHash: for permutation i, h_i(doc) = min over shingles of
    a salted hash — the seeded-salt trick replaces true permutations
    (standard LSH practice; salt text keeps engines portable).

    Computed as ``array_min(transform(sh_set, ...))`` — a NARROW
    per-row expression: no explode, no groupBy, no shuffle. md5
    economy: one digest yields four independent 32-bit lanes
    (8-hex-char slices), so 8 permutations cost 2 digests/shingle —
    the digest arrays are materialized ONCE in a first projection
    because Catalyst does not CSE the md5 across separate lane
    expressions (inlined per lane it recomputes every digest 4×;
    at sf0.1 the signature stage is ~1.2s of a ~4.5s pipeline whose
    cost is dominated by the output-bound Jaccard verify, so this is
    a constant-factor economy, not the bottleneck fix).
    """
    def digest_fn(salt: str):
        # closure factory: a 2-arg lambda would be read by transform()
        # as (element, index)
        return lambda s: F.md5(F.concat(F.lit(salt), s))

    def slice_fn(start: int):
        return lambda h: F.substring(h, start, 8)

    n_digests = (num_hashes + 3) // 4
    digests = with_sets.select(
        F.col(id_col),
        *[
            F.transform(F.col(set_col), digest_fn(f"{d}:")).alias(f"__dig{d}__")
            for d in range(n_digests)
        ],
    )
    cols = [F.col(id_col)]
    for i in range(num_hashes):
        lane = F.array_min(
            F.transform(F.col(f"__dig{i // 4}__"), slice_fn(8 * (i % 4) + 1))
        )
        cols.append(lane.alias(f"mh{i}"))
    return digests.select(*cols)


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band_id, band_sig) relation: the signature cut into b
    bands of r rows each — the join key set for every LSH variant
    (batch self-join, incremental increment×corpus join). This is
    also the layout to PERSIST as the nightly signature table."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    )


def cap_bucket_side(
    rel: DataFrame,
    bucket_cols: list[str],
    order_col: str,
    max_bucket_size: int,
) -> tuple[DataFrame, DataFrame]:
    """Degenerate-bucket guard shared by every bucketed self-join
    (MinHash bands, hyperplane-LSH bands, k-means cells): return
    ``rel`` restricted to the ``max_bucket_size`` lowest-``order_col``
    members of each bucket, plus a stats frame
    ``(*bucket_cols, bucket_size)`` of the buckets that overflowed.

    Used to cap only the LEFT side of a bucket self-join: cost drops
    from |bucket|² to |bucket|·cap while every member still appears on
    the uncapped right side — so each overflow-bucket member is still
    compared against the bucket's ``cap`` canonical (lowest-id)
    members, and exact copies keep colliding with the bucket minimum.
    Recall loss is confined to pairs BOTH of whose ends rank beyond
    the cap, and is surfaced, never silent: callers attach the stats
    frame to the result (``_spark_graft_truncated``). The ranking is
    one extra shuffle-sort on the bucket key, O(bucket·log bucket) —
    the price of turning a quadratic worst case into a linear one.
    """
    w = Window.partitionBy(*bucket_cols).orderBy(order_col)
    ranked = rel.withColumn("__bpos__", F.row_number().over(w))
    capped = ranked.filter(F.col("__bpos__") <= max_bucket_size).drop("__bpos__")
    truncated = (
        ranked.groupBy(*bucket_cols)
        .agg(F.max("__bpos__").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )
    return capped, truncated


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (b bands × r rows) and emit candidate pairs
    sharing any band. Self-join is per-(band, signature) bucket —
    uniform short keys, no quadratic blowup outside buckets.

    ``max_bucket_size`` guards the degenerate case (a boilerplate
    signature shared by millions of docs makes one bucket quadratic):
    the pair-source side of the self-join is capped to the bucket's
    lowest ids via :func:`cap_bucket_side`; overflowing buckets are
    reported on the result as ``result._spark_graft_truncated``
    (``band_id, band_sig, bucket_size``). None = uncapped (exact)."""
    banded = banded_signatures(signatures, id_col, bands, rows_per_band)
    truncated = None
    a_rel = banded
    if max_bucket_size is not None:
        a_rel, truncated = cap_bucket_side(
            banded, ["band_id", "band_sig"], id_col, max_bucket_size
        )
    a = a_rel.alias("a")
    b = banded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if truncated is not None:
        out._spark_graft_truncated = truncated  # type: ignore[attr-defined]
    return out


def containment_candidate_pairs(
    with_sets: DataFrame,
    id_col: str,
    set_col: str = "sh_set",
    threshold_pct: int = 80,
    max_df: int | None = None,
) -> DataFrame:
    """FULL-RECALL candidate pairs for containment
    ``|A∩B| / min(|A|,|B|) >= t`` — the prefix-filter inverted index
    (PPJoin family), replacing the symmetric-MinHash candidate set
    whose doc-in-doc recall is only probabilistic.

    Guarantee: rank every shingle by global rarity (document
    frequency asc, md5 tiebreak — a canonical total order identical
    in any engine). If the smaller set S of a qualifying pair has
    containment ≥ t, at most ``|S| - ceil(t·|S|)`` of its shingles
    fall outside the other doc, so among S's
    ``p = |S| - ceil(t·|S|) + 1`` RAREST shingles at least one lies
    in the intersection. Indexing ALL shingles and probing every
    doc's p-prefix therefore surfaces every qualifying pair (probe
    from both ends covers whichever side is smaller) — no sketch,
    no misses.

    Scale shape (100 TB): one linear explode, one shuffle to count
    document frequency (map-side combined), one id-keyed window to
    cut prefixes, and one shuffle join ``prefix × index`` keyed on
    the shingle. The probe side holds only each doc's RAREST
    shingles, so join keys are low-df by construction — the common
    ("the quick ") shingles that would skew a naive shingle join
    never appear as probe keys, and the index side is semi-pruned to
    probed shingles by the join itself. Worst case (near-identical
    corpus) is output-bound: candidate volume ≈ true pair volume.
    ``max_df`` optionally drops shingles with document frequency
    above the cutoff from BOTH sides — the standard stop-shingle
    economy; it trades bounded recall (only pairs whose entire
    intersection is stop-shingles can be lost) for immunity to
    boilerplate floods. None = exact.
    """
    sh = with_sets.select(F.col(id_col), F.explode(set_col).alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", F.md5("shingle"))
            ),
        )
        .withColumn("__sz__", F.count("*").over(Window.partitionBy(id_col)))
    )
    # p = |S| - ceil(t·|S|) + 1, all-integer: ceil(t·n) = (t%·n + 99) div 100
    prefix = ranked.filter(
        F.col("__rn__")
        <= F.expr(f"__sz__ - (({threshold_pct} * __sz__ + 99) DIV 100) + 1")
    ).select(F.col(id_col).alias("__pid__"), "shingle")
    index = sh.select(F.col(id_col).alias("__iid__"), "shingle")
    if max_df is not None:
        index = index.join(dfreq.select("shingle"), "shingle", "left_semi")
    return (
        prefix.join(index, "shingle")
        .filter(F.col("__pid__") != F.col("__iid__"))
        .select(
            F.least("__pid__", "__iid__").alias("id_a"),
            F.greatest("__pid__", "__iid__").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    with_sets: DataFrame,
    id_col: str,
    set_col: str = "sh_set",
    min_jaccard_pct: int | None = None,
    broadcast_sets: bool | None = None,
    broadcast_max_candidates: int = 100_000,
    emit_sizes: bool = False,
) -> DataFrame:
    """Exact Jaccard on candidate pairs, as integers (|∩|, |∪|) —
    exact arithmetic, so distributed results hash-match any oracle.

    Scale-critical shape: each pair row computes
    ``size(array_intersect(...))`` over the per-doc shingle arrays in
    codegen. Work is output-bounded — pairs × O(set size) per row —
    with no pair × shingle explode-join (which fans out to
    |pairs|·|shingles| rows and dominates at corpus scale). The set
    relation is semi-restricted to ids appearing in some candidate
    pair before the joins.

    ``min_jaccard_pct`` enables the LOSSLESS size prefilter:
    J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose size
    ratio is already under the threshold is pruned with two ``size()``
    calls before the O(set) intersect ever runs. Only pairs that the
    caller's final threshold filter would drop are pruned — callers
    that want ALL candidate Jaccards leave it None.

    ``broadcast_sets`` picks the join strategy for the candidate-set
    relation. True: broadcast — the heavy array payloads stay out of
    the shuffle, each executor joins pair ids against a local map
    (right whenever candidates fit in executor memory). False: plain
    shuffle joins on id — the safe mode when a pathological candidate
    set would blow the broadcast ceiling; byte-identical results.
    None (default): decide from data — ``pairs`` is persisted (the
    count then costs one cheap aggregation and the main join reuses
    the materialization; released via the attached-cache contract)
    and broadcast is kept iff 2·|pairs|, an upper bound on candidate
    ids, stays within ``broadcast_max_candidates``."""
    cached: tuple[DataFrame, ...] = ()
    if broadcast_sets is None:
        pairs = pairs.persist()
        cached = (pairs,)
        broadcast_sets = 2 * pairs.count() <= broadcast_max_candidates

    def _side(rel: DataFrame) -> DataFrame:
        return F.broadcast(rel) if broadcast_sets else rel

    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = with_sets.select(F.col(id_col), set_col).join(
        _side(cand_ids), id_col, "left_semi"
    )
    a_sets = _side(
        sets.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("__sa__"))
    )
    b_sets = _side(
        sets.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("__sb__"))
    )
    joined = pairs.join(a_sets, "id_a").join(b_sets, "id_b")
    if min_jaccard_pct is not None:
        na, nb = F.size("__sa__"), F.size("__sb__")
        joined = joined.filter(
            100 * F.least(na, nb) >= min_jaccard_pct * F.greatest(na, nb)
        )
    isect = F.size(F.array_intersect(F.col("__sa__"), F.col("__sb__")))
    out_cols = [
        F.col("id_a"),
        F.col("id_b"),
        isect.alias("isect"),
        (F.size("__sa__") + F.size("__sb__") - isect).alias("uni"),
    ]
    if emit_sizes:
        # per-side sizes enable ASYMMETRIC measures downstream —
        # containment |∩|/min(|A|,|B|) catches a small document quoted
        # verbatim inside a large one, where symmetric Jaccard is tiny
        out_cols += [F.size("__sa__").alias("size_a"), F.size("__sb__").alias("size_b")]
    return attach_cache(joined.select(*out_cols), *cached)


def near_dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    min_jaccard_pct: int = 50,
    max_bucket_size: int | None = None,
    broadcast_sets: bool | None = None,
) -> DataFrame:
    """K2 end-to-end: shingle → MinHash → LSH bands → candidate pairs
    → exact-Jaccard verify → near-duplicate pairs with
    ``100*isect >= min_jaccard_pct*uni`` (integer comparison — no
    float thresholds).

    ``max_bucket_size`` / ``broadcast_sets`` are the two 100 TB skew
    guards, passed through to :func:`lsh_candidate_pairs` and
    :func:`jaccard_verify`. ``broadcast_sets`` defaults to the None
    auto-probe — and that is also the FAST path, not just the safe
    one: the probe persists the candidate pairs, and the verify plan
    consumes that relation three times (once per set side, once for
    the candidate-id restriction), so without the persist the whole
    LSH band join is re-executed per consumer (measured 2.4× slower
    at sf0.1). When buckets were capped, the overflow stats frame
    rides the result as ``_spark_graft_truncated``."""
    # Spread documents across tasks first: a single parquet file
    # otherwise pins the (narrow but CPU-heavy) shingle+md5 map stage
    # to one task. Keyed repartition also co-partitions the later
    # set joins on id.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(id_col, text_col).repartition(n_parts, id_col)
    # Per-doc shingle ARRAYS: the signature computation is a pure
    # narrow map (array_min over transform) — zero shuffles before
    # the LSH band join. Persisted because both the band join input
    # and the verify step consume it.
    with_sets = base.select(
        F.col(id_col), shingle_set_col(text_col, k=shingle_k).alias("sh_set")
    ).persist()
    sigs = minhash_signatures(with_sets, id_col, num_hashes=bands * rows_per_band)
    pairs = lsh_candidate_pairs(
        sigs,
        id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    verified = jaccard_verify(
        pairs,
        with_sets,
        id_col,
        min_jaccard_pct=min_jaccard_pct,
        broadcast_sets=broadcast_sets,
    )
    out = verified.filter(100 * F.col("isect") >= min_jaccard_pct * F.col("uni"))
    truncated = getattr(pairs, "_spark_graft_truncated", None)
    if truncated is not None:
        out._spark_graft_truncated = truncated  # type: ignore[attr-defined]
    # callers release with release_cached(out) after their action
    return attach_cache(
        out, with_sets, *getattr(verified, "_spark_graft_cached", ())
    )


def edit_distance_verify(
    pairs: DataFrame,
    with_text: DataFrame,
    id_col: str,
    text_col: str,
    min_sim_pct: int | None = None,
    broadcast_texts: bool | None = None,
    broadcast_max_candidates: int = 100_000,
) -> DataFrame:
    """Exact Levenshtein distance on candidate pairs — the
    character-level verify for fuzzy dedup, where set-based Jaccard
    misses small in-place edits (typo farms, template fills) that
    shift every containing shingle.

    Same scale shape as :func:`jaccard_verify`: work is
    output-bounded (|pairs| × O(len_a·len_b) per row, all in JVM
    codegen via the built-in ``levenshtein``), the text relation is
    semi-restricted to candidate ids, and ``broadcast_texts`` follows
    the identical None auto-probe (pairs persisted, broadcast kept
    iff the candidate-id bound fits).

    ``min_sim_pct`` enables the LOSSLESS length prefilter:
    lev ≥ |len_a − len_b|, so normalized similarity
    (max−lev)/max ≤ min(len)/max(len) — pairs whose length ratio
    already misses the threshold are pruned with two ``length()``
    calls before the O(n·m) distance runs.
    """
    cached: tuple[DataFrame, ...] = ()
    if broadcast_texts is None:
        pairs = pairs.persist()
        cached = (pairs,)
        broadcast_texts = 2 * pairs.count() <= broadcast_max_candidates

    def _side(rel: DataFrame) -> DataFrame:
        return F.broadcast(rel) if broadcast_texts else rel

    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    texts = with_text.select(F.col(id_col), text_col).join(
        _side(cand_ids), id_col, "left_semi"
    )
    a_texts = _side(
        texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta__"))
    )
    b_texts = _side(
        texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb__"))
    )
    joined = pairs.join(a_texts, "id_a").join(b_texts, "id_b")
    la, lb = F.length("__ta__"), F.length("__tb__")
    if min_sim_pct is not None:
        joined = joined.filter(
            100 * F.least(la, lb) >= min_sim_pct * F.greatest(la, lb)
        )
        # Banded Levenshtein with a PER-PAIR threshold (r11
        # optimization): the caller's similarity filter keeps a pair
        # iff lev ≤ floor(max_len·(100−pct)/100) =: T_pair, so running
        # the distance with threshold T_pair (an O(n·T_pair) band
        # instead of the full O(n·m) matrix) returns the exact value
        # for every pair the threshold can keep; pairs driven past it
        # come back −1 and are provably below the similarity threshold
        # — dropped here. This replaces the earlier GLOBAL bound
        # T = max_len(corpus)·(100−pct)/100, which (a) cost a
        # max(length) collect job at build time and (b) made every
        # short pair pay the longest document's band width. The
        # greatest(1, ·) floor keeps the threshold argument legal for
        # empty/short texts; such pairs still fail the caller's exact
        # integer filter.
        # BIGINT multiply: length()*N would wrap 32-bit for texts past
        # ~2^31/N chars — impossible locally, cheap insurance at scale.
        lev = F.expr(
            f"levenshtein(__ta__, __tb__, greatest(1, "
            f"CAST(CAST(greatest(length(__ta__), length(__tb__)) AS BIGINT) "
            f"* {100 - min_sim_pct} DIV 100 AS INT)))"
        )
        out = joined.select(
            F.col("id_a"),
            F.col("id_b"),
            lev.alias("lev_dist"),
            F.greatest(la, lb).alias("max_len"),
        ).filter(F.col("lev_dist") >= 0)
        return attach_cache(out, *cached)
    out = joined.select(
        F.col("id_a"),
        F.col("id_b"),
        F.levenshtein("__ta__", "__tb__").alias("lev_dist"),
        F.greatest(la, lb).alias("max_len"),
    )
    return attach_cache(out, *cached)


def edit_distance_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    min_sim_pct: int = 80,
    max_bucket_size: int | None = None,
    broadcast_texts: bool | None = None,
) -> DataFrame:
    """K2 fuzzy dedup end-to-end: shingle → MinHash → LSH candidates
    → exact Levenshtein verify → pairs with normalized edit
    similarity ``100*(max_len−lev) >= min_sim_pct*max_len`` (integer
    comparison, no float thresholds — hash-matches any oracle).

    The LSH screen bounds the O(n·m) distance computations to
    near-collision candidates; ``max_bucket_size`` and the
    ``broadcast_texts`` auto-probe are the same two 100 TB skew
    guards as :func:`near_dedup_minhash`. Callers release with
    ``release_cached(out)`` after their action.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(id_col, text_col).repartition(n_parts, id_col)
    with_sets = base.select(
        F.col(id_col), shingle_set_col(text_col, k=shingle_k).alias("sh_set")
    )
    sigs = minhash_signatures(with_sets, id_col, num_hashes=bands * rows_per_band)
    pairs = lsh_candidate_pairs(
        sigs,
        id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    verified = edit_distance_verify(
        pairs,
        base,
        id_col,
        text_col,
        min_sim_pct=min_sim_pct,
        broadcast_texts=broadcast_texts,
    )
    out = verified.filter(
        100 * (F.col("max_len") - F.col("lev_dist"))
        >= min_sim_pct * F.col("max_len")
    )
    truncated = getattr(pairs, "_spark_graft_truncated", None)
    if truncated is not None:
        out._spark_graft_truncated = truncated  # type: ignore[attr-defined]
    return attach_cache(out, *getattr(verified, "_spark_graft_cached", ()))


def simhash_bits(token_hash_hex: Column, num_bits: int = 32) -> list[Column]:
    """Bit k of the first num_bits/4 hex chars of a token hash,
    via hex-digit decode (strpos arithmetic — portable, no bit ops)."""
    bits: list[Column] = []
    for j in range(num_bits // 4):
        digit = F.instr(
            F.lit("0123456789abcdef"), F.substring(token_hash_hex, j + 1, 1)
        ) - 1
        for k in (3, 2, 1, 0):
            bits.append(F.floor(digit / (2 ** k)) % 2)
    return bits


def simhash_fingerprint(
    df: DataFrame, id_col: str, text_col: str, num_bits: int = 32
) -> DataFrame:
    """SimHash: per-token md5 → ±1 vote per bit position → sign of the
    vote sum. One explode + one groupBy(doc) with num_bits integer
    sums (all partial-aggregatable)."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    tokens = (
        df.select(id_col, text_col)
        .repartition(n_parts, id_col)  # parallelize single-file inputs
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = F.md5(F.col("tok"))
    votes = tokens.groupBy(id_col).agg(
        *[
            F.sum(bit * 2 - 1).alias(f"v{i}")
            for i, bit in enumerate(simhash_bits(h, num_bits))
        ]
    )
    fp = F.concat(
        *[F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(num_bits)]
    )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document
    gets a ``cluster_id`` (the minimum doc id reachable through dup
    edges — the canonical representative to keep) plus the cluster
    size. This is the step that turns pairwise near-dup evidence into
    an actionable keep/drop decision for corpus curation.

    Algorithm: min-label propagation WITH pointer jumping — each
    round every node (a) takes the min of its own and its neighbors'
    labels, then (b) jumps to its label's label. The jump doubles the
    effective reach per round, so even pathological chain-shaped
    components converge in O(log diameter) rounds (the same idea as
    large-star contraction; a plain neighbor-min loop needs O(diameter)
    rounds). Labels stay within the component's node-id set and never
    increase, so the unique fixpoint is the component minimum.

    Diameter caveat: rounds grow with log(diameter) plus a long
    constant tail — near-dup graphs (cliques of copies, short chains)
    converge in a handful of rounds, but on a geometric ε-neighbor
    graph at sf0.1 this loop was still changing labels past round 22
    (measured round 7). For high-diameter graphs use
    ``operators.graph.connected_components_star`` (alternating
    large-star/small-star contraction — diameter-independent, 8
    rounds on that same graph); it returns the same min-id labels.

    Fault tolerance: labels are re-materialized per round to keep the
    plan O(1) deep instead of O(rounds). The mode defaults from the
    session: when the SparkContext already has a checkpoint dir
    (``sc.setCheckpointDir`` — the cluster profile), RELIABLE
    checkpoints to that shared storage are the default, so on a real
    cluster executor loss mid-iteration recovers from storage instead
    of failing the job. Without one, ``localCheckpoint`` (executor-
    local, fast, non-recoverable) is the local fast path. Pass
    ``checkpoint_dir`` explicitly to force reliable mode at a specific
    location — the session's checkpoint dir is set to it ONLY when it
    differs from the current value, and the change is a documented,
    surfaced side effect on the shared SparkContext (it persists for
    later jobs; Spark has no per-job checkpoint dir).

    Driver-side cost per round is ONE cheap scalar: the changed flag
    is computed inside the round's join and counted off the already-
    materialized checkpoint (no second join recompute), short-circuited
    with ``limit(1)`` since only emptiness matters. The round count is
    surfaced on the result as ``_spark_graft_rounds``.

    Cache hygiene: every round's checkpoint RDD would otherwise sit in
    the session's persistent-RDD map until the async ContextCleaner
    notices — each superseded round is released eagerly here, and the
    two frames that must outlive this call (edges + final labels) are
    attached to the result for :func:`release_cached` / ``consuming``.
    """
    spark = docs.sparkSession
    sc = spark.sparkContext
    if checkpoint_dir is not None and sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    reliable = checkpoint_dir is not None or sc.getCheckpointDir() is not None

    def _materialize(df: DataFrame) -> tuple[DataFrame, _CheckpointHandle | None]:
        ck = df.checkpoint() if reliable else df.localCheckpoint()
        return ck, checkpoint_handle(ck)

    def _release(handle: _CheckpointHandle | None) -> None:
        if handle is not None:
            handle.unpersist()

    edges, edges_h = _materialize(pairs.select("id_a", "id_b"))
    release_cached(pairs)
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    labels, labels_h = _materialize(
        docs.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("cand"))
        )
        stepped = labels.join(nbr, labels["node"] == nbr["src"], "left").select(
            F.col("node"),
            F.col("label").alias("__old__"),
            F.least(F.col("label"), F.coalesce("cand", F.col("label"))).alias("label"),
        )
        # pointer jump: label ← label(label). Label values are node
        # ids, so the mapping join always matches; the jump is what
        # turns O(diameter) convergence into O(log diameter).
        mapping = labels.select(
            F.col("node").alias("__ln__"), F.col("label").alias("__ll__")
        )
        new, new_h = _materialize(
            stepped.join(mapping, stepped["label"] == mapping["__ln__"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("__ll__", F.col("label"))
                ).alias("label"),
                (F.col("__old__") != F.least(
                    F.col("label"), F.coalesce("__ll__", F.col("label"))
                )).alias("__changed__"),
            )
        )
        changed = new.filter(F.col("__changed__")).limit(1).count()
        _release(labels_h)  # superseded round — eager, not ContextCleaner
        labels, labels_h = new.drop("__changed__"), new_h
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds"
        )
    w = Window.partitionBy("cluster_id")
    out = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count("*").over(w))
    out._spark_graft_rounds = rounds  # type: ignore[attr-defined]
    # edges + final labels back the (lazy) result plan — released by
    # the consumer via release_cached/consuming after its action
    return attach_cache(out, *[h for h in (edges_h, labels_h) if h is not None])


def keep_best_per_cluster(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Select each cluster's single best member: highest ``score_col``,
    lowest ``id_col`` on ties — the keep policy for dedup pipelines
    where near-dups are truncations/wrapped copies of one best version
    and the lowest-id canonical would discard it. ``clusters`` is a
    ``dedup_clusters``-shaped relation (id, cluster_id, cluster_size);
    ``scored`` carries ``id_col``, ``score_col`` and any columns the
    kept representative should retain.

    The deterministic (score DESC, id ASC) order is the contract, not
    a nicety: score ties are the COMMON case (identical copies have
    identical lengths/scores), and without a total order two runs can
    ship different representatives — an incremental consumer then sees
    phantom churn. One row_number window per cluster over the cluster
    relation joined to ``scored`` — only ids, scores and the carried
    columns shuffle, never the documents' text."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        clusters.join(scored, id_col)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def near_dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    corpus_sigs: DataFrame | None = None,
    shingle_k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    min_jaccard_pct: int = 50,
    broadcast_sets: bool | None = None,
    corpus_broadcast_max_candidates: int = 100_000,
) -> DataFrame:
    """The nightly-admission shape of MinHash dedup: test an INCREMENT
    of new documents against an already-signed corpus without
    recomputing anything corpus-sized. Returns near-dup pairs
    ``(new_id, other_id, isect, uni)`` where ``new_id`` is always from
    the increment and ``other_id`` is either a corpus doc or an
    earlier increment doc (``new_id < other_id`` for increment-internal
    pairs).

    Scale contract — the whole point of this operator:
    - corpus work is O(|increment| candidates), never O(|corpus|):
      pass ``corpus_sigs`` (the persisted ``banded_signatures`` layout
      or raw signature table from the last run) and only the corpus
      docs that LSH-collide with the increment get their shingle sets
      recomputed for the exact-Jaccard verify (semi-join restricted);
    - the increment side is the usual narrow signature map;
    - when ``corpus_sigs`` is None it is derived from ``corpus_docs``
      (convenience for tests / first run).
    """
    spark_parallelism = new_docs.sparkSession.sparkContext.defaultParallelism
    new_base = new_docs.select(id_col, text_col).repartition(spark_parallelism, id_col)
    new_sets = new_base.select(
        F.col(id_col), shingle_set_col(text_col, k=shingle_k).alias("sh_set")
    ).persist()
    new_sigs = minhash_signatures(new_sets, id_col, num_hashes=bands * rows_per_band)
    if corpus_sigs is None:
        corpus_sets_narrow = corpus_docs.select(id_col, text_col).repartition(
            spark_parallelism, id_col
        ).select(F.col(id_col), shingle_set_col(text_col, k=shingle_k).alias("sh_set"))
        corpus_sigs = minhash_signatures(
            corpus_sets_narrow, id_col, num_hashes=bands * rows_per_band
        )
    bn = banded_signatures(new_sigs, id_col, bands, rows_per_band)
    bc = banded_signatures(corpus_sigs, id_col, bands, rows_per_band)
    # Persisted: consumed twice (the pair union below AND the corpus
    # candidate-id derivation) — without it the increment×corpus band
    # join re-executes per consumer. O(increment-candidates) rows.
    nc = (
        bn.alias("a")
        .join(
            bc.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    nn = lsh_candidate_pairs(new_sigs, id_col, bands, rows_per_band)
    pairs = nc.unionByName(nn).distinct()
    corpus_cand_ids = nc.select(F.col("id_b").alias(id_col)).distinct()
    # Auto-sized broadcast, mirroring jaccard_verify's probe: nc is
    # already persisted, so |nc| — an upper bound on the distinct
    # corpus candidate ids — costs one cheap aggregation. The normal
    # nightly case (candidates ≈ O(increment)) broadcasts; an
    # adversarial all-duplicate increment makes the candidate set
    # corpus-sized, where a forced broadcast would blow the driver /
    # executor broadcast ceiling — fall back to a shuffle semi-join
    # with byte-identical results.
    cand_small = nc.count() <= corpus_broadcast_max_candidates
    corpus_cand_sets = (
        corpus_docs.select(id_col, text_col)
        .join(
            F.broadcast(corpus_cand_ids) if cand_small else corpus_cand_ids,
            id_col,
            "left_semi",
        )
        .select(F.col(id_col), shingle_set_col(text_col, k=shingle_k).alias("sh_set"))
    )
    all_sets = new_sets.unionByName(corpus_cand_sets)
    verified = jaccard_verify(
        pairs,
        all_sets,
        id_col,
        min_jaccard_pct=min_jaccard_pct,
        broadcast_sets=broadcast_sets,
    )
    out = verified.filter(
        100 * F.col("isect") >= min_jaccard_pct * F.col("uni")
    ).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("other_id"),
        "isect",
        "uni",
    )
    return attach_cache(
        out, new_sets, nc, *getattr(verified, "_spark_graft_cached", ())
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    num_bits: int = 32,
    bands: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs — the Hamming-space member of the dedup
    family (MinHash covers Jaccard, winnowing covers verbatim
    overlap, this covers weighted-token cosine-ish similarity the way
    Charikar's construction does). Recall is STRUCTURAL via the
    pigeonhole principle: the ``num_bits`` fingerprint splits into
    ``bands`` equal bands, and any pair within Hamming distance
    ``max_hamming`` < ``bands`` differs in at most ``max_hamming``
    bands, so at least one band matches exactly — the band-bucket
    self-join surfaces every qualifying pair, never all-pairs. The
    exact Hamming distance then verifies candidates (a per-position
    comparison sum — JVM expression, no UDF).

    Same skew discipline as every bucketed self-join here: the
    pair-source side caps each band bucket at ``max_bucket_size``
    lowest ids (:func:`cap_bucket_side`), overflow reported on
    ``result._spark_graft_truncated``. Two shuffles (band key, pair
    key) plus two id-keyed fingerprint joins.
    """
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if num_bits % bands:
        raise ValueError("bands must divide num_bits")
    width = num_bits // bands
    fps = simhash_fingerprint(df, id_col, text_col, num_bits=num_bits)
    banded = fps.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), b * width + 1, width)
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    )
    capped, truncated = cap_bucket_side(
        banded, ["band_id", "band_sig"], id_col, max_bucket_size
    )
    a = capped.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    fa = fps.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__fa__"))
    fb = fps.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__fb__"))
    hamming = sum(
        F.when(
            F.substring("__fa__", i + 1, 1) != F.substring("__fb__", i + 1, 1), 1
        ).otherwise(0)
        for i in range(num_bits)
    )
    out = (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out._spark_graft_truncated = truncated  # type: ignore[attr-defined]
    return out
