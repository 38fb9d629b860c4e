"""Extension operator queries (SURVEY.md §2.K): the LLM-training-data
pipeline surface over ``documents`` / ``embeddings``. Each query binds
an operator from operators/{dedup,similarity,text,multimodal} to the
testdata; oracles reproduce the identical pipeline in DuckDB SQL
(several are generated programmatically from the same constants so
the two sides cannot drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    attach_cache,
    exact_dedup as exact_dedup_op,
    near_dedup_minhash,
    shingle_set_col,
    simhash_fingerprint,
)
from ..operators.multimodal import (
    attach_binary_payload,
    extract_features,
    resize_payload,
    sample_frames,
)
from ..operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_pandas,
    embedding_near_dup as _embedding_near_dup_op,  # noqa: F401 (used via module)
    md5_planes,
    quantize_int8,
)
from ..operators.text import (
    LANG_MARKERS,
    TOKEN_PATTERN,
    lang_id,
    pii_scrub,
    quality_metrics,
    repetition_metrics,
    rolling_fingerprint,
    token_count,
)
from ._base import make_registry, table

QUERIES, ORACLES, register = make_registry()

# --------------------------------------------------------------------------
# K1: exact dedup
# --------------------------------------------------------------------------

@register(
    "exact_dedup",
    oracle="""
    SELECT doc_id, dedup_key, lang, n_chars FROM (
      SELECT doc_id, md5(concat(lang, '|', CAST(n_chars // 100 AS VARCHAR))) AS dedup_key,
             lang, n_chars,
             row_number() OVER (
               PARTITION BY md5(concat(lang, '|', CAST(n_chars // 100 AS VARCHAR)))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: hash-key dedup with explicit keep-policy (lowest doc_id).
    One shuffle on the md5 key — uniform regardless of content skew."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "dedup_key",
        F.md5(
            F.concat(
                F.col("lang"), F.lit("|"), (F.col("n_chars") / 100).cast("long").cast("string")
            )
        ),
    )
    return exact_dedup_op(docs, ["dedup_key"], "doc_id").select(
        "doc_id", "dedup_key", "lang", "n_chars"
    )


# --------------------------------------------------------------------------
# K2: near dedup — MinHash + LSH, SimHash, n-gram Jaccard
# --------------------------------------------------------------------------

_SETS_SQL = """
      SELECT doc_id,
             list_distinct(
               [substr(text, i, 8) for i in range(1, greatest(length(text) - 7, 1) + 1)]
             ) AS sh_set
      FROM documents
"""

_MINHASH_SQL = "SELECT doc_id, " + ", ".join(
    f"list_min(list_transform(sh_set, s -> substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8))) AS mh{i}"
    for i in range(8)
) + " FROM sets"

_BANDED_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, mh{2 * b} || '|' || mh{2 * b + 1} AS band_sig FROM mh"
    for b in range(4)
)

NEAR_DEDUP_ORACLE = f"""
    WITH sets AS ({_SETS_SQL}),
    mh AS ({_MINHASH_SQL}),
    banded AS ({_BANDED_SQL}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           len(list_intersect(sa.sh_set, sb.sh_set)) AS isect,
           len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)) AS uni
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.id_a
    JOIN sets sb ON sb.doc_id = p.id_b
    WHERE 100 * len(list_intersect(sa.sh_set, sb.sh_set))
          >= 50 * (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)))
"""


@register("near_dedup_minhash", oracle=NEAR_DEDUP_ORACLE)
def near_dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: shingle → MinHash(8) → LSH(4 bands × 2 rows) → candidate
    pairs → exact-Jaccard verify (integer |∩|/|∪|), threshold J≥0.5.
    The oracle reproduces the identical pipeline in SQL."""
    return near_dedup_minhash(
        table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_k=8,
        bands=4,
        rows_per_band=2,
        min_jaccard_pct=50,
    )


EDIT_DISTANCE_ORACLE = f"""
    WITH sets AS ({_SETS_SQL}),
    mh AS ({_MINHASH_SQL}),
    banded AS ({_BANDED_SQL}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT p.id_a, p.id_b,
             levenshtein(da.text, db.text) AS lev_dist,
             greatest(length(da.text), length(db.text)) AS max_len
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
      WHERE 100 * least(length(da.text), length(db.text))
            >= 70 * greatest(length(da.text), length(db.text))
    )
    SELECT id_a, id_b,
           CAST(lev_dist AS BIGINT) AS lev_dist,
           CAST(max_len AS BIGINT) AS max_len
    FROM scored
    WHERE 100 * (max_len - lev_dist) >= 70 * max_len
"""


@register("edit_distance_dedup", oracle=EDIT_DISTANCE_ORACLE)
def edit_distance_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 fuzzy dedup: LSH candidate screen, then EXACT character-level
    Levenshtein verify (operators.dedup.edit_distance_dedup) — catches
    the in-place-edit near-dups (typo farms, template fills) whose
    shifted shingles depress set-based Jaccard. Normalized edit
    similarity ≥ 70% as an integer comparison; the lossless length
    prefilter prunes pairs before any O(n·m) distance runs."""
    from ..operators.dedup import edit_distance_dedup

    return edit_distance_dedup(
        table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_k=8,
        bands=4,
        rows_per_band=2,
        min_sim_pct=70,
    )


CONTAINMENT_ORACLE = f"""
    WITH sets AS ({_SETS_SQL}),
    mh AS ({_MINHASH_SQL}),
    banded AS ({_BANDED_SQL}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           len(list_intersect(sa.sh_set, sb.sh_set)) AS isect,
           len(sa.sh_set) AS size_a,
           len(sb.sh_set) AS size_b,
           CAST(100 * len(list_intersect(sa.sh_set, sb.sh_set))
                // least(len(sa.sh_set), len(sb.sh_set)) AS BIGINT) AS containment_pct
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.id_a
    JOIN sets sb ON sb.doc_id = p.id_b
    WHERE 100 * len(list_intersect(sa.sh_set, sb.sh_set))
          >= 80 * least(len(sa.sh_set), len(sb.sh_set))
"""


@register("containment_dedup", oracle=CONTAINMENT_ORACLE)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 asymmetric near-dup: CONTAINMENT |∩|/min(|A|,|B|) ≥ 0.8 over
    the LSH candidate set — the measure that catches a short document
    quoted verbatim inside a long one, where symmetric Jaccard
    |∩|/|∪| stays tiny and the J≥0.5 pipeline never fires. (Candidate
    generation is still symmetric MinHash LSH: a standard, documented
    recall limitation — full containment recall needs an inverted
    shingle index like operators.substring; this query is the cheap
    screen over the pairs LSH already surfaces.) Exact-integer
    containment_pct floor-division, hash-checked."""
    from ..operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set_col,
    )

    docs = table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism
    base = docs.select("doc_id", "text").repartition(n_parts, "doc_id")
    with_sets = base.select(
        F.col("doc_id"), shingle_set_col("text", k=8).alias("sh_set")
    ).persist()
    sigs = minhash_signatures(with_sets, "doc_id", num_hashes=8)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2)
    verified = jaccard_verify(pairs, with_sets, "doc_id", emit_sizes=True)
    out = (
        verified.filter(
            100 * F.col("isect") >= 80 * F.least("size_a", "size_b")
        )
        .select(
            "id_a",
            "id_b",
            "isect",
            "size_a",
            "size_b",
            F.floor(
                (100 * F.col("isect")) / F.least("size_a", "size_b")
            ).cast("long").alias("containment_pct"),
        )
    )
    return attach_cache(
        out, with_sets, *getattr(verified, "_spark_graft_cached", ())
    )


_SETS16_SQL = """
      SELECT doc_id,
             list_distinct(
               [substr(text, i, 16) for i in range(1, greatest(length(text) - 15, 1) + 1)]
             ) AS sh_set
      FROM documents
"""

CONTAINMENT_FULL_ORACLE = f"""
    WITH sets AS ({_SETS16_SQL}),
    sh AS (SELECT doc_id, unnest(sh_set) AS shingle FROM sets),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             row_number() OVER (
               PARTITION BY s.doc_id ORDER BY d.df, md5(s.shingle)
             ) AS rn,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d USING (shingle)
    ),
    prefix AS (
      SELECT doc_id, shingle FROM ranked
      WHERE rn <= sz - ((80 * sz + 99) // 100) + 1
    ),
    cand AS (
      SELECT DISTINCT least(p.doc_id, f.doc_id) AS id_a,
                      greatest(p.doc_id, f.doc_id) AS id_b
      FROM prefix p JOIN sh f USING (shingle)
      WHERE p.doc_id <> f.doc_id
    )
    SELECT c.id_a, c.id_b,
           len(list_intersect(sa.sh_set, sb.sh_set)) AS isect,
           len(sa.sh_set) AS size_a,
           len(sb.sh_set) AS size_b,
           CAST(100 * len(list_intersect(sa.sh_set, sb.sh_set))
                // least(len(sa.sh_set), len(sb.sh_set)) AS BIGINT) AS containment_pct
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.id_a
    JOIN sets sb ON sb.doc_id = c.id_b
    WHERE 100 * len(list_intersect(sa.sh_set, sb.sh_set))
          >= 80 * least(len(sa.sh_set), len(sb.sh_set))
"""


@register("containment_dedup_full", oracle=CONTAINMENT_FULL_ORACLE)
def containment_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 asymmetric near-dup with FULL RECALL: the prefix-filter
    inverted index (``operators.dedup.containment_candidate_pairs``)
    closes the documented recall limitation of ``containment_dedup``
    — symmetric MinHash LSH only *probabilistically* surfaces a short
    document quoted inside a long one, while the rarest-shingle
    prefix probe is guaranteed to collide for every pair with
    containment ≥ 0.8. Shingle grain is k=16 chars (≈ a three-word
    phrase — the span length at which quotes are distinctive): on a
    templated small-vocabulary corpus k=8 grams are shared so widely
    that "rarest" loses meaning and the exact candidate set
    approaches all-pairs (measured 5.57M of 12.5M possible at sf0.1
    vs 1,351 at k=16 — same guarantee, 4000× fewer verifies). Exact
    integer arithmetic; same verify/output contract as
    ``containment_dedup``."""
    from ..operators.dedup import (
        containment_candidate_pairs,
        jaccard_verify,
        shingle_set_col,
    )

    docs = table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism
    base = docs.select("doc_id", "text").repartition(n_parts, "doc_id")
    with_sets = base.select(
        F.col("doc_id"), shingle_set_col("text", k=16).alias("sh_set")
    ).persist()
    pairs = containment_candidate_pairs(with_sets, "doc_id", threshold_pct=80)
    verified = jaccard_verify(pairs, with_sets, "doc_id", emit_sizes=True)
    out = (
        verified.filter(100 * F.col("isect") >= 80 * F.least("size_a", "size_b"))
        .select(
            "id_a",
            "id_b",
            "isect",
            "size_a",
            "size_b",
            F.floor((100 * F.col("isect")) / F.least("size_a", "size_b"))
            .cast("long")
            .alias("containment_pct"),
        )
    )
    return attach_cache(
        out, with_sets, *getattr(verified, "_spark_graft_cached", ())
    )


NGRAM_DIVERSITY_ORACLE = r"""
    WITH toks AS (
      SELECT source, lang,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
      FROM documents
    ),
    grams AS (
      SELECT source, lang,
             unnest(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
             )) AS g
      FROM toks
    )
    SELECT source, lang,
           count(*) AS total_grams,
           count(DISTINCT g) AS distinct_grams,
           CAST(100 * count(DISTINCT g) // count(*) AS BIGINT) AS diversity_pct
    FROM grams GROUP BY source, lang
"""


@register("ngram_diversity", oracle=NGRAM_DIVERSITY_ORACLE)
def ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 corpus diversity: token-trigram type/token ratio per
    (source, lang) — the cheap self-repetition signal used to screen
    template farms and decode loops out of training mixes (a corpus
    slice whose distinct-trigram share collapses is boilerplate).
    Tokens are the proven cross-engine BPE-ish pre-tokenizer
    (``TOKEN_PATTERN``); trigram generation is a narrow array
    expression (no per-token explode before the ONE aggregation
    shuffle), distinct counting is Spark's two-phase partial-agg
    count-distinct. Integer percent floor — hash-exact vs DuckDB."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "lang",
        F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), 0).alias("t"),
    )
    grams = toks.select(
        "source",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 3 THEN array() ELSE "
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', t[i - 1], t[i], t[i + 1])) END"
            )
        ).alias("g"),
    )
    return grams.groupBy("source", "lang").agg(
        F.count("*").alias("total_grams"),
        F.countDistinct("g").alias("distinct_grams"),
        F.expr("CAST(100 * count(DISTINCT g) DIV count(*) AS BIGINT)").alias(
            "diversity_pct"
        ),
    )


def _bpe_oracle(n_merges: int = 4, emit: str = "merges") -> str:
    """DuckDB twin of ``operators.bpe.bpe_train_merges``: the merge
    iterations are unrolled as generated CTEs from the same constant
    (the playbook proven by the k-means/IVF oracles), and the greedy
    left-to-right merge application is expressed relationally — a
    position merges iff its pair matches AND the previous position
    did not merge, i.e. the odd-ranked members of each run of
    consecutive matches (equivalent to the engine's fold)."""
    parts = [
        """vocab0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             [substr(word, i, 1) for i in range(1, length(word) + 1)] AS segs
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
      GROUP BY word
    )"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"vocab{k - 1}"
        parts.append(
            f"""pc{k} AS (
      SELECT u.l AS l, u.r AS r, CAST(sum(cnt) AS BIGINT) AS pair_cnt
      FROM (SELECT cnt,
                   unnest([{{'l': segs[i], 'r': segs[i + 1]}}
                           for i in range(1, len(segs))]) AS u
            FROM {prev})
      GROUP BY u.l, u.r
    ),
    best{k} AS (
      SELECT l, r, pair_cnt FROM pc{k} ORDER BY pair_cnt DESC, l, r LIMIT 1
    )"""
        )
        if k < n_merges or emit == "tokenize":
            parts.append(
                f"""pos{k} AS (
      SELECT word, cnt, u.i AS i, u.tok AS tok
      FROM (SELECT word, cnt,
                   unnest([{{'i': i, 'tok': segs[i]}}
                           for i in range(1, len(segs) + 1)]) AS u
            FROM {prev})
    ),
    match{k} AS (
      SELECT word, i, row_number() OVER (PARTITION BY word ORDER BY i) AS mrn
      FROM (SELECT p.word, p.i, p.tok,
                   lead(p.tok) OVER (PARTITION BY p.word ORDER BY p.i) AS nxt
            FROM pos{k} p) m
      CROSS JOIN best{k} b
      WHERE m.tok = b.l AND m.nxt = b.r
    ),
    merged{k} AS (
      SELECT word, i FROM (
        SELECT word, i,
               row_number() OVER (PARTITION BY word, i - mrn ORDER BY i) AS rpos
        FROM match{k}
      ) WHERE rpos % 2 = 1
    ),
    vocab{k} AS (
      SELECT p.word, p.cnt,
             list(CASE WHEN g.i IS NOT NULL THEN b.l || b.r ELSE p.tok END
                  ORDER BY p.i) AS segs
      FROM pos{k} p
      CROSS JOIN best{k} b
      LEFT JOIN merged{k} g ON p.word = g.word AND p.i = g.i
      LEFT JOIN merged{k} g2 ON p.word = g2.word AND p.i = g2.i + 1
      WHERE g2.i IS NULL
      GROUP BY p.word, p.cnt
    )"""
            )
    if emit == "tokenize":
        sel = f"""SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.segs)) AS BIGINT) AS n_subword_tokens
    FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents) w
    JOIN vocab{n_merges} v USING (word)
    GROUP BY w.doc_id"""
    else:
        sel = "\n    UNION ALL\n    ".join(
            f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS l_tok, r AS r_tok,"
            f" pair_cnt FROM best{k}"
            for k in range(1, n_merges + 1)
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


@register("bpe_train_merges", oracle=_bpe_oracle(4))
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: BPE tokenizer TRAINING in-engine — the top-4 byte-pair
    merges over the corpus word vocabulary (frequency-weighted,
    lexicographic tie-break). The corpus is touched exactly once (the
    word-count aggregation); every iteration then runs over the
    distinct-word vocabulary (Heaps'-law small), pulls one argmax row
    to the driver, and re-segments with a narrow fold — the shape
    that trains a real tokenizer on 100 TB without a corpus-sized
    shuffle per merge."""
    from ..operators.bpe import bpe_train_merges

    return bpe_train_merges(table(spark, sf_dir, "documents"), "text", n_merges=4)


@register("bpe_tokenize", oracle=_bpe_oracle(4, emit="tokenize"))
def bpe_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: the APPLY half of the BPE loop — per-document word and
    subword-token counts under the 4-merge tokenizer trained on the
    same corpus (the sequence-packing / context-budget number). The
    trained word→subword-count vocabulary broadcasts over one join
    against the exploded corpus words; the oracle replays training
    AND application by extending the unrolled-iteration CTEs to the
    final vocabulary."""
    from ..operators.bpe import bpe_tokenize

    return bpe_tokenize(table(spark, sf_dir, "documents"), "doc_id", "text", 4)


def _simhash_oracle() -> str:
    votes = []
    i = 0
    for j in range(8):  # hex chars 1..8
        digit = f"(strpos('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1)"
        for k in (3, 2, 1, 0):
            bit = f"(CAST(floor({digit} / {2 ** k}) AS BIGINT) % 2)"
            votes.append(f"sum({bit} * 2 - 1) AS v{i}")
            i += 1
    fp = " || ".join(f"(CASE WHEN v{i} > 0 THEN '1' ELSE '0' END)" for i in range(32))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS tok
      FROM documents
    ),
    votes AS (SELECT doc_id, {', '.join(votes)} FROM toks GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM votes
    """


@register("simhash_fingerprint", oracle=_simhash_oracle())
def simhash_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: 32-bit SimHash per document — token md5 → ±1 votes per bit
    → sign. Bit extraction is hex-digit arithmetic (portable, no bit
    ops); one explode + one partial-aggregatable groupBy."""
    return simhash_fingerprint(
        table(spark, sf_dir, "documents"), "doc_id", "text", num_bits=32
    )


def _simhash_near_dup_oracle() -> str:
    base = _simhash_oracle().strip()
    # bands: 4 x 8-bit substrings; cap each band bucket at the 64
    # lowest doc ids (exact twin of cap_bucket_side's ranking)
    return f"""
    WITH fp AS ({base}),
    banded AS (
      SELECT doc_id, b.band_id,
             substr(simhash, b.band_id * 8 + 1, 8) AS band_sig
      FROM fp, (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    capped AS (
      SELECT doc_id, band_id, band_sig FROM (
        SELECT *, row_number() OVER (
          PARTITION BY band_id, band_sig ORDER BY doc_id) AS rn
        FROM banded
      ) WHERE rn <= 64
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           CAST((CASE WHEN substr(fa.simhash, 1, 1) <> substr(fb.simhash, 1, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 2, 1) <> substr(fb.simhash, 2, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 3, 1) <> substr(fb.simhash, 3, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 4, 1) <> substr(fb.simhash, 4, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 5, 1) <> substr(fb.simhash, 5, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 6, 1) <> substr(fb.simhash, 6, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 7, 1) <> substr(fb.simhash, 7, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 8, 1) <> substr(fb.simhash, 8, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 9, 1) <> substr(fb.simhash, 9, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 10, 1) <> substr(fb.simhash, 10, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 11, 1) <> substr(fb.simhash, 11, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 12, 1) <> substr(fb.simhash, 12, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 13, 1) <> substr(fb.simhash, 13, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 14, 1) <> substr(fb.simhash, 14, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 15, 1) <> substr(fb.simhash, 15, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 16, 1) <> substr(fb.simhash, 16, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 17, 1) <> substr(fb.simhash, 17, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 18, 1) <> substr(fb.simhash, 18, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 19, 1) <> substr(fb.simhash, 19, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 20, 1) <> substr(fb.simhash, 20, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 21, 1) <> substr(fb.simhash, 21, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 22, 1) <> substr(fb.simhash, 22, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 23, 1) <> substr(fb.simhash, 23, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 24, 1) <> substr(fb.simhash, 24, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 25, 1) <> substr(fb.simhash, 25, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 26, 1) <> substr(fb.simhash, 26, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 27, 1) <> substr(fb.simhash, 27, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 28, 1) <> substr(fb.simhash, 28, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 29, 1) <> substr(fb.simhash, 29, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 30, 1) <> substr(fb.simhash, 30, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 31, 1) <> substr(fb.simhash, 31, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 32, 1) <> substr(fb.simhash, 32, 1) THEN 1 ELSE 0 END) AS BIGINT) AS hamming
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.id_a
    JOIN fp fb ON fb.doc_id = p.id_b
    WHERE (CASE WHEN substr(fa.simhash, 1, 1) <> substr(fb.simhash, 1, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 2, 1) <> substr(fb.simhash, 2, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 3, 1) <> substr(fb.simhash, 3, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 4, 1) <> substr(fb.simhash, 4, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 5, 1) <> substr(fb.simhash, 5, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 6, 1) <> substr(fb.simhash, 6, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 7, 1) <> substr(fb.simhash, 7, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 8, 1) <> substr(fb.simhash, 8, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 9, 1) <> substr(fb.simhash, 9, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 10, 1) <> substr(fb.simhash, 10, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 11, 1) <> substr(fb.simhash, 11, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 12, 1) <> substr(fb.simhash, 12, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 13, 1) <> substr(fb.simhash, 13, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 14, 1) <> substr(fb.simhash, 14, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 15, 1) <> substr(fb.simhash, 15, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 16, 1) <> substr(fb.simhash, 16, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 17, 1) <> substr(fb.simhash, 17, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 18, 1) <> substr(fb.simhash, 18, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 19, 1) <> substr(fb.simhash, 19, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 20, 1) <> substr(fb.simhash, 20, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 21, 1) <> substr(fb.simhash, 21, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 22, 1) <> substr(fb.simhash, 22, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 23, 1) <> substr(fb.simhash, 23, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 24, 1) <> substr(fb.simhash, 24, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 25, 1) <> substr(fb.simhash, 25, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 26, 1) <> substr(fb.simhash, 26, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 27, 1) <> substr(fb.simhash, 27, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 28, 1) <> substr(fb.simhash, 28, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 29, 1) <> substr(fb.simhash, 29, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 30, 1) <> substr(fb.simhash, 30, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 31, 1) <> substr(fb.simhash, 31, 1) THEN 1 ELSE 0 END) + (CASE WHEN substr(fa.simhash, 32, 1) <> substr(fb.simhash, 32, 1) THEN 1 ELSE 0 END) <= 3
    """


@register("simhash_near_dup", oracle=_simhash_near_dup_oracle())
def simhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: SimHash near-dup pairs — the Hamming-space dedup member
    (MinHash: Jaccard; winnowing: verbatim overlap; this: Charikar's
    weighted-token similarity). Pigeonhole recall is exact: Hamming
    <= 3 over 32 bits in 4 bands means at least one band matches, so
    the band-bucket self-join (capped per bucket, overflow reported)
    surfaces every qualifying pair; a 32-term per-position comparison
    sum verifies exactly — all JVM expressions, no UDF."""
    from ..operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, num_bits=32, bands=4, max_bucket_size=64,
    )


@register(
    "ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents WHERE doc_id % 20 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    isect AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isect
      FROM toks a JOIN toks b
        ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b, i.isect, na.n + nb.n - i.isect AS uni
    FROM isect i
    JOIN sizes na ON na.doc_id = i.id_a
    JOIN sizes nb ON nb.doc_id = i.id_b
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: exact token-set Jaccard for a sampled pair set (same-lang
    pairs of every 20th doc), as integers. The all-pairs shape LSH
    avoids — kept for verification and small candidate sets."""
    toks = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
                )
            ).alias("tok"),
        )
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("isect"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select("id_a", "id_b", "isect", (F.col("n_a") + F.col("n_b") - F.col("isect")).alias("uni"))
    )


# --------------------------------------------------------------------------
# K3: similarity search
# --------------------------------------------------------------------------

SIM_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n
      FROM expanded GROUP BY vec_id
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(round(q.v * c.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM expanded q JOIN expanded c ON q.idx = c.idx
      WHERE q.vec_id < 5
      GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
      SELECT d.query_id, d.neighbor_id, d.dot_scaled,
             row_number() OVER (
               PARTITION BY d.query_id
               ORDER BY d.dot_scaled / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                        d.neighbor_id
             ) AS rank
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank,
           CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM ranked WHERE rank <= 5
"""


@register("similarity_topk", oracle=SIM_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: exact brute-force cosine top-5 for 5 query vectors —
    scaled-integer dot products (order-independent, engine-exact),
    broadcast queries, corpus never shuffles."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", vec_col="embedding", k=5
    )


IVF_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n
      FROM expanded GROUP BY vec_id
    ),
    cdots AS (
      SELECT e.vec_id, c.vec_id AS cid,
             SUM(CAST(round(e.v * c.v * 1e8) AS BIGINT)) AS dot
      FROM expanded e JOIN expanded c ON e.idx = c.idx
      WHERE c.vec_id < 8
      GROUP BY e.vec_id, c.vec_id
    ),
    assigned AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY d.dot / sqrt(CAST(nv.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                          d.cid
               ) AS rn
        FROM cdots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN norms nc ON nc.vec_id = d.cid
      ) WHERE rn = 1
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(round(q.v * c.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM expanded q JOIN expanded c ON q.idx = c.idx
      WHERE q.vec_id >= 100 AND q.vec_id < 105
      GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
      SELECT d.query_id, d.neighbor_id, d.dot_scaled,
             row_number() OVER (
               PARTITION BY d.query_id
               ORDER BY d.dot_scaled / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                        d.neighbor_id
             ) AS rank
      FROM dots d
      JOIN assigned aq ON aq.vec_id = d.query_id
      JOIN assigned ac ON ac.vec_id = d.neighbor_id AND ac.bucket = aq.bucket
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank,
           CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM ranked WHERE rank <= 5
"""


@register("similarity_ivf", oracle=IVF_ORACLE)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path #2 — IVF: corpus and queries assigned to their
    nearest centroid (centroids = vectors 0-7 here; k-means in
    production), search joins only within cells. Assignment uses the
    same scaled-integer cosine as ranking, so the oracle reproduces
    cell membership exactly."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb,
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)),
        centroids=emb.filter(F.col("vec_id") < 8),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    )


IVF_MULTIPROBE_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n
      FROM expanded GROUP BY vec_id
    ),
    cdots AS (
      SELECT e.vec_id, c.vec_id AS cid,
             SUM(CAST(round(e.v * c.v * 1e8) AS BIGINT)) AS dot
      FROM expanded e JOIN expanded c ON e.idx = c.idx
      WHERE c.vec_id < 8
      GROUP BY e.vec_id, c.vec_id
    ),
    cranked AS (
      SELECT d.vec_id, d.cid,
             row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY d.dot / sqrt(CAST(nv.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                        d.cid
             ) AS rn
      FROM cdots d
      JOIN norms nv ON nv.vec_id = d.vec_id
      JOIN norms nc ON nc.vec_id = d.cid
    ),
    assigned AS (SELECT vec_id, cid AS bucket FROM cranked WHERE rn = 1),
    probed AS (SELECT vec_id, cid AS bucket FROM cranked WHERE rn <= 2),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(round(q.v * c.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM expanded q JOIN expanded c ON q.idx = c.idx
      WHERE q.vec_id >= 100 AND q.vec_id < 105
      GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
      SELECT d.query_id, d.neighbor_id, d.dot_scaled,
             row_number() OVER (
               PARTITION BY d.query_id
               ORDER BY d.dot_scaled / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                        d.neighbor_id
             ) AS rank
      FROM dots d
      JOIN probed aq ON aq.vec_id = d.query_id
      JOIN assigned ac ON ac.vec_id = d.neighbor_id AND ac.bucket = aq.bucket
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank,
           CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM ranked WHERE rank <= 5
"""


@register("similarity_ivf_multiprobe", oracle=IVF_MULTIPROBE_ORACLE)
def similarity_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: IVF with n_probe=2 — each query searches its two nearest
    cells (the standard recall knob; cost O(n_probe · cell)). The
    oracle reproduces the probed-cell membership exactly, so this is
    hash-checked, not recall-sampled."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb,
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)),
        centroids=emb.filter(F.col("vec_id") < 8),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_probe=2,
    )


PQ_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    bdists AS (
      SELECT e.vec_id, CAST((e.idx - 1) // 16 AS INT) AS block, c.vec_id AS cid,
             SUM(CAST(round((e.v - c.v) * (e.v - c.v) * 1e8) AS BIGINT)) AS dist
      FROM expanded e JOIN expanded c ON e.idx = c.idx
      WHERE c.vec_id < 8
      GROUP BY e.vec_id, block, c.vec_id
    ),
    best AS (
      SELECT vec_id, block, cid, dist,
             row_number() OVER (PARTITION BY vec_id, block ORDER BY dist, cid) AS rn
      FROM bdists
    )
    SELECT vec_id,
           array_to_string(list(CAST(cid AS INT) ORDER BY block), ',') AS codes,
           CAST(SUM(dist) AS BIGINT) AS dist_scaled
    FROM best WHERE rn = 1
    GROUP BY vec_id
"""


@register("pq_encode", oracle=PQ_ORACLE)
def pq_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 compression: product quantization — 4 blocks × 16 dims, 8
    codewords (sub-vectors of vecs 0–7; k-means codebooks in
    production), scaled-int L2 argmin per block
    (operators.similarity.pq_encode). Codes + total distortion are
    exact integers, hash-checked. The engine operator emits ``codes``
    as array<int>; the evidence query serializes it to a CSV string
    because the driver harness canonicalizes through pandas, where
    list-typed columns are unsortable/unhashable (CORRECTNESS_r04
    err)."""
    from ..operators.similarity import pq_encode

    emb = table(spark, sf_dir, "embeddings")
    return pq_encode(
        emb, codebook=emb.filter(F.col("vec_id") < 8), id_col="vec_id",
        vec_col="embedding", m=4,
    ).withColumn("codes", F.concat_ws(",", F.col("codes").cast("array<string>")))


PQ_ADC_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    bdists AS (
      SELECT e.vec_id, CAST((e.idx - 1) // 16 AS INT) AS block, c.vec_id AS cid,
             SUM(CAST(round((e.v - c.v) * (e.v - c.v) * 1e8) AS BIGINT)) AS dist
      FROM expanded e JOIN expanded c ON e.idx = c.idx
      WHERE c.vec_id < 8
      GROUP BY e.vec_id, block, c.vec_id
    ),
    codes AS (
      SELECT vec_id, block, cid FROM (
        SELECT vec_id, block, cid,
               row_number() OVER (PARTITION BY vec_id, block ORDER BY dist, cid) AS rn
        FROM bdists
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT l.vec_id AS query_id, k.vec_id AS neighbor_id,
             SUM(l.dist) AS adc_scaled
      FROM codes k
      JOIN bdists l ON l.block = k.block AND l.cid = k.cid
      WHERE l.vec_id >= 100 AND l.vec_id < 105
      GROUP BY l.vec_id, k.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(adc_scaled AS BIGINT) AS adc_scaled,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_scaled, neighbor_id
             ) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, rank, adc_scaled
    FROM ranked WHERE rank <= 5
"""


@register("similarity_pq_adc", oracle=PQ_ADC_ORACLE)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 quantized search: PQ Asymmetric Distance Computation — the
    search half of the ``pq_encode`` pair (operators.similarity
    .pq_adc_topk). The corpus is first PQ-coded (4 blocks × 16 dims,
    codebook = sub-vectors of vecs 0-7), then queries 100-104 rank the
    whole corpus by LUT-summed approximate L2 touching only the m=4
    small ints per corpus vector. Scaled-int LUTs make the ADC sums
    exact, so ranks hash-match the oracle (which reuses ``bdists`` —
    the query-side LUT rows are exactly the query's per-block
    codeword distances)."""
    from ..operators.similarity import pq_adc_topk, pq_encode

    emb = table(spark, sf_dir, "embeddings")
    codebook = emb.filter(F.col("vec_id") < 8)
    # r11: one bounded codebook collect shared by encode + ADC
    # (each operator otherwise runs its own collect job)
    cw = sorted(
        (r[0], list(r[1]))
        for r in codebook.select("vec_id", "embedding").collect()
    )
    codes = pq_encode(emb, codebook=codebook, id_col="vec_id",
                      vec_col="embedding", m=4, codewords=cw)
    return pq_adc_topk(
        codes,
        queries=emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)),
        codebook=codebook,
        k=5,
        m=4,
        codewords=cw,
    )


TEXT_CLEAN_ORACLE = """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(
             nfc_normalize(text || ' cafe' || chr(769) || chr(9) || chr(1)),
             '[\\x00-\\x1f]', '', 'g'), '\\s+', ' ', 'g'))) AS clean_hash,
           CAST(length(trim(regexp_replace(regexp_replace(
             nfc_normalize(text || ' cafe' || chr(769) || chr(9) || chr(1)),
             '[\\x00-\\x1f]', '', 'g'), '\\s+', ' ', 'g'))) AS BIGINT) AS clean_len
    FROM documents
"""


@register("text_clean", oracle=TEXT_CLEAN_ORACLE)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 text normalization: Unicode NFC composition (an Arrow
    SCALAR pandas_udf over Python's unicodedata — Spark has no NFC
    builtin; the vectorized batch path, never per-row), control-char
    strip and whitespace collapse (JVM regexp). The appended
    decomposed suffix (e + combining acute, a tab, a control byte)
    makes the check REAL: clean_hash only matches DuckDB's
    nfc_normalize if composition actually ran — on pure-ASCII corpus
    text NFC would be untestable."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations: this module runs under PEP 563 (string
    # annotations), which pandas_udf cannot resolve — same isolation
    # trick as operators.udfs
    @pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)

    docs = table(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(" cafe\u0301\t\x01"))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc(dirty), "[\\x00-\\x1f]", ""), "\\s+", " "
        )
    )
    return docs.select(
        "doc_id",
        F.md5(F.encode(cleaned, "utf-8")).alias("clean_hash"),
        F.length(cleaned).cast("long").alias("clean_len"),
    )


BIGRAM_LM_ORACLE = """
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS fil
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest([fil[i] || ' ' || fil[i + 1] for i in range(1, len(fil))]) AS bigram
      FROM arrs WHERE len(fil) >= 2
    ),
    c12 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bigram),
    uni AS (
      SELECT t AS term, CAST(count(*) AS BIGINT) AS c1 FROM (
        SELECT unnest(fil) AS t FROM arrs
      ) GROUP BY t
    ),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM uni),
    scored AS (
      SELECT b.doc_id,
             CAST(round(ln((CAST(c12.c AS DOUBLE) + 1.0)
                           / (CAST(u.c1 AS DOUBLE) + CAST(v.vsize AS DOUBLE)))
                        * 1000000000.0) AS BIGINT) AS nano
      FROM bg b
      JOIN c12 ON c12.bigram = b.bigram
      JOIN uni u ON u.term = split_part(b.bigram, ' ', 1)
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nano) AS BIGINT) AS sum_nano,
           (CAST(SUM(nano) AS DOUBLE) / 1000000000.0) / CAST(count(*) AS DOUBLE)
             AS avg_logprob
    FROM scored GROUP BY doc_id
"""


@register("bigram_lm_quality", oracle=BIGRAM_LM_ORACLE)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 quality scoring, one order up from the unigram proxy: mean
    ADD-ONE-SMOOTHED bigram log-probability ln((c12+1)/(c1+V)) under
    the corpus's own bigram model — catches shuffled-word salad that
    unigram frequency scores as fluent. Same determinism recipe as
    unigram_logprob_quality (per-token ln quantized to nano BIGINTs,
    order-free sums, one identical final division). Plan shape: one
    narrow bigram construction (zip_with over the filtered token
    array — no posexplode/self-join), two partial-agg'd count
    relations, two term-keyed joins, one per-doc aggregation."""
    docs = table(spark, sf_dir, "documents")
    fil = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    arrs = docs.select("doc_id", fil.alias("fil")).filter(F.size("fil") >= 2)
    bigrams = arrs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("fil"), 1, F.size("fil") - 1),
                F.slice(F.col("fil"), 2, F.size("fil") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    c12 = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    uni = (
        arrs.select(F.explode("fil").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("vsize"))
    nano = F.round(
        F.log(
            (F.col("c").cast("double") + 1.0)
            / (F.col("c1").cast("double") + F.col("vsize").cast("double"))
        )
        * 1000000000.0
    ).cast("long")
    scored = (
        bigrams.join(c12, "bigram")
        .join(uni, F.split(F.col("bigram"), " ").getItem(0) == F.col("term"))
        .crossJoin(F.broadcast(v))
        .select("doc_id", nano.alias("nano"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("nano").alias("sum_nano"),
        (
            (F.sum("nano").cast("double") / 1000000000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_logprob"),
    )


IVFPQ_ORACLE = """
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n
      FROM expanded GROUP BY vec_id
    ),
    cdots AS (
      SELECT e.vec_id, c.vec_id AS cid,
             SUM(CAST(round(e.v * c.v * 1e8) AS BIGINT)) AS dot
      FROM expanded e JOIN expanded c ON e.idx = c.idx
      WHERE c.vec_id < 8
      GROUP BY e.vec_id, c.vec_id
    ),
    assigned AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY d.dot / sqrt(CAST(nv.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                          d.cid
               ) AS rn
        FROM cdots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN norms nc ON nc.vec_id = d.cid
      ) WHERE rn = 1
    ),
    resid AS (
      SELECT e.vec_id, a.bucket, e.idx, e.v - ce.v AS rv
      FROM expanded e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN expanded ce ON ce.vec_id = a.bucket AND ce.idx = e.idx
    ),
    bdists AS (
      SELECT r.vec_id, CAST((r.idx - 1) // 16 AS INT) AS block, c.vec_id AS cid,
             SUM(CAST(round((r.rv - c.rv) * (r.rv - c.rv) * 1e8) AS BIGINT)) AS dist
      FROM resid r JOIN resid c ON c.idx = r.idx
      WHERE c.vec_id >= 8 AND c.vec_id < 16
      GROUP BY r.vec_id, block, c.vec_id
    ),
    codes AS (
      SELECT vec_id, block, cid FROM (
        SELECT vec_id, block, cid,
               row_number() OVER (PARTITION BY vec_id, block ORDER BY dist, cid) AS rn
        FROM bdists
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT l.vec_id AS query_id, k.vec_id AS neighbor_id,
             SUM(l.dist) AS adc_scaled
      FROM codes k
      JOIN bdists l ON l.block = k.block AND l.cid = k.cid
      JOIN assigned aq ON aq.vec_id = l.vec_id
      JOIN assigned ac ON ac.vec_id = k.vec_id AND ac.bucket = aq.bucket
      WHERE l.vec_id >= 100 AND l.vec_id < 105
      GROUP BY l.vec_id, k.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(adc_scaled AS BIGINT) AS adc_scaled,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_scaled, neighbor_id
             ) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, rank, adc_scaled
    FROM ranked WHERE rank <= 5
"""


@register("similarity_ivfpq", oracle=IVFPQ_ORACLE)
def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 flagship composition — IVF-PQ, the billion-vector index
    end-to-end: corpus vectors are assigned to their nearest centroid
    cell (narrow argmax, one row per vector), RESIDUALS against the
    cell centroid are product-quantized to m=4 code ints, and each
    query searches by ADC restricted to ITS OWN probed cell — the
    corpus side of the search join is one bucket, never the relation
    (group_col in pq_adc_topk). Residual coding is what lets a shared
    codebook serve every cell (Jégou et al. 2011); every distance is
    scaled-int exact so the composed pipeline still hash-matches the
    oracle, which replays assignment, residuals, codes and the
    per-cell ADC relationally."""
    from ..operators.similarity import assign_centroid, pq_adc_topk, pq_encode

    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    crows = sorted(
        (r[0], list(r[1])) for r in cents.select("vec_id", "embedding").collect()
    )
    cmat = F.map_from_arrays(
        F.array(*[F.lit(cid) for cid, _v in crows]),
        F.array(
            *[F.array(*[F.lit(float(x)) for x in v]) for _cid, v in crows]
        ),
    )
    assigned = assign_centroid(emb, cents)
    res = assigned.select(
        "vec_id",
        "bucket",
        F.zip_with(
            F.col("embedding"),
            F.element_at(cmat, F.col("bucket")),
            lambda a, b: a.cast("double") - b,
        ).alias("res"),
    )
    codebook = res.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        "vec_id", "res"
    )
    # r11: the residual codebook derives from the centroid-assignment
    # subtree — collect its 8 rows ONCE and share between encode and
    # ADC instead of re-running that subtree per operator collect
    cw = sorted(
        (r[0], list(r[1]))
        for r in codebook.select("vec_id", "res").collect()
    )
    codes = pq_encode(
        res, codebook, vec_col="res", codebook_vec_col="res", m=4,
        keep_cols=["bucket"], codewords=cw,
    )
    queries_res = res.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    return pq_adc_topk(
        codes, queries_res, codebook, k=5, m=4,
        vec_col="res", codebook_vec_col="res", group_col="bucket",
        codewords=cw,
    )


EMB_DRIFT_ORACLE = """
    WITH expanded AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    slice_sums AS (
      SELECT label, idx,
             SUM(CAST(round(v * 1e8) AS BIGINT)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM expanded GROUP BY label, idx
    ),
    corpus_sums AS (
      SELECT idx, SUM(s) AS s, SUM(n) AS n FROM slice_sums GROUP BY idx
    ),
    dots AS (
      SELECT l.label,
             SUM(CAST(round((CAST(l.s AS DOUBLE) / l.n) * (CAST(c.s AS DOUBLE) / c.n)) AS BIGINT)) AS dot,
             SUM(CAST(round((CAST(l.s AS DOUBLE) / l.n) * (CAST(l.s AS DOUBLE) / l.n)) AS BIGINT)) AS nl,
             SUM(CAST(round((CAST(c.s AS DOUBLE) / c.n) * (CAST(c.s AS DOUBLE) / c.n)) AS BIGINT)) AS nc,
             MAX(l.n) AS n_vectors
      FROM slice_sums l JOIN corpus_sums c ON c.idx = l.idx
      GROUP BY l.label
    )
    SELECT label,
           CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(round(CAST(dot AS DOUBLE) / sqrt(CAST(nl AS DOUBLE) * CAST(nc AS DOUBLE)) * 1e9) AS BIGINT)
             AS cos_to_corpus_nano
    FROM dots
"""


@register("embedding_drift", oracle=EMB_DRIFT_ORACLE)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (the vector twin of
    kl_domain_shift): cosine of each label slice's MEAN embedding to
    the corpus mean — a slice whose centroid swings away from the
    corpus signals distribution shift before any downstream metric
    moves. Determinism: per-dimension sums are scaled-int BIGINTs
    (order-free across 1000 executors); per-dim mean products are rounded to
    BIGINT before the (otherwise order-dependent) cross-dim sum, and
    the final cosine is one identical IEEE expression, nano-quantized.
    Plan: one explode → one (slice, dim) partial-agg'd aggregation →
    one dim-keyed rollup; nothing corpus-sized leaves the executors."""
    emb = table(spark, sf_dir, "embeddings")
    expanded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("idx0", "v"),
    ).select(
        "label",
        (F.col("idx0") + 1).alias("idx"),
        F.col("v").cast("double").alias("v"),
    )
    slice_sums = expanded.groupBy("label", "idx").agg(
        F.sum(F.round(F.col("v") * 1e8).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    corpus_sums = slice_sums.groupBy("idx").agg(
        F.sum("s").alias("cs"), F.sum("n").alias("cn")
    )
    lm = F.col("s").cast("double") / F.col("n")
    cm = F.col("cs").cast("double") / F.col("cn")
    dots = (
        slice_sums.join(F.broadcast(corpus_sums), "idx")
        .groupBy("label")
        .agg(
            # per-dim products rounded to BIGINT before summation —
            # a 64-term double sum is order-dependent across partial
            # aggregation; integer sums are not
            F.sum(F.round(lm * cm).cast("long")).alias("dot"),
            F.sum(F.round(lm * lm).cast("long")).alias("nl"),
            F.sum(F.round(cm * cm).cast("long")).alias("nc"),
            F.max("n").alias("n_vectors"),
        )
    )
    return dots.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(F.col("nl").cast("double") * F.col("nc").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("cos_to_corpus_nano"),
    )


@register(
    "multimodal_decode_tga",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    ), d AS (
      SELECT doc_id,
             blen % 17 + 1 AS w,
             blen % 7 + 1 AS h,
             blen % 256 AS fill
      FROM p
    ), s AS (
      SELECT doc_id, w, h, fill, 3 * w * h AS n FROM d
    )
    SELECT doc_id, 'tga' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           3 AS channels,
           CAST(((fill + n) // 256) * 32640
                + ((fill + n) % 256) * ((fill + n) % 256 - 1) // 2
                - fill * (fill - 1) // 2 AS BIGINT) AS pixel_sum
    FROM s
    """,
)
def multimodal_decode_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal TGA decode — the sixth real image codec:
    synthesize type-10 RLE TARGA files (real greedy run/raw packets,
    bottom-up BGR rows) and run operators.multimodal.decode_image
    over them in one Arrow mapInPandas pass. The (fill+i) % 256 ramp
    defeats trivial RLE (few runs survive), so pixel_sum only matches
    the closed-form ramp sum if packet walking, row-order flip and
    BGR normalization are all exact."""
    from ..operators.multimodal import decode_image, encode_tga

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("__blen__")
    )

    def synth_decode(it):
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "channels", "pixel_sum")}
            for doc_id, blen in zip(pdf["doc_id"], pdf["__blen__"]):
                blen = int(blen)
                w, h, fill = blen % 17 + 1, blen % 7 + 1, blen % 256
                px = bytes((fill + i) % 256 for i in range(3 * w * h))
                fmt, dw, dh, dch, pixels = decode_image(encode_tga(w, h, px))
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(dw)
                out["height"].append(dh)
                out["channels"].append(dch)
                out["pixel_sum"].append(sum(pixels))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_decode,
        schema="doc_id bigint, fmt string, width int, height int, "
               "channels int, pixel_sum bigint",
    )


NEAR_DUP_PLANES = 32
NEAR_DUP_BANDS = 4


@register("similarity_topk_pandas", oracle=SIM_ORACLE)
def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.J × K3: the brute-force cosine top-k with the scoring loop
    in an Arrow mapInPandas (numpy) instead of JVM array expressions
    — same oracle as similarity_topk, proving the Pandas-UDF escape
    hatch is bit-compatible with the expression path (half-away
    rounding to scaled ints before summation)."""
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(
        emb, emb.filter(F.col("vec_id") < 5), id_col="vec_id", vec_col="embedding", k=5
    )


def _lloyd_assign_sql(k: int, iters: int) -> str:
    """Shared WITH-prefix: Lloyd iterations unrolled as CTE blocks,
    ending in ``assignF`` (vec_id → trained bucket). Every arithmetic
    step mirrors the Spark side exactly — scaled-BIGINT dots for
    assignment (ties → lowest cid), per-(cluster, dim) BIGINT sums
    divided once (CAST(sum AS DOUBLE) / (1e8 * n)), empty clusters
    carrying the previous centroid — so trained centroids and cell
    membership are bit-identical. Consumers append their own CTEs."""
    blocks = [
        f"""
    expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n
      FROM expanded GROUP BY vec_id
    ),
    seeds AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM expanded ORDER BY vec_id LIMIT {k})
    ),
    c0 AS (
      SELECT s.cid, e.idx, e.v AS c
      FROM seeds s JOIN expanded e ON e.vec_id = s.vec_id
    )"""
    ]
    for t in range(iters):
        blocks.append(f"""
    cnorm{t} AS (
      SELECT cid, SUM(CAST(round(c * c * 1e8) AS BIGINT)) AS n
      FROM c{t} GROUP BY cid
    ),
    cdots{t} AS (
      SELECT e.vec_id, c.cid,
             SUM(CAST(round(e.v * c.c * 1e8) AS BIGINT)) AS dot
      FROM expanded e JOIN c{t} c ON e.idx = c.idx
      GROUP BY e.vec_id, c.cid
    ),
    assign{t} AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY d.dot / sqrt(CAST(nv.n AS DOUBLE) * CAST(cn.n AS DOUBLE)) DESC,
                          d.cid
               ) AS rn
        FROM cdots{t} d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN cnorm{t} cn ON cn.cid = d.cid
      ) WHERE rn = 1
    ),
    upd{t} AS (
      SELECT a.bucket AS cid, e.idx,
             CAST(CAST(SUM(CAST(round(e.v * 1e8) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (1e8 * COUNT(*)) AS c
      FROM assign{t} a JOIN expanded e ON e.vec_id = a.vec_id
      GROUP BY a.bucket, e.idx
    ),
    c{t + 1} AS (
      SELECT cid, idx, c FROM upd{t}
      UNION ALL
      SELECT p.cid, p.idx, p.c FROM c{t} p
      WHERE p.cid NOT IN (SELECT DISTINCT cid FROM upd{t})
    )""")
    assign_final = f"""
    cnormF AS (
      SELECT cid, SUM(CAST(round(c * c * 1e8) AS BIGINT)) AS n
      FROM c{iters} GROUP BY cid
    ),
    cdotsF AS (
      SELECT e.vec_id, c.cid,
             SUM(CAST(round(e.v * c.c * 1e8) AS BIGINT)) AS dot
      FROM expanded e JOIN c{iters} c ON e.idx = c.idx
      GROUP BY e.vec_id, c.cid
    ),
    assignF AS (
      SELECT vec_id, cid AS bucket FROM (
        SELECT d.vec_id, d.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY d.dot / sqrt(CAST(nv.n AS DOUBLE) * CAST(cn.n AS DOUBLE)) DESC,
                          d.cid
               ) AS rn
        FROM cdotsF d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN cnormF cn ON cn.cid = d.cid
      ) WHERE rn = 1
    )"""
    return "WITH " + ",".join(blocks) + "," + assign_final


def _kmeans_ivf_oracle(k: int = 8, iters: int = 2, q_lo: int = 100, q_hi: int = 105,
                       topk: int = 5) -> str:
    """SQL twin of kmeans_fit(iters) + cosine_topk_ivf: the shared
    Lloyd/assign prefix plus the within-cell exact search, so the
    final ranking is bit-identical to the Spark plan."""
    search = f"""
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             SUM(CAST(round(q.v * c.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM expanded q JOIN expanded c ON q.idx = c.idx
      WHERE q.vec_id >= {q_lo} AND q.vec_id < {q_hi}
      GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
      SELECT d.query_id, d.neighbor_id, d.dot_scaled,
             row_number() OVER (
               PARTITION BY d.query_id
               ORDER BY d.dot_scaled / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
                        d.neighbor_id
             ) AS rank
      FROM dots d
      JOIN assignF aq ON aq.vec_id = d.query_id
      JOIN assignF ac ON ac.vec_id = d.neighbor_id AND ac.bucket = aq.bucket
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank,
           CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM ranked WHERE rank <= {topk}
    """
    return _lloyd_assign_sql(k, iters) + "," + search


def _semantic_dedup_oracle(k: int = 8, iters: int = 2, tau: float = 0.38) -> str:
    """SQL twin of kmeans_fit + operators.similarity.semantic_dedup:
    shared Lloyd/assign prefix, then within-cluster pairwise exact
    cosine and the keep-lowest-id duplicate marking."""
    pairwise = f"""
    pairs AS (
      SELECT aa.vec_id AS id_a, bb.vec_id AS id_b
      FROM assignF aa JOIN assignF bb
        ON aa.bucket = bb.bucket AND aa.vec_id < bb.vec_id
    ),
    pdots AS (
      SELECT p.id_a, p.id_b,
             SUM(CAST(round(ea.v * eb.v * 1e8) AS BIGINT)) AS dot
      FROM pairs p
      JOIN expanded ea ON ea.vec_id = p.id_a
      JOIN expanded eb ON eb.vec_id = p.id_b AND eb.idx = ea.idx
      GROUP BY p.id_a, p.id_b
    ),
    sims AS (
      SELECT d.id_a, d.id_b,
             d.dot / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cos
      FROM pdots d
      JOIN norms na ON na.vec_id = d.id_a
      JOIN norms nb ON nb.vec_id = d.id_b
    ),
    dup AS (
      SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS dup_of
      FROM sims WHERE cos >= CAST({tau} AS DOUBLE) GROUP BY id_b
    )
    SELECT a.vec_id, CAST(a.bucket AS BIGINT) AS bucket, d.dup_of,
           d.dup_of IS NOT NULL AS is_dup
    FROM assignF a LEFT JOIN dup d USING (vec_id)
    """
    return _lloyd_assign_sql(k, iters) + "," + pairwise


@register("semantic_dedup", oracle=_semantic_dedup_oracle())
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3 crossover — SemDeDup: 8 trained k-means clusters (two
    exact Lloyd iterations, same fit as similarity_ivf_kmeans), then
    within-cluster cosine ≥ 0.38 marks semantic duplicates with the
    deterministic keep-lowest-id policy. The oracle replays the fit
    AND the pairwise sweep in SQL."""
    from ..operators.kmeans import kmeans_fit
    from ..operators.similarity import semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, k=8, iters=2)
    cf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "`__cid__` int, `__cvec__` array<double>",
    )
    return semantic_dedup(emb, cf, tau=0.38)


@register("similarity_ivf_kmeans", oracle=_kmeans_ivf_oracle())
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 with TRAINED cells: two exact Lloyd iterations
    (operators.kmeans) fit 8 cosine centroids, then the IVF search
    runs within the trained cells. The oracle unrolls the identical
    iterations in SQL — an oracle-checked ITERATIVE algorithm, the
    class where float-order nondeterminism usually makes distributed
    engines diverge."""
    from ..operators.kmeans import kmeans_fit

    emb = table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, k=8, iters=2)
    cf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "vec_id int, embedding array<double>"
    )
    return cosine_topk_ivf(
        emb,
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)),
        centroids=cf,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    )


def _near_dup_oracle(
    num_planes: int = NEAR_DUP_PLANES,
    bands: int = NEAR_DUP_BANDS,
    threshold_pct: int = 95,
) -> str:
    # hyperplane sign s_ij = parity of md5(i:j) first digest byte —
    # the SQL twin of operators.similarity.md5_planes; banded the
    # same way embedding_near_dup bands its sign bits.
    def sign(i: int) -> str:
        return (
            "CASE WHEN (strpos('0123456789abcdef', "
            f"substr(md5(CAST({i} AS VARCHAR) || ':' || CAST(idx - 1 AS VARCHAR)), 2, 1)) - 1) % 2 = 1 "
            "THEN 1.0 ELSE -1.0 END"
        )

    rows = num_planes // bands
    plane_sums = ", ".join(
        f"SUM(CAST(round(v * ({sign(i)}) * 1e8) AS BIGINT)) AS p{i}"
        for i in range(num_planes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT vec_id, n, {b} AS band_id, {sig} AS band_sig FROM per_vec".format(
            b=b,
            sig=" || ".join(
                f"(CASE WHEN p{i} >= 0 THEN '1' ELSE '0' END)"
                for i in range(b * rows, (b + 1) * rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0
    ),
    expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM corpus
    ),
    per_vec AS (
      SELECT vec_id,
             SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n,
             {plane_sums}
      FROM expanded GROUP BY vec_id
    ),
    banded AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.n AS na, b.n AS nb
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, c.na, c.nb,
             SUM(CAST(round(ea.v * eb.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM cand c
      JOIN expanded ea ON ea.vec_id = c.id_a
      JOIN expanded eb ON eb.vec_id = c.id_b AND eb.idx = ea.idx
      GROUP BY c.id_a, c.id_b, c.na, c.nb
    )
    SELECT id_a, id_b, CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM dots
    WHERE (dot_scaled / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 100
          >= {float(threshold_pct)}
    """


@register("embedding_near_dup", oracle=_near_dup_oracle())
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3: embedding-cosine near-duplicate pairs — BANDED
    hyperplane LSH (32 planes in 4 bands of 8 → 256 buckets per
    band), exact scaled-integer cosine ≥ 0.95 on candidates. The
    round-1 plan used 4 flat planes = 16 constant buckets, i.e.
    per-bucket pair work growing N²/32 — quadratic at scale; banding
    scales the bucket count (2^8 per band) while the OR-over-bands
    keeps recall, and exact copies collide in every band (identical
    sign vectors), so the planted duplicates (shifted ids, vec_id %
    25 == 0) are always found. The oracle reconstructs the identical
    bands from the same md5 parity rule."""
    emb = table(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(dups)
    planes = md5_planes(num_planes=NEAR_DUP_PLANES, dim=64)
    return _embedding_near_dup_op(
        corpus, planes, min_cos_pct=95, bands=NEAR_DUP_BANDS
    )


def _lsh_topk_oracle(num_planes: int = 6, k: int = 5) -> str:
    # Same md5-parity plane reconstruction as _near_dup_oracle: the
    # sign of plane i at dim j is the parity of md5("i:j")'s first
    # digest byte — the SQL twin of operators.similarity.md5_planes.
    def sign(i: int) -> str:
        return (
            "CASE WHEN (strpos('0123456789abcdef', "
            f"substr(md5(CAST({i} AS VARCHAR) || ':' || CAST(idx - 1 AS VARCHAR)), 2, 1)) - 1) % 2 = 1 "
            "THEN 1.0 ELSE -1.0 END"
        )

    plane_sums = ", ".join(
        f"SUM(CAST(round(v * ({sign(i)}) * 1e8) AS BIGINT)) AS p{i}"
        for i in range(num_planes)
    )
    bucket = " || ".join(
        f"(CASE WHEN p{i} >= 0 THEN '1' ELSE '0' END)" for i in range(num_planes)
    )
    return f"""
    WITH expanded AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    per_vec AS (
      SELECT vec_id,
             SUM(CAST(round(v * v * 1e8) AS BIGINT)) AS n,
             {plane_sums}
      FROM expanded GROUP BY vec_id
    ),
    bucketed AS (SELECT vec_id, n, {bucket} AS bucket FROM per_vec),
    dots AS (
      SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
             qb.n AS qn, cb.n AS cn,
             SUM(CAST(round(eq.v * ec.v * 1e8) AS BIGINT)) AS dot_scaled
      FROM bucketed qb
      JOIN bucketed cb ON cb.bucket = qb.bucket
      JOIN expanded eq ON eq.vec_id = qb.vec_id
      JOIN expanded ec ON ec.vec_id = cb.vec_id AND ec.idx = eq.idx
      WHERE qb.vec_id < 5
      GROUP BY qb.vec_id, cb.vec_id, qb.n, cb.n
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dot_scaled,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY dot_scaled / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
                        neighbor_id
             ) AS rank
      FROM dots
    )
    SELECT query_id, neighbor_id, rank,
           CAST(dot_scaled AS BIGINT) AS dot_scaled
    FROM ranked WHERE rank <= {k}
    """


@register("similarity_lsh", oracle=_lsh_topk_oracle())
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path: hyperplane-LSH-bucketed cosine top-k (join only
    within sign-pattern buckets). Approximate GLOBALLY (recall vs
    brute force asserted in tests) but deterministic EXACTLY: bucket
    membership and within-bucket ranking use scaled-integer sums, so
    the oracle — which reconstructs the same md5-parity planes in SQL
    and ranks within the same buckets — matches bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    planes = md5_planes(num_planes=6, dim=64)
    return cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 5), planes, id_col="vec_id", k=5
    )


@register(
    "embedding_passthrough",
    oracle="""
    SELECT e.vec_id, e.label, d.lang,
           len(e.embedding) AS emb_dim,
           CAST(round(CAST(e.embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS first_scaled
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    WHERE e.label = 0
    """,
)
def embedding_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: array<float> columns carried through relational ops (join +
    filter + projection) — multimodal columns are first-class."""
    e = table(spark, sf_dir, "embeddings")
    d = table(spark, sf_dir, "documents")
    return (
        e.join(d, e["vec_id"] == d["doc_id"])
        .filter(F.col("label") == 0)
        .select(
            "vec_id",
            "label",
            "lang",
            F.size("embedding").alias("emb_dim"),
            F.round(F.element_at("embedding", 1).cast("double") * 1e6)
            .cast("long")
            .alias("first_scaled"),
        )
    )


# --------------------------------------------------------------------------
# K4: text analysis
# --------------------------------------------------------------------------

def _lang_id_oracle() -> str:
    score = {
        lang: (
            "len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'),"
            " x -> x <> ''), t -> t IN ("
            + ", ".join(f"'{w}'" for w in words)
            + ")))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(score)
    whens = []
    for lang in langs:
        conds = [f"{score[lang]} > 0"]
        for other in langs:
            if other < lang:
                conds.append(f"{score[lang]} > {score[other]}")
            elif other > lang:
                conds.append(f"{score[lang]} >= {score[other]}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    return f"SELECT doc_id, lang, {case} AS lang_pred FROM documents"


@register("lang_id_heuristic", oracle=_lang_id_oracle())
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: stopword-marker language ID — argmax of per-language marker
    hits with alphabetical tiebreak. Oracle generated from the same
    marker table so both engines share constants."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@register(
    "text_quality",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars_m,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
             length(text) - length(replace(text, ' ', '')) AS n_spaces,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                 t -> t IN ('der','die','und','ist','nicht','the','and','is','of','to',
                            'el','la','de','que','los','le','et','les','des'))) AS stop_hits
      FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens,
           CAST(CASE WHEN n_tokens > 0 THEN floor((n_chars_m - n_spaces) * 10000 / n_tokens) ELSE 0 END AS BIGINT) AS mean_tok_len_bp,
           CAST(CASE WHEN n_chars_m > 0 THEN floor(n_punct * 10000 / n_chars_m) ELSE 0 END AS BIGINT) AS punct_ratio_bp,
           CAST(CASE WHEN n_tokens > 0 THEN floor(stop_hits * 10000 / n_tokens) ELSE 0 END AS BIGINT) AS stop_ratio_bp,
           CASE WHEN n_tokens >= 10
                 AND (CASE WHEN n_tokens > 0 THEN floor(stop_hits * 10000 / n_tokens) ELSE 0 END) > 0
                 AND (CASE WHEN n_chars_m > 0 THEN floor(n_punct * 10000 / n_chars_m) ELSE 0 END) < 2000
                THEN 'good'
                WHEN n_tokens >= 3 THEN 'fair'
                ELSE 'junk' END AS quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: quality scoring — length/punctuation/stopword ratios in
    integer basis points (portable thresholds, no float drift)."""
    return quality_metrics(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: BPE-ish pre-tokenizer count (letter runs / digit runs /
    punctuation singletons) via regexp_extract_all — JVM regex, one
    scan."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count(F.col("text")).alias("n_bpe_tokens"), "n_chars"
    )


@register(
    "doc_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               [substr(text, i, 8) for i in range(1, greatest(length(text) - 7, 1) + 1)]
             )) AS g
      FROM documents
    )
    SELECT doc_id, min(md5(g)) AS fingerprint, count(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: rolling-hash document fingerprint — min md5 over the char
    8-gram set + shingle cardinality (winnowing with whole-doc
    window)."""
    return rolling_fingerprint(table(spark, sf_dir, "documents"), "doc_id", "text", k=8)


CORPUS_OVERLAP_ORACLE = """
    WITH keys AS (
      SELECT DISTINCT lang,
             unnest(list_distinct(
               [substr(text, i, 8) for i in range(1, greatest(length(text) - 7, 1) + 1)]
             )) AS g
      FROM documents
    ),
    hashed AS (SELECT DISTINCT lang, md5(g) AS h FROM keys),
    ranked AS (
      SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM hashed
    ),
    sk AS (
      SELECT lang, list_sort(list(h)) AS sketch
      FROM ranked WHERE rn <= 64 GROUP BY lang
    ),
    est AS (
      SELECT a.lang AS group_a, b.lang AS group_b,
             len(list_intersect(
               list_slice(list_sort(list_distinct(list_concat(a.sketch, b.sketch))), 1, 64),
               list_intersect(a.sketch, b.sketch)
             )) AS sample_hits
      FROM sk a JOIN sk b ON a.lang < b.lang
    ),
    sizes AS (SELECT lang, count(*) AS n FROM hashed GROUP BY lang),
    inter AS (
      SELECT x.lang AS group_a, y.lang AS group_b, count(*) AS isect
      FROM hashed x JOIN hashed y ON x.h = y.h AND x.lang < y.lang
      GROUP BY 1, 2
    )
    SELECT e.group_a, e.group_b,
           CAST(e.sample_hits AS BIGINT) AS sample_hits,
           CAST(100 * e.sample_hits // 64 AS BIGINT) AS est_jaccard_pct,
           CAST(100 * i.isect // (sa.n + sb.n - i.isect) AS BIGINT) AS exact_jaccard_pct
    FROM est e
    JOIN inter i ON i.group_a = e.group_a AND i.group_b = e.group_b
    JOIN sizes sa ON sa.lang = e.group_a
    JOIN sizes sb ON sb.lang = e.group_b
"""


@register("corpus_overlap_kmv", oracle=CORPUS_OVERLAP_ORACLE)
def corpus_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/corpus analytics: pairwise shingle-set overlap between
    language slices, estimated from k-minimum-values sketches
    (operators.sketches.kmv_sketches/kmv_overlap, k=64) — the
    mergeable corpus-vs-corpus overlap monitor: once per-slice
    sketches exist, every pairwise estimate costs O(k) regardless of
    corpus size. Exact Jaccard is computed alongside (hll_cardinality
    precedent) so the estimate's accuracy is part of the evidence.

    Scale (r7 verdict #4): the sketch path does per-DOC bottom-k
    JVM-side over the shingle arrays, merges per partition in one
    bounded Arrow pass, and shuffles only partitions × slices × k
    rows (kmv_sketches_from_sets) — O(slices·k) past the narrow
    scan. The remaining linear term is the exact-Jaccard companion
    (distinct shingle domain + equi-join) which exists purely as
    accuracy evidence; a production overlap monitor would keep only
    the sketch columns.

    The result carries a persisted intermediate (``hashed``) via the
    ``attach_cache`` contract: callers MUST call
    ``operators.dedup.release_cached(result)`` after their action (or
    use ``dedup.consuming``) — otherwise each invocation leaks one
    cached ~10M-row relation in a long-lived session."""
    from ..operators.sketches import kmv_overlap, kmv_sketches_from_sets

    docs = table(spark, sf_dir, "documents")
    keys = docs.select(
        F.col("lang"), F.explode(shingle_set_col("text", k=8)).alias("g")
    )
    sk = kmv_sketches_from_sets(
        docs.select("lang", shingle_set_col("text", k=8).alias("gs")),
        "lang",
        "gs",
        k=64,
    )
    est = kmv_overlap(sk, "lang", k=64)

    # r11 optimization: ONE distinct on (lang, gram) — the trailing
    # .distinct() on (lang, md5) was a second full 10M-row shuffle
    # that could only ever drop a row under an md5 collision between
    # DISTINCT grams (2^-128-scale; the oracle's own arithmetic would
    # break first). PERSISTED because three consumers (sizes, both
    # self-join sides) otherwise re-run the explode+distinct.
    hashed = keys.distinct().select(
        "lang", F.md5(F.col("g").cast("string")).alias("h")
    ).persist()
    sizes = hashed.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h")) & (F.col("x.lang") < F.col("y.lang")),
        )
        .groupBy(
            F.col("x.lang").alias("group_a"), F.col("y.lang").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("isect"))
    )
    out = (
        est.join(inter, ["group_a", "group_b"])
        .join(F.broadcast(sizes.withColumnRenamed("lang", "group_a").withColumnRenamed("n", "na")), "group_a")
        .join(F.broadcast(sizes.withColumnRenamed("lang", "group_b").withColumnRenamed("n", "nb")), "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("sample_hits").cast("long").alias("sample_hits"),
            "est_jaccard_pct",
            (100 * F.col("isect") / (F.col("na") + F.col("nb") - F.col("isect")))
            .cast("long")
            .alias("exact_jaccard_pct"),
        )
    )
    from ..operators.dedup import attach_cache

    return attach_cache(out, hashed)


@register(
    "phrase_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(0, len(string_split(text, ' ')))) AS pos
      FROM documents
    ),
    hits AS (
      SELECT t.doc_id, t.pos - ph.i AS anchor, ph.i
      FROM toks t JOIN (VALUES (0, 'table'), (1, 'scan')) AS ph(i, tok)
        ON t.tok = ph.tok
      WHERE t.pos - ph.i >= 0
    ),
    anchors AS (
      SELECT doc_id, anchor FROM hits
      GROUP BY doc_id, anchor HAVING COUNT(DISTINCT i) = 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(anchor) AS BIGINT) AS first_pos
    FROM anchors GROUP BY doc_id
    """,
)
def phrase_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 retrieval: exact-phrase search ("table scan") over a
    positional posting list via the anchor trick
    (operators.text.phrase_search) — postings restricted to the
    phrase's terms BEFORE the shuffle, one groupBy(doc, pos-i)
    replaces the textbook n-way positional self-join. The oracle runs
    the same anchor aggregation relationally."""
    from ..operators.text import phrase_search

    return phrase_search(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        phrase="table scan", split_pattern=" ",
    )


@register(
    "text_stats",
    oracle="""
    SELECT doc_id, lang,
           length(text) AS char_count,
           len(string_split_regex(trim(text), '\\s+')) AS token_count,
           length(text) - length(replace(text, ' ', '')) AS space_count
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 slice: per-document token/char statistics with built-in
    string functions only (JVM codegen, no UDF)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("char_count"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("token_count"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias("space_count"),
    )


UNIGRAM_QUALITY_ORACLE = """
    WITH toks AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term
    ),
    total AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS t_total FROM vocab
    ),
    scored AS (
      SELECT toks.doc_id,
             CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t_total AS DOUBLE))
                        * 1000000000.0) AS BIGINT) AS nano
      FROM toks JOIN vocab USING (term) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(nano) AS BIGINT) AS sum_nano,
           (CAST(sum(nano) AS DOUBLE) / 1000000000.0) / CAST(count(*) AS DOUBLE)
             AS avg_logprob
    FROM scored GROUP BY doc_id
"""


@register("unigram_logprob_quality", oracle=UNIGRAM_QUALITY_ORACLE)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 quality scoring: mean unigram log-probability under the
    corpus's own unigram distribution — the classic cheap perplexity
    proxy for training-data filtering (documents full of rare/garbled
    tokens score low; boilerplate scores suspiciously high; both
    tails get filtered). Determinism under 1000-way parallelism: each
    token's ln(p) is quantized to integer NANO-units first, so the
    per-document sum is an order-free BIGINT sum and the final mean
    is one identical double division on both engines (same recipe as
    bm25_score). Plan shape: one explode, one vocab aggregation
    (partial-agg'd), one term-keyed join (the vocab side would be
    bucketed/broadcast-tiered at 100 TB), one per-doc aggregation."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("t_total"))
    nano = F.round(
        F.log(F.col("cnt").cast("double") / F.col("t_total").cast("double"))
        * 1000000000.0
    ).cast("long")
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", nano.alias("nano"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("nano").alias("sum_nano"),
        (
            (F.sum("nano").cast("double") / 1000000000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_logprob"),
    )


KL_DOMAIN_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lang, t AS term FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents)
      WHERE t <> ''
    ),
    lt AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS c_l
      FROM toks GROUP BY lang, term
    ),
    gt AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c_g FROM toks GROUP BY term
    ),
    ltot AS (
      SELECT lang, CAST(sum(c_l) AS BIGINT) AS t_l FROM lt GROUP BY lang
    ),
    gtot AS (SELECT CAST(sum(c_g) AS BIGINT) AS t_g FROM gt),
    contrib AS (
      SELECT lt.lang,
             CAST(round(
               (CAST(c_l AS DOUBLE) / CAST(t_l AS DOUBLE))
               * (round(ln((CAST(c_l AS DOUBLE) / CAST(t_l AS DOUBLE))
                           / (CAST(c_g AS DOUBLE) / CAST(t_g AS DOUBLE)))
                        * 1000000000.0) / 1000000000.0)
               * 1000000000.0) AS BIGINT) AS nano
      FROM lt JOIN gt USING (term)
      JOIN ltot ON ltot.lang = lt.lang CROSS JOIN gtot
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(nano) AS BIGINT) AS kl_nano,
           CAST(sum(nano) AS DOUBLE) / 1000000000.0 AS kl_divergence
    FROM contrib GROUP BY lang
"""


@register("kl_domain_shift", oracle=KL_DOMAIN_ORACLE)
def kl_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 corpus diagnostics: KL(p_lang ‖ p_corpus) over unigram
    distributions — how far each language slice's token distribution
    drifts from the corpus mixture. The monitoring signal behind
    data-mixture rebalancing: a slice whose KL jumps between corpus
    versions changed character (scraped drift, contamination, a new
    source). Per-term contributions p·ln(p/q) are nano-quantized
    BIGINTs (ln quantized first, the product rounded once), so the
    per-language sum is order-free and bit-identical at any
    parallelism. Two aggregations and one term-keyed join — all
    partial-agg'd, nothing corpus-sized reaches the driver."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    lt = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c_l"))
    gt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c_g"))
    ltot = lt.groupBy("lang").agg(F.sum("c_l").alias("t_l"))
    gtot = gt.agg(F.sum("c_g").alias("t_g"))
    p = F.col("c_l").cast("double") / F.col("t_l").cast("double")
    q = F.col("c_g").cast("double") / F.col("t_g").cast("double")
    ln_q = F.round(F.log(p / q) * 1000000000.0) / 1000000000.0
    nano = F.round(p * ln_q * 1000000000.0).cast("long")
    contrib = (
        lt.join(gt, "term")
        .join(F.broadcast(ltot), "lang")
        .crossJoin(F.broadcast(gtot))
        .select("lang", nano.alias("nano"))
    )
    return contrib.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("nano").alias("kl_nano"),
        (F.sum("nano").cast("double") / 1000000000.0).alias("kl_divergence"),
    )


# BM25 over a literal query-term list. The per-term score expression
# is ONE template rendered into both engines so the parse trees are
# identical: every op except ln() is IEEE-exact on identical
# operands, and ln() is quantized to 1e-9 on both sides before any
# further arithmetic, removing the only libm-dependent bits.
_BM25_TERMS = ("join", "window", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_contrib(i: int) -> str:
    k1, b = _BM25_K1, _BM25_B
    idf = (
        f"(round(ln((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / "
        f"(CAST(df{i} AS DOUBLE) + 0.5) + 1.0) * 1000000000.0) / 1000000000.0)"
    )
    return (
        f"{idf} * ((CAST(tf{i} AS DOUBLE) * {k1 + 1.0}) / "
        f"(CAST(tf{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b} * "
        f"(CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))))"
    )


def _bm25_oracle() -> str:
    tfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i + 1}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf{i + 1} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i + 1}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(_bm25_contrib(i + 1) for i in range(len(_BM25_TERMS)))
    matched = " + ".join(
        f"CASE WHEN tf{i + 1} > 0 THEN 1 ELSE 0 END" for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"tf{i + 1}" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH toks AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents)
      WHERE t <> ''
    ),
    counts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
             {tfs}
      FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl,
             {dfs}
      FROM counts
    )
    SELECT doc_id, dl, CAST({matched} AS BIGINT) AS n_matched,
           {score} AS bm25
    FROM counts, stats
    WHERE {any_tf} > 0
    """


@register("bm25_score", oracle=_bm25_oracle())
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: BM25 relevance of every document against a literal term
    set (k1=1.2, b=0.75) — the standard lexical ranking for corpus
    curation and retrieval-style filtering.

    Plan: one explode over tokens with partial-aggregated per-doc
    counts (single shuffle on doc_id), a 1-row corpus-stats frame
    broadcast into the scoring projection, score itself a fixed-order
    JVM expression — no UDFs, no double aggregation (per-term
    contributions are summed in literal order, not via SUM(), so
    float addition order is deterministic at any parallelism)."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    counts = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i + 1}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = counts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i + 1}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i + 1}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = " + ".join(_bm25_contrib(i + 1) for i in range(len(_BM25_TERMS)))
    matched = " + ".join(
        f"CASE WHEN tf{i + 1} > 0 THEN 1 ELSE 0 END" for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"tf{i + 1}" for i in range(len(_BM25_TERMS)))
    return (
        counts.join(F.broadcast(stats))
        .filter(F.expr(f"{any_tf} > 0"))
        .select(
            "doc_id",
            "dl",
            F.expr(f"CAST({matched} AS BIGINT)").alias("n_matched"),
            F.expr(score).alias("bm25"),
        )
    )


@register(
    "repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS distinct_tokens,
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, greatest(len(toks) - 1, 1))] AS tri
      FROM t
    ), top AS (
      SELECT doc_id, max(c) AS top_token_cnt
      FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        GROUP BY doc_id, tok
      )
      GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.distinct_tokens,
           CAST(CASE WHEN s.n_tokens > 0
                     THEN floor(s.distinct_tokens * 10000 / s.n_tokens) ELSE 0 END AS BIGINT) AS ttr_bp,
           top.top_token_cnt,
           CAST(CASE WHEN s.n_tokens > 0
                     THEN floor(top.top_token_cnt * 10000 / s.n_tokens) ELSE 0 END AS BIGINT) AS top_token_bp,
           CAST(CASE WHEN len(s.tri) > 0
                     THEN floor((len(s.tri) - len(list_distinct(s.tri))) * 10000 / len(s.tri))
                     ELSE 0 END AS BIGINT) AS dup_trigram_bp
    FROM s JOIN top ON s.doc_id = top.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: Gopher-style repetition filters — type-token ratio, top
    token mass, duplicate-trigram fraction (operators.text
    .repetition_metrics). One (doc, token) shuffle; everything else
    is array-native in the scan."""
    return repetition_metrics(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "pii_scrub",
    oracle=r"""
    WITH inj AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\+[0-9][0-9-]{6,}[0-9]')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM inj
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: PII redaction pass (operators.text.pii_scrub). The corpus
    itself is synthetic word soup with no PII, so the query first
    injects a deterministic contact line per document (same
    construction in the oracle) — the scrub then provably finds and
    masks every occurrence."""
    docs = table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    return pii_scrub(injected, "doc_id", "text")


INCREMENTAL_DEDUP_ORACLE = f"""
    WITH sets AS ({_SETS_SQL}),
    mh AS ({_MINHASH_SQL}),
    banded AS ({_BANDED_SQL}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS other_id
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id % 2 = 1
       AND (b.doc_id % 2 = 0 OR (b.doc_id % 2 = 1 AND a.doc_id < b.doc_id))
    )
    SELECT p.new_id, p.other_id,
           len(list_intersect(sa.sh_set, sb.sh_set)) AS isect,
           len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)) AS uni
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.new_id
    JOIN sets sb ON sb.doc_id = p.other_id
    WHERE 100 * len(list_intersect(sa.sh_set, sb.sh_set))
          >= 50 * (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)))
"""


@register("near_dedup_incremental", oracle=INCREMENTAL_DEDUP_ORACLE)
def near_dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 nightly shape: odd-id documents are the increment, even-id
    the signed corpus — the increment is deduped against corpus AND
    itself with corpus work restricted to LSH candidates
    (operators.dedup.near_dedup_incremental)."""
    from ..operators.dedup import near_dedup_incremental

    docs = table(spark, sf_dir, "documents")
    return near_dedup_incremental(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        id_col="doc_id",
        text_col="text",
    )


DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sets AS ({_SETS_SQL}),
    mh AS ({_MINHASH_SQL}),
    banded AS ({_BANDED_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    dup AS (
      SELECT p.id_a, p.id_b
      FROM cand p
      JOIN sets sa ON sa.doc_id = p.id_a
      JOIN sets sb ON sb.doc_id = p.id_b
      WHERE 100 * len(list_intersect(sa.sh_set, sb.sh_set))
            >= 50 * (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)))
    ),
    edges(a, b) AS (
      SELECT id_a, id_b FROM dup UNION SELECT id_b, id_a FROM dup
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl
"""


def minhash_clusters(docs: DataFrame) -> DataFrame:
    """The registry's near-dup cluster chain over ``docs``
    (``doc_id``, ``text``): MinHash LSH pairs (8-shingles, 4 bands ×
    2 rows, Jaccard ≥ 50%) → connected components
    (``operators.dedup.dedup_clusters``) — the pipeline
    ``DEDUP_CLUSTERS_ORACLE`` replays in DuckDB."""
    from ..operators.dedup import dedup_clusters

    pairs = near_dedup_minhash(
        docs, id_col="doc_id", text_col="text",
        shingle_k=8, bands=4, rows_per_band=2, min_jaccard_pct=50,
    )
    return dedup_clusters(docs, pairs, id_col="doc_id")


@register("dedup_clusters", oracle=DEDUP_CLUSTERS_ORACLE)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 end-game: near-dup pairs → connected components → canonical
    representative per document (operators.dedup.dedup_clusters,
    iterated min-label propagation). Genuinely iterative — the oracle
    still verifies it exactly via a recursive transitive-closure CTE
    over the same MinHash pipeline."""
    return minhash_clusters(table(spark, sf_dir, "documents"))


DEDUP_APPLY_ORACLE = (
    DEDUP_CLUSTERS_ORACLE.replace(
        """    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl
""",
        """    , sized AS (
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl
    )
    SELECT s.doc_id, s.cluster_size, d.lang, d.n_chars
    FROM sized s JOIN documents d USING (doc_id)
    WHERE s.doc_id = s.cluster_id
""",
    )
)


@register("dedup_apply", oracle=DEDUP_APPLY_ORACLE)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 final step — the dedup DECISION applied: keep exactly the
    canonical representative (lowest id) of every near-dup cluster,
    carrying its original columns plus the cluster size it speaks
    for (singleton docs keep themselves with size 1). This is the
    frame a curation pipeline actually writes out; pairs and
    clusters are its evidence. One extra semi-join over the cluster
    relation — the corpus never reshuffles. The cluster checkpoints
    back the lazy plan, so their release handles are re-attached to
    THIS result — consumers materialize under
    ``dedup.consuming(...)`` and nothing outlives the action."""
    docs = table(spark, sf_dir, "documents")
    clusters = minhash_clusters(docs)
    keep = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", "cluster_size"
    )
    out = keep.join(docs, "doc_id").select(
        "doc_id", "cluster_size", "lang", "n_chars"
    )
    return attach_cache(out, *getattr(clusters, "_spark_graft_cached", ()))


DEDUP_KEEP_BEST_ORACLE = DEDUP_CLUSTERS_ORACLE.replace(
    """    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl
""",
    """    , sized AS (
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl
    ),
    ranked AS (
      SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars, d.lang,
             row_number() OVER (PARTITION BY s.cluster_id
                                ORDER BY d.n_chars DESC, s.doc_id) AS rn
      FROM sized s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, cluster_size, n_chars, lang
    FROM ranked WHERE rn = 1
""",
)


@register("dedup_keep_best", oracle=DEDUP_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 policy variant of ``dedup_apply``: instead of the lowest-id
    canonical member, keep the BEST document of every near-dup
    cluster — here the longest (``n_chars`` DESC), lowest id on ties
    — the policy real curation pipelines run, because near-dups are
    usually truncations or boilerplate-wrapped copies of one best
    version and 'lowest id' throws the best version away whenever it
    crawled later. One window (row_number per cluster) over the
    cluster relation joined to the corpus: ranking shuffles only the
    (id, cluster) pairs plus the two carried columns, never the text,
    and the deterministic (score, id) sort order makes the selection
    reproducible under any partitioning (the tiebreak contract is
    documented on :func:`~..operators.dedup.keep_best_per_cluster`)."""
    from ..operators.dedup import keep_best_per_cluster

    docs = table(spark, sf_dir, "documents")
    clusters = minhash_clusters(docs)
    out = keep_best_per_cluster(
        clusters, docs.select("doc_id", "n_chars", "lang"), "doc_id", "n_chars"
    ).select("doc_id", "cluster_id", "cluster_size", "n_chars", "lang")
    return attach_cache(out, *getattr(clusters, "_spark_graft_cached", ()))


GOLDEN_RECORD_ORACLE = DEDUP_CLUSTERS_ORACLE.replace(
    """    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl
""",
    """    , members AS (
      SELECT c.cluster_id, d.doc_id, d.lang, d.n_chars
      FROM cl c JOIN documents d USING (doc_id)
    ),
    lang_votes AS (
      SELECT cluster_id, lang, CAST(count(*) AS BIGINT) AS votes
      FROM members GROUP BY cluster_id, lang
    ),
    modal AS (
      SELECT cluster_id, lang AS modal_lang FROM (
        SELECT cluster_id, lang,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY votes DESC, lang) AS rn
        FROM lang_votes
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT cluster_id, CAST(min(doc_id) AS BIGINT) AS golden_id,
             CAST(count(*) AS BIGINT) AS members,
             CAST(max(n_chars) AS BIGINT) AS best_n_chars
      FROM members GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.golden_id, a.members, a.best_n_chars,
           m.modal_lang
    FROM agg a JOIN modal m USING (cluster_id)
""",
)


@register("golden_record", oracle=GOLDEN_RECORD_ORACLE)
def golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution survivorship (the MDM golden record): one
    SYNTHESIZED row per near-dup cluster with field-wise merge rules
    — canonical id = min member id, best_n_chars = max over members,
    modal_lang = most frequent language (ties -> lexicographically
    smallest). Unlike ``dedup_keep_best`` (which keeps one EXISTING
    row), survivorship composes each field from a different member —
    the merge real MDM pipelines publish.

    Plan: the cluster relation joins the corpus once; the modal vote
    is a (cluster, lang) aggregation plus a row_number over the vote
    relation (shuffles carry only ids + two fields, never text); the
    numeric rules ride the same groupBy. The cluster checkpoints
    back the lazy plan, so their release handles re-attach to THIS
    result (materialize under ``dedup.consuming``)."""
    docs = table(spark, sf_dir, "documents")
    clusters = minhash_clusters(docs)
    members = clusters.select("doc_id", "cluster_id").join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id"
    )
    votes = members.groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    modal = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("votes").desc(), F.col("lang")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("lang").alias("modal_lang"))
    )
    agg = members.groupBy("cluster_id").agg(
        F.min("doc_id").alias("golden_id"),
        F.count(F.lit(1)).cast("long").alias("members"),
        F.max("n_chars").alias("best_n_chars"),
    )
    out = agg.join(modal, "cluster_id").select(
        "cluster_id", "golden_id", "members", "best_n_chars", "modal_lang"
    )
    return attach_cache(out, *getattr(clusters, "_spark_graft_cached", ()))


SUBSTRING_DEDUP_ORACLE = """
    WITH wins AS (
      SELECT doc_id, p AS pos, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
      FROM documents,
           unnest(range(1, length(text) - 38)) AS t(p)
      WHERE length(text) >= 40
    ),
    shared AS (
      SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dpos AS (SELECT w.doc_id, w.pos FROM wins w JOIN shared s USING (h)),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
                  THEN 1 ELSE 0 END AS new_span
      FROM dpos
    ),
    numbered AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM marked
    ),
    per_span AS (
      SELECT doc_id, span_id, max(pos) - min(pos) + 40 AS span_len
      FROM numbered GROUP BY doc_id, span_id
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_chars,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM per_span GROUP BY doc_id
    )
    SELECT d.doc_id, length(d.text) AS n_chars,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           COALESCE(p.n_spans, 0) AS n_spans,
           CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) / length(d.text) AS dup_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("substring_dedup", oracle=SUBSTRING_DEDUP_ORACLE)
def substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 exact substring dedup (suffix-array-style): per-document
    coverage by character spans shared verbatim (≥40 chars) with
    another document — stride-1 windowed hashing, merged to maximal
    spans (operators.substring.duplicated_spans). The oracle replays
    the identical window/merge pipeline in SQL."""
    from ..operators.substring import duplicated_spans

    docs = table(spark, sf_dir, "documents")
    return duplicated_spans(docs, text_col="text", id_col="doc_id", window=40)


@register(
    "embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             nullif(CAST(list_max([abs(x) for x in embedding]) AS DOUBLE) / 127.0, 0.0) AS scale
      FROM embeddings
    ), q AS (
      SELECT vec_id, embedding, scale,
             [CAST(round(CAST(x AS DOUBLE) / scale) AS INT) for x in embedding] AS q
      FROM s
    )
    SELECT vec_id, scale, array_to_string(q, ',') AS q,
           CAST(list_sum([abs(v) for v in q]) AS BIGINT) AS q_l1,
           list_max([abs(CAST(embedding[i] AS DOUBLE) - q[i] * scale)
                     for i in range(1, len(embedding) + 1)]) AS max_abs_err
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 adjunct: int8 scalar quantization of the embedding corpus
    (operators.similarity.quantize_int8) — the compression pass in
    front of a billion-vector ANN index, verified bit-exact against
    the SQL oracle including the reconstruction-error bound. The
    engine operator keeps ``q`` as array<int>; the evidence query
    serializes it to a CSV string for the driver's pandas-based
    canonicalization (CORRECTNESS_r04 err: lists are unsortable)."""
    return quantize_int8(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    ).withColumn("q", F.concat_ws(",", F.col("q").cast("array<string>")))


# --------------------------------------------------------------------------
# K-multimodal: binary payload plumbing via mapInPandas
# --------------------------------------------------------------------------

@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
           CAST(1 + octet_length(encode(text)) % 3 AS INTEGER) AS channels,
           md5(text) AS content_hash
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal: opaque binary payloads processed by an
    Arrow-batched mapInPandas extractor (operators.multimodal). The
    decode itself is a deterministic stub — the schema, batch shape
    and partitioning are the real, tested Spark plumbing; the oracle
    recomputes the stub's arithmetic from the payload bytes."""
    docs = attach_binary_payload(table(spark, sf_dir, "documents"), "text")
    return extract_features(docs, id_col="doc_id")


@register(
    "multimodal_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    ), d AS (
      SELECT doc_id,
             blen % 31 + 1 AS w,
             blen % 17 + 1 AS h,
             blen % 256 AS fill,
             doc_id % 2 = 0 AS is_ppm
      FROM p
    )
    SELECT doc_id,
           CASE WHEN is_ppm THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           3 AS channels,
           CAST(CASE WHEN is_ppm
                THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                     + 3 * w * h
                ELSE 54 + ((3 * w + 3) // 4) * 4 * h
                END AS INT) AS byte_len,
           CAST(3 * w * h * fill AS BIGINT) AS pixel_sum
    FROM d
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal REAL decode: synthesize valid binary image files
    (PPM P6 for even doc ids, 24-bit BMP for odd — dimensions and
    fill byte derived from each document's byte length), then run the
    pure-Python decoder (operators.multimodal.decode_image) over them
    in the Arrow mapInPandas pass. The emitted width/height round-trip
    through real format headers and pixel_sum through real pixel data
    (BMP row padding stripped, BGR normalized), so the oracle's
    closed-form predictions only match if the decoder actually parses
    the bytes."""
    from ..operators.multimodal import decode_features, encode_bmp, encode_ppm

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("__blen__")
    )

    def synth(it):
        import pandas as pd

        for pdf in it:
            payloads = []
            for doc_id, blen in zip(pdf["doc_id"], pdf["__blen__"]):
                blen = int(blen)
                w, h, fill = blen % 31 + 1, blen % 17 + 1, blen % 256
                pixels = bytes([fill]) * (3 * w * h)
                payloads.append(
                    encode_ppm(w, h, pixels)
                    if doc_id % 2 == 0
                    else encode_bmp(w, h, pixels)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    with_payload = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return decode_features(with_payload)


@register(
    "multimodal_decode_png",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    ), d AS (
      SELECT doc_id,
             blen % 13 + 1 AS w,
             blen % 7 + 1 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ch,
             blen % 256 AS fill
      FROM p
    ), s AS (
      SELECT doc_id, w, h, ch, fill, w * h * ch AS n FROM d
    )
    SELECT doc_id, 'png' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(ch AS INT) AS channels,
           CAST(((fill + n) // 256) * 32640
                + ((fill + n) % 256) * ((fill + n) % 256 - 1) // 2
                - fill * (fill - 1) // 2 AS BIGINT) AS pixel_sum
    FROM s
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal PNG decode (the one compressed format decodable
    with the stdlib alone): synthesize real zlib-deflated PNGs — RGB
    for even doc ids, RGBA for odd, dimensions and a rolling
    ``(fill+i) % 256`` pixel ramp derived from each document's byte
    length, scanline filters cycling none→sub→up→average→paeth — then
    run operators.multimodal.decode_image over them in one Arrow
    ``mapInPandas`` pass. pixel_sum only matches the oracle's
    closed-form ramp sum (full 256-cycles × 32640 + triangular
    remainders) if inflate AND all four filter reconstructions are
    exact; the ramp (unlike a constant fill) makes sub/avg/paeth
    deltas nontrivial."""
    from ..operators.multimodal import decode_image, encode_png

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("__blen__")
    )

    def synth_decode(it):
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "channels", "pixel_sum")}
            for doc_id, blen in zip(pdf["doc_id"], pdf["__blen__"]):
                blen = int(blen)
                w, h = blen % 13 + 1, blen % 7 + 1
                ch = 3 if doc_id % 2 == 0 else 4
                fill = blen % 256
                px = bytes((fill + i) % 256 for i in range(w * h * ch))
                fmt, dw, dh, dch, pixels = decode_image(
                    encode_png(w, h, px, channels=ch)
                )
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(dw)
                out["height"].append(dh)
                out["channels"].append(dch)
                out["pixel_sum"].append(sum(pixels))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_decode,
        schema="doc_id bigint, fmt string, width int, height int, "
               "channels int, pixel_sum bigint",
    )


@register(
    "multimodal_decode_gif",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    ), d AS (
      SELECT doc_id,
             blen % 11 + 1 AS w,
             blen % 5 + 1 AS h,
             blen % 256 AS fill
      FROM p
    ), s AS (
      SELECT doc_id, w, h, fill, 3 * w * h AS n FROM d
    )
    SELECT doc_id, 'gif' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           3 AS channels,
           CAST(((fill + n) // 256) * 32640
                + ((fill + n) % 256) * ((fill + n) % 256 - 1) // 2
                - fill * (fill - 1) // 2 AS BIGINT) AS pixel_sum
    FROM s
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal GIF decode: synthesize real GIF87a files — global
    palette of the ramp's distinct colors, real variable-width LZW
    entropy coding with clear-code resets — then run
    operators.multimodal.decode_image over them in one Arrow
    ``mapInPandas`` pass. The ``(fill+i) % 256`` byte ramp yields up
    to 256 distinct color triples (GIF's exact palette ceiling), and
    pixel_sum only matches the closed-form ramp sum if the LZW
    decode, palette indirection and sub-block reassembly are all
    exact."""
    from ..operators.multimodal import decode_image, encode_gif

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("__blen__")
    )

    def synth_decode(it):
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "channels", "pixel_sum")}
            for doc_id, blen in zip(pdf["doc_id"], pdf["__blen__"]):
                blen = int(blen)
                w, h, fill = blen % 11 + 1, blen % 5 + 1, blen % 256
                px = bytes((fill + i) % 256 for i in range(3 * w * h))
                fmt, dw, dh, dch, pixels = decode_image(encode_gif(w, h, px))
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(dw)
                out["height"].append(dh)
                out["channels"].append(dch)
                out["pixel_sum"].append(sum(pixels))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_decode,
        schema="doc_id bigint, fmt string, width int, height int, "
               "channels int, pixel_sum bigint",
    )


@register(
    "multimodal_resize_bilinear",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    ), d AS (
      SELECT doc_id,
             blen % 19 + 2 AS w,
             blen % 9 + 2 AS h,
             blen % 256 AS fill
      FROM p
    )
    SELECT doc_id,
           CAST(w // 2 + 1 AS INT) AS out_w,
           CAST(h // 2 + 1 AS INT) AS out_h,
           CAST(3 * (w // 2 + 1) * (h // 2 + 1) * fill AS BIGINT) AS pixel_sum
    FROM d
    """,
)
def multimodal_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal REAL resize: decode a synthesized image (GIF for
    even doc ids, PPM for odd) and downscale it through the
    pure-integer fixed-point bilinear kernel
    (operators.multimodal.resize_bilinear — Q16 half-pixel mapping,
    Q32 round-half-up accumulation, bit-deterministic on any
    platform). The oracle pins the FLAT-image invariant — exact-Q32
    weight normalization must return the constant everywhere, so
    pixel_sum = ch·tw·th·fill with no tolerance; the nontrivial
    gradient arithmetic is pinned by the test_image_decode
    known-value and float-reference tests."""
    from ..operators.multimodal import (
        decode_image,
        encode_gif,
        encode_ppm,
        resize_bilinear,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("__blen__")
    )

    def synth_resize(it):
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in ("doc_id", "out_w", "out_h", "pixel_sum")}
            for doc_id, blen in zip(pdf["doc_id"], pdf["__blen__"]):
                blen = int(blen)
                w, h, fill = blen % 19 + 2, blen % 9 + 2, blen % 256
                px = bytes([fill]) * (3 * w * h)
                payload = (
                    encode_gif(w, h, px) if doc_id % 2 == 0 else encode_ppm(w, h, px)
                )
                _fmt, dw, dh, ch, pixels = decode_image(payload)
                tw, th = dw // 2 + 1, dh // 2 + 1
                resized = resize_bilinear(pixels, dw, dh, ch, tw, th)
                out["doc_id"].append(doc_id)
                out["out_w"].append(tw)
                out["out_h"].append(th)
                out["pixel_sum"].append(sum(resized))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_resize,
        schema="doc_id bigint, out_w int, out_h int, pixel_sum bigint",
    )


@register(
    "multimodal_decode_jpeg",
    oracle="""
    SELECT doc_id, 'jpeg' AS fmt,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(64 * ((doc_id * 37) % 256 + (doc_id * 37 + 11) % 256
                      + (doc_id * 37 + 22) % 256 + (doc_id * 37 + 33) % 256)
                AS BIGINT) AS pixel_sum
    FROM documents
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal baseline JPEG decode (operators.jpeg — numpy DCT,
    standard Annex-K tables, real Huffman entropy coding): synthesize
    16×16 grayscale JPEGs of four flat 8×8 tiles with per-tile values
    derived from doc_id, then decode them in one Arrow ``mapInPandas``
    pass. The oracle is EXACT, not approximate: at quality 75 the luma
    DC quantizer is 8, so a flat tile of value v quantizes to DC=v−128
    and reconstructs to exactly v (the codec's integer round-half-up
    discipline keeps every step off float boundaries) — pixel_sum
    only matches 64·Σv_k if marker parsing, Huffman DC coding
    (nonzero inter-tile diffs), byte (de)stuffing, dequantization,
    IDCT and clipping are all bit-correct. The lossy path (AC
    coefficients, gradients, color conversion) is pinned by pytest
    round-trip bounds instead — lossy outputs have no closed form."""
    from ..operators.jpeg import decode_jpeg, encode_jpeg

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "channels", "pixel_sum")}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                img = np.zeros((16, 16), dtype=np.uint8)
                for k in range(4):
                    v = (doc_id * 37 + k * 11) % 256
                    by, bx = divmod(k, 2)
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
                payload = encode_jpeg(16, 16, img.tobytes(), channels=1, quality=75)
                w, h, ch, pixels = decode_jpeg(payload)
                out["doc_id"].append(doc_id)
                out["fmt"].append("jpeg")
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["pixel_sum"].append(int(sum(pixels)))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_decode,
        schema="doc_id bigint, fmt string, width int, height int, "
               "channels int, pixel_sum bigint",
    )


@register(
    "multimodal_decode_jpeg_progressive",
    oracle="""
    SELECT doc_id,
           CAST(64 * ((doc_id * 37) % 256 + (doc_id * 37 + 11) % 256
                      + (doc_id * 37 + 22) % 256 + (doc_id * 37 + 33) % 256)
                AS BIGINT) AS pixel_sum_prog,
           CAST(64 * ((doc_id * 37) % 256 + (doc_id * 37 + 11) % 256
                      + (doc_id * 37 + 22) % 256 + (doc_id * 37 + 33) % 256)
                AS BIGINT) AS pixel_sum_rst
    FROM documents
    """,
)
def multimodal_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal PROGRESSIVE JPEG decode (round-8 codec extension:
    SOF2 successive approximation — DC first/refine + per-component
    AC first/refine scans — plus DRI/RSTn restart intervals): the
    same four-flat-tile 16×16 grayscale closed form as
    ``multimodal_decode_jpeg``, but each image is decoded twice —
    once through the multi-scan progressive path
    (``encode_jpeg_progressive``) and once through a baseline stream
    with a restart marker after EVERY MCU (``restart_interval=1``).
    Both pixel sums only match 64·Σv_k if scan-script sequencing,
    successive-approximation bit assembly, EOB handling, restart
    resync and DC-predictor resets are all bit-correct."""
    from ..operators.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in ("doc_id", "pixel_sum_prog", "pixel_sum_rst")}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                img = np.zeros((16, 16), dtype=np.uint8)
                for k in range(4):
                    v = (doc_id * 37 + k * 11) % 256
                    by, bx = divmod(k, 2)
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
                prog = encode_jpeg_progressive(
                    16, 16, img.tobytes(), channels=1, quality=75
                )
                _w, _h, _ch, px_p = decode_jpeg(prog)
                rst = encode_jpeg(
                    16, 16, img.tobytes(), channels=1, quality=75,
                    restart_interval=1,
                )
                _w, _h, _ch, px_r = decode_jpeg(rst)
                out["doc_id"].append(doc_id)
                out["pixel_sum_prog"].append(int(sum(px_p)))
                out["pixel_sum_rst"].append(int(sum(px_r)))
            yield pd.DataFrame(out)

    n_parts = spark.sparkContext.defaultParallelism
    return docs.repartition(n_parts, "doc_id").mapInPandas(
        synth_decode,
        schema="doc_id bigint, pixel_sum_prog bigint, pixel_sum_rst bigint",
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (doc_id * 13) % 1000 + 1 AS a,
             (doc_id % 7 + 1) * 10 AS n,
             doc_id % 5 AS z
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(16 AS INT) AS bits,
           CAST(z + n AS BIGINT) AS n_samples,
           CAST(n * a AS BIGINT) AS abs_sum,
           CAST(n * a * a AS BIGINT) AS sq_sum,
           CAST(n - 1 AS BIGINT) AS zero_crossings
    FROM p
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal AUDIO: synthesize real RIFF/WAVE PCM payloads
    (doc_id-derived silence prefix + alternating ±a square wave),
    parse them with the real chunk-walking WAV decoder
    (``operators.audio``), and emit exact-integer features — Σ|s|,
    Σs², zero-crossing count. The oracle is EXACT closed form
    (silence contributes nothing, the square wave's sums and sign
    flips are arithmetic), so a hash match proves RIFF chunk walk,
    fmt parsing, 16-bit little-endian sample decode and the ZCR
    sign convention end-to-end. Same Arrow ``mapInPandas`` narrow
    shape as the image decoders."""
    from ..operators.audio import encode_wav, wav_features

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def synth(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                a = (doc_id * 13) % 1000 + 1
                n = (doc_id % 7 + 1) * 10
                z = doc_id % 5
                samples = [0] * z + [a if i % 2 == 0 else -a for i in range(n)]
                out["doc_id"].append(doc_id)
                out["payload"].append(encode_wav(samples, 8000, 1, 16))
            yield pd.DataFrame(out)

    with_payload = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return wav_features(with_payload)


@register(
    "multimodal_video_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             doc_id % 6 + 2 AS w,
             doc_id % 4 + 2 AS h,
             doc_id % 5 + 1 AS nf
      FROM documents
    ), f AS (
      SELECT doc_id, w, h, CAST(i AS INT) AS frame_idx,
             (doc_id + 7 * i) % 256 AS s, w * h AS n
      FROM p, unnest(range(0, nf)) AS t(i)
    )
    SELECT doc_id, frame_idx,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           'mono' AS colorspace,
           CAST(((s + n) // 256) * 32640
                + ((s + n) % 256) * ((s + n) % 256 - 1) // 2
                - s * (s - 1) // 2 AS BIGINT) AS luma_sum
    FROM f
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal VIDEO: synthesize real YUV4MPEG2 streams
    (doc_id-derived dimensions, frame count, and a per-frame rolling
    ``(doc_id + 7·frame + i) % 256`` luma ramp), parse them with the
    real Y4M container walker (``operators.video``), and emit one
    exact-integer luma-sum row per frame — the brightness trace a
    video curation pipeline runs for scene-cut/dead-frame screens.
    The oracle is the same closed-form ramp arithmetic as the PNG
    query (full 256-cycles × 32640 + triangular remainders), so a
    hash match proves header tag parsing, FRAME walking and plane
    slicing end-to-end."""
    from ..operators.video import encode_y4m, y4m_frame_stats

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def synth(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = doc_id % 6 + 2, doc_id % 4 + 2
                nf = doc_id % 5 + 1
                frames = [
                    bytes((doc_id + 7 * f + i) % 256 for i in range(w * h))
                    for f in range(nf)
                ]
                out["doc_id"].append(doc_id)
                out["payload"].append(encode_y4m(w, h, frames, "mono"))
            yield pd.DataFrame(out)

    with_payload = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return y4m_frame_stats(with_payload)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, encode(text) AS payload,
             CAST(octet_length(encode(text)) AS INTEGER) AS blen,
             CAST(octet_length(encode(text)) % 5 + 1 AS INTEGER) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST((i * blen) // n AS INTEGER) AS frame_offset,
           md5(lower(substr(hex(payload), ((i * blen) // n) * 2 + 1, 32))) AS frame_hash
    FROM base, unnest(range(0, n)) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal flatMap shape: each binary payload fans out to N
    deterministic frame rows through one Arrow mapInPandas pass —
    video frame-sampling / audio chunking plumbing with the codec
    stubbed. The oracle recomputes offsets and frame hashes from the
    same bytes in SQL."""
    docs = attach_binary_payload(table(spark, sf_dir, "documents"), "text")
    return sample_frames(docs, id_col="doc_id")


@register(
    "multimodal_resize",
    oracle="""
    WITH base AS (
      SELECT doc_id, hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS INTEGER) AS blen
      FROM documents
    ),
    sized AS (
      SELECT doc_id, h, blen,
             CAST(least(256, blen) AS INTEGER) AS n
      FROM base
    )
    SELECT doc_id, blen AS byte_len, n AS out_len,
           md5(lower(list_aggregate(
             [substr(h, ((j * blen) // n) * 2 + 1, 2) for j in range(n)],
             'string_agg', ''
           ))) AS resized_hash
    FROM sized
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-multimodal byte-transform shape: nearest-neighbor downsample
    of every payload to 256 bytes inside one Arrow mapInPandas pass —
    the resize/thumbnailing plumbing with the codec stubbed. The
    oracle rebuilds the same subsampled byte string from the
    payload's hex rendering and hashes it identically."""
    docs = attach_binary_payload(table(spark, sf_dir, "documents"), "text")
    return resize_payload(docs, id_col="doc_id", target=256)


@register(
    "decontaminate",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in range(1, greatest(len(toks) - 1, 1))])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
    counts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g
      WHERE doc_id % 20 <> 0 GROUP BY doc_id
    ),
    shared AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM g JOIN ev USING (gram)
      WHERE g.doc_id % 20 <> 0 GROUP BY g.doc_id
    )
    SELECT c.doc_id, c.n_grams,
           COALESCE(s.n_shared, 0) AS n_shared,
           COALESCE(s.n_shared, 0) >= 3 AS contaminated
    FROM counts c LEFT JOIN shared s ON s.doc_id = c.doc_id
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K4 crossover — training-data DECONTAMINATION: flag training
    documents sharing ≥3 distinct token trigrams with any document of
    a held-out evaluation set (here the doc_id % 20 == 0 slice stands
    in for the benchmark corpus). The cross-set n-gram overlap is the
    standard leakage check run before pretraining (GPT-3 appendix C
    methodology), distinct from WITHIN-set dedup.

    Scale: the eval n-gram set is benchmark-sized (small) — built
    once, distinct, and broadcast into the train-side explode-join,
    so the train corpus is touched in one linear pass and nothing
    quadratic exists anywhere. Per-doc output, bounded by the train
    set size."""
    docs = table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism
    base = docs.select("doc_id", "text").repartition(n_parts, "doc_id")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    grams = (
        base.select("doc_id", toks.alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(_toks) - 3),"
                        " i -> concat_ws(' ', _toks[i], _toks[i+1], _toks[i+2]))"
                    )
                )
            ).alias("gram"),
        )
    )
    ev = grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 20 != 0)
    counts = train.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    shared = (
        train.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        counts.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= 3).alias("contaminated"),
        )
    )
