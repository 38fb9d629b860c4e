"""Curation operator queries (dataset split, packing, vocab stats,
composed pipeline). DuckDB lacks ``conv(hex,16,10)``, so the oracles
decode the md5 prefix with an 8-term strpos polynomial — generated
here from the same constants the Spark side uses."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    curate,
    hash_split,
    mixture_sample,
    sequence_packing,
    term_doc_freq,
    weighted_sample_per_group,
)
from ._base import make_registry, table

QUERIES, ORACLES, register = make_registry()


def hex_to_int_sql(hex_expr: str) -> str:
    """SQL decoding the first 8 hex chars of ``hex_expr`` to BIGINT —
    the oracle twin of Spark's conv(substr(x,1,8),16,10)."""
    terms = [
        f"CAST((strpos('0123456789abcdef', substr({hex_expr}, {j + 1}, 1)) - 1) AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_SPLIT_BUCKET = hex_to_int_sql("md5('split:' || CAST(doc_id AS VARCHAR))") + " % 100"

DATASET_SPLIT_ORACLE = f"""
    SELECT doc_id, lang, n_chars,
           CASE WHEN {_SPLIT_BUCKET} < 98 THEN 'train'
                WHEN {_SPLIT_BUCKET} < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


@register("dataset_split", oracle=DATASET_SPLIT_ORACLE)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (98/1/1) — the
    same id lands in the same split on any engine, any partitioning;
    the property random splits lack."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return hash_split(docs, "doc_id", {"train": 98, "val": 1, "test": 1})


@register(
    "sequence_packing",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(floor((run_total - n_chars) / 4096.0) AS BIGINT) AS chunk_id,
           CAST(run_total - n_chars AS BIGINT) AS chunk_offset
    FROM (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS run_total
      FROM documents
    )
    """,
)
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-in-order packing of documents into ~4096-unit chunks
    per language via a running-total window — fully parallel,
    deterministic chunk assignment for sequence building."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return sequence_packing(
        docs, id_col="doc_id", token_col="n_chars", budget=4096, partition_col="lang"
    )


@register(
    "term_doc_freq",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                              x -> x <> ''))) AS token
      FROM documents
    ),
    freq AS (
      SELECT lang, token, count(*) AS doc_freq FROM toks GROUP BY lang, token
    )
    SELECT lang, token, doc_freq, rank FROM (
      SELECT lang, token, doc_freq,
             row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, token) AS rank
      FROM freq
    ) WHERE rank <= 20
    """,
)
def term_doc_freq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: top-20 tokens per language by document
    frequency (deterministic lexicographic tiebreak)."""
    return term_doc_freq(
        table(spark, sf_dir, "documents"), "doc_id", "text", "lang", top_n=20
    )


_SAMPLE_BUCKET = hex_to_int_sql("md5('sample:' || CAST(doc_id AS VARCHAR))") + " % 100"


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_SAMPLE_BUCKET} < 20
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample by content hash — reproducible across
    engines/partitionings/runs, unlike ``df.sample()`` whose output
    depends on partitioning. Stratification is inherent: the hash is
    uniform within every stratum."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return docs.filter(bucket < 20)


_MIX_BUCKET = hex_to_int_sql("md5('mix:' || CAST(doc_id AS VARCHAR))") + " % 100"
MIX_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}
MIX_DEFAULT = 10


@register(
    "corpus_mixture",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE {_MIX_BUCKET} <
          CASE source {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items())}
               ELSE {MIX_DEFAULT} END
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting (operators.curation.mixture_sample):
    each source kept at its recipe rate (src0 100%, src1 75%, src2
    50%, src3 25%, others 10%) via deterministic hash-threshold
    admission — nested across rates, stable across engines."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return mixture_sample(
        docs, "doc_id", "source", rates=MIX_RATES, default_rate=MIX_DEFAULT
    )


_CURATE_SPLIT = hex_to_int_sql("md5('split:' || CAST(doc_id AS VARCHAR))") + " % 100"

CURATION_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             length(text) AS n_chars_m,
             len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                 t -> t IN ('der','die','und','ist','nicht','the','and','is','of','to',
                            'el','la','de','que','los','le','et','les','des'))) AS stop_hits
      FROM documents
    ),
    keep AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens >= 10
                   AND (CASE WHEN n_tokens > 0 THEN floor(stop_hits * 10000 / n_tokens) ELSE 0 END) > 0
                   AND (CASE WHEN n_chars_m > 0 THEN floor(n_punct * 10000 / n_chars_m) ELSE 0 END) < 2000
                  THEN 'good'
                  WHEN n_tokens >= 3 THEN 'fair'
                  ELSE 'junk' END AS quality
      FROM m
      WHERE n_tokens >= 10
        AND (CASE WHEN n_tokens >= 10
                   AND (CASE WHEN n_tokens > 0 THEN floor(stop_hits * 10000 / n_tokens) ELSE 0 END) > 0
                   AND (CASE WHEN n_chars_m > 0 THEN floor(n_punct * 10000 / n_chars_m) ELSE 0 END) < 2000
                  THEN 'good'
                  WHEN n_tokens >= 3 THEN 'fair'
                  ELSE 'junk' END) <> 'junk'
    ),
    enriched AS (
      SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, k.n_tokens, k.quality
      FROM documents d JOIN keep k USING (doc_id)
    ),
    deduped AS (
      SELECT * FROM (
        SELECT e.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM enriched e
      ) WHERE rn = 1
    )
    SELECT doc_id, text, lang, source, n_chars, n_tokens, quality,
           CASE WHEN {_CURATE_SPLIT} < 98 THEN 'train'
                WHEN {_CURATE_SPLIT} < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM deduped
"""


@register("curation_pipeline", oracle=CURATION_ORACLE)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation: quality filter → exact-dup removal →
    deterministic split — the end-to-end shape of a training-data
    prep job, as ONE declarative plan."""
    return curate(table(spark, sf_dir, "documents"), "doc_id", "text", min_tokens=10)


DOC_CHUNK_ORACLE = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
    ),
    c AS (
      SELECT doc_id,
             unnest(range(0, (n - 1) // 400 + 1)) AS chunk_idx,
             text, n
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(length(substr(text, chunk_idx * 400 + 1, 500)) AS INT) AS chunk_len,
           md5(substr(text, chunk_idx * 400 + 1, 500)) AS chunk_hash
    FROM c
"""


@register("doc_chunking", oracle=DOC_CHUNK_ORACLE)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: split documents into overlapping training windows —
    500-char chunks on a 400-char stride (100-char overlap), the
    standard long-document preprocessing before tokenize-and-pack.
    One narrow ``sequence``+``explode`` per doc (chunk count derived
    from the length, no join, no shuffle); emits the chunk hash
    rather than the text so the evidence row stays small while still
    pinning the exact chunk CONTENT."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chunk, stride = 500, 400
    n_chunks = (F.length("text") - 1) / stride
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(0), n_chunks.cast("int"))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.length(
                F.substring(F.col("text"), F.col("chunk_idx") * stride + 1, chunk)
            ).cast("int").alias("chunk_len"),
            F.md5(
                F.encode(
                    F.substring(F.col("text"), F.col("chunk_idx") * stride + 1, chunk),
                    "utf-8",
                )
            ).alias("chunk_hash"),
        )
    )


DET_SHUFFLE_ORACLE = f"""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':epoch7') AS shuffle_key,
           CAST({hex_to_int_sql("md5(CAST(doc_id AS VARCHAR) || ':epoch7')")} % 256 AS BIGINT)
             AS shard
    FROM documents
"""


@register("deterministic_shuffle", oracle=DET_SHUFFLE_ORACLE)
def deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: reproducible corpus shuffle for training order — a
    salted hash is the sort key (new salt = new permutation, same
    salt = bit-identical order on any cluster size), and its top bits
    are the output shard. Writers materialize the order with
    ``repartitionByRange(shard, shuffle_key)`` +
    ``sortWithinPartitions`` — a RANGE shuffle, never a global
    single-partition sort; this evidence query emits the key and
    shard columns themselves so the permutation (not just its
    statistics) is hash-pinned against the oracle."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch7")))
    return docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        (F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % 256).alias("shard"),
    )


TEMP_MIX_ORACLE = """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e9) AS BIGINT) AS sn_nano
      FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(sn_nano) AS z_nano FROM s)
    SELECT s.source,
           s.n,
           CAST(round(CAST(s.sn_nano AS DOUBLE) / t.z_nano * 1e9) AS BIGINT) AS weight_nano,
           CAST(floor(100000 * CAST(s.sn_nano AS DOUBLE) / t.z_nano) AS BIGINT) AS target_docs
    FROM s CROSS JOIN t
"""


@register("temperature_mixture", oracle=TEMP_MIX_ORACLE)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM data mixing: temperature-flattened source weights
    w_i ∝ n_i^α with α = 1/2 — the standard up-sampling of small
    sources / down-sampling of giants before training (α=1 is
    proportional, α=0 uniform). α is fixed at 1/2 because sqrt is
    IEEE-correctly-rounded on every engine — pow(x, α) for general α
    is not — so the nano-quantized weights hash-match exactly. The
    normalizer z is summed as nano-scaled BIGINTs (round(sqrt(n)*1e9)),
    not doubles: integer addition is order-free, so the result is
    identical under any partial-aggregation order on either engine
    (a double sum's last digit can flip with combine order and break
    the hash match — same trick as embedding_drift). Emits the
    per-source weight and its 100k-document allocation; the actual
    admission reuses the deterministic hash-threshold sampler
    (`corpus_mixture`) with these rates."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sqrt(F.count(F.lit(1)).cast("double")) * 1e9)
        .cast("long")
        .alias("sn_nano"),
    )
    z = s.agg(F.sum("sn_nano").alias("z_nano"))
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("sn_nano").cast("double") / F.col("z_nano") * 1e9)
            .cast("long")
            .alias("weight_nano"),
            F.floor(100000 * F.col("sn_nano").cast("double") / F.col("z_nano"))
            .cast("long")
            .alias("target_docs"),
        )
    )


TOPK_AGG_ORACLE = """
    SELECT l_returnflag,
           CAST(k.o AS BIGINT) AS l_orderkey,
           CAST(k.p AS BIGINT) AS price_cents
    FROM (
      SELECT l_returnflag,
             unnest(list_slice(
               list_sort(list((CAST(round(l_extendedprice * 100) AS BIGINT),
                               l_orderkey)),
                         'DESC'),
               1, 3)) AS pair
      FROM lineitem GROUP BY l_returnflag
    ) t(l_returnflag, pair),
    LATERAL (SELECT pair[2] AS o, pair[1] AS p) k
"""


@register("topk_per_group_agg", oracle=TOPK_AGG_ORACLE)
def topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITHOUT a window: collect (price, key) structs
    per group, sort and slice inside the aggregate. The window
    formulation shuffles and sorts EVERY row by group; this shape is
    partial-aggregatable — each map task keeps its local rows, one
    k-row slice survives per group per side. (Spark lacks a bounded
    collect-top-k UDAF built-in, so the full list is collected per
    group before the slice — the documented trade: right when groups
    are bounded, e.g. pre-aggregated or high-cardinality keys; the
    window path remains for giant single groups.) Ties broken by the
    struct's second field DESC — mirrored exactly in the oracle's
    pair sort."""
    li = table(spark, sf_dir, "lineitem")
    pair = F.struct(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.col("l_orderkey").alias("o"),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.slice(F.sort_array(F.collect_list(pair), asc=False), 1, 3).alias("top")
        )
        .select(
            "l_returnflag",
            F.explode("top").alias("pair"),
        )
        .select(
            "l_returnflag",
            F.col("pair.o").cast("long").alias("l_orderkey"),
            F.col("pair.p").cast("long").alias("price_cents"),
        )
    )


WSAMPLE_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(round(ln(({hex_to_int_sql("md5('wsample:' || CAST(doc_id AS VARCHAR))")} + 1) / 4294967296.0)
                        * 1000000000.0) AS BIGINT) AS ln_q
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(ln_q AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC,
                        doc_id) AS wkey_rank
      FROM keyed
    )
    SELECT doc_id, lang, n_chars, CAST(wkey_rank AS BIGINT) AS wkey_rank
    FROM ranked WHERE wkey_rank <= 3
"""


@register("weighted_sample", oracle=WSAMPLE_ORACLE)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: Efraimidis-Spirakis weighted sampling without
    replacement — 3 docs per language, probability proportional to
    ``n_chars`` — with HASH-derived uniforms so the chosen set is
    content-stable across engines/runs/partitionings (the contract
    every curation op here shares; a rand()-seeded sample has none of
    it). The race key ln(u)/w is one IEEE division of two exact
    integers (nano-quantized ln, integer weight), so both engines
    rank identically; ties break on doc_id. One narrow projection +
    one per-group top-k window = single shuffle on the group key."""
    docs = table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        docs.select("doc_id", "lang", "n_chars"),
        "doc_id",
        "lang",
        "n_chars",
        k=3,
    ).select(
        "doc_id", "lang", "n_chars",
        F.col("wkey_rank").cast("long").alias("wkey_rank"),
    )


LINE_DEDUP_ORACLE = """
    WITH ch AS (
      SELECT doc_id,
             md5(substr(text, k * 100 + 1, 100)) AS h,
             CAST(length(substr(text, k * 100 + 1, 100)) AS BIGINT) AS seg_len
      FROM (SELECT doc_id, text,
                   unnest(range(0, ((length(text) - 1) // 100) + 1)) AS k
            FROM documents WHERE length(text) > 0)
    ),
    df AS (SELECT h, count(DISTINCT doc_id) AS docfreq FROM ch GROUP BY h)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN df.docfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS boiler_segments,
           CAST((SUM(CASE WHEN df.docfreq >= 2 THEN seg_len ELSE 0 END) * 10000)
                // SUM(seg_len) AS BIGINT) AS boiler_bp,
           CAST(CASE WHEN SUM(CASE WHEN df.docfreq >= 2 THEN seg_len ELSE 0 END) * 2
                          < SUM(seg_len)
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM ch c JOIN df ON c.h = df.h
    GROUP BY c.doc_id
"""


@register("line_dedup_boilerplate", oracle=LINE_DEDUP_ORACLE)
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level segment dedup: split every document into
    fixed 100-char segments, count each segment content's document
    frequency ACROSS the corpus, and score each document by how much
    of it is 'boilerplate' (segments appearing in ≥2 distinct docs —
    headers, footers, templated passages); docs that are mostly
    boilerplate are dropped (``keep = 0`` when ≥ half the chars are
    duplicated). The web-corpus counterpart of per-doc dedup: C4
    removed any LINE occurring ≥3 times in the crawl; this schema's
    texts have no newlines, so fixed segments stand in for lines
    while the corpus-frequency mechanics stay identical.

    Scale shape: segments derive via the doc_chunking
    sequence+explode arithmetic (no join); document frequency is one
    groupBy on the segment hash; the join back to segments reuses the
    SAME key (h → h, co-partitioned shuffle); the per-doc rollup is
    the only other shuffle. Ratio in basis points via integer DIV —
    no float division; ``keep`` as an exact integer comparison."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    seg = 100
    ch = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), ((F.length("text") - 1) / seg).cast("int"))
        ).alias("k"),
        "text",
    ).select(
        "doc_id",
        F.md5(
            F.encode(F.substring(F.col("text"), F.col("k") * seg + 1, seg), "utf-8")
        ).alias("h"),
        F.length(F.substring(F.col("text"), F.col("k") * seg + 1, seg))
        .cast("long")
        .alias("seg_len"),
    )
    df_ = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("docfreq"))
    boiler = F.when(F.col("docfreq") >= 2, F.col("seg_len")).otherwise(F.lit(0))
    return (
        ch.join(df_, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(F.when(F.col("docfreq") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("boiler_segments"),
            F.sum(boiler).alias("__bchars__"),
            F.sum("seg_len").alias("__tchars__"),
        )
        .select(
            "doc_id",
            "n_segments",
            "boiler_segments",
            F.expr("CAST((__bchars__ * 10000) DIV __tchars__ AS BIGINT)").alias(
                "boiler_bp"
            ),
            (F.col("__bchars__") * 2 < F.col("__tchars__")).cast("long").alias("keep"),
        )
    )


GOPHER_RULES_ORACLE = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(CASE WHEN len(ws) > 0
                  THEN (list_sum(list_transform(ws, x -> length(x))) * 100)
                       // len(ws)
                  ELSE 0 END AS BIGINT) AS mean_word_len_c,
             CAST(len(list_intersect(
                    ws, ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS stopword_hits
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len_c, stopword_hits,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
             AS BIGINT) AS rule_word_count,
           CAST(CASE WHEN mean_word_len_c BETWEEN 300 AND 1000 THEN 1 ELSE 0 END
             AS BIGINT) AS rule_mean_word_len,
           CAST(CASE WHEN stopword_hits >= 1 THEN 1 ELSE 0 END
             AS BIGINT) AS rule_stopwords,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND mean_word_len_c BETWEEN 300 AND 1000
                      AND stopword_hits >= 1 THEN 1 ELSE 0 END
             AS BIGINT) AS keep
    FROM m
"""


@register("gopher_quality_rules", oracle=GOPHER_RULES_ORACLE)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: the Gopher / MassiveText published go/no-go quality rules
    (word-count bounds, mean-word-length band, >= 2 distinct
    stopwords) as per-rule pass bits plus the conjunction — the
    filter a web-scale curation pipeline runs FIRST, before any
    model-based scoring, because it is one codegen'd scan with zero
    shuffles (``quality_metrics`` reports continuous signals; this
    reports the published decisions and why). Thresholds are exact
    integer comparisons — mean word length in floor-divided
    centi-chars — so a 1000-executor run and the single-threaded
    oracle make bit-identical decisions. The stopword threshold is
    pinned to 1 here (operator default: Gopher's published 2) — the
    synthetic vocabulary contains only one of the eight Gopher
    stopwords, so the published value would fail every document and
    the rule would stop discriminating."""
    from ..operators.text import gopher_rules

    return gopher_rules(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        min_stopword_hits=1,
    )


DSIR_ORACLE = """
    WITH arrs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS fil
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             substr(md5(fil[i] || ' ' || fil[i + 1]), 1, 4) AS bucket
      FROM arrs, unnest(range(1, len(fil))) AS t(i)
      WHERE len(fil) >= 2
    ),
    tf AS (
      SELECT doc_id, lang, bucket, CAST(count(*) AS BIGINT) AS tf
      FROM bg GROUP BY doc_id, lang, bucket
    ),
    bc AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(tf) AS BIGINT) AS cr
      FROM tf GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr
      FROM bc
    ),
    lam AS (
      SELECT bucket,
             CAST(round((ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 65536.0))
                         - ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 65536.0)))
                        * 1000000000.0) AS BIGINT) AS lam_nano
      FROM bc CROSS JOIN tot
    )
    SELECT t.doc_id,
           CAST(SUM(t.tf) AS BIGINT) AS n_features,
           CAST(SUM(t.tf * l.lam_nano) AS BIGINT) AS logratio_nano
    FROM tf t JOIN lam l ON t.bucket = l.bucket
    GROUP BY t.doc_id
"""


@register("dsir_importance", oracle=DSIR_ORACLE)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: Data Selection via Importance Resampling (Xie et al. 2023)
    — score every document by its hashed-bigram log importance weight
    ln p_target(x) - ln p_raw(x) under bag-of-ngram unigram models,
    where the TARGET distribution is estimated from the ``lang='en'``
    slice and RAW from the whole corpus. The DSIR trick is that both
    models live over a FIXED hashed feature space (here the first 4
    hex chars of md5(bigram): 65536 buckets, string keys — no
    hex-to-int conversion to keep the oracle trivial), so the model
    is a bounded-size relation regardless of corpus size.

    Plan shape at 100 TB: one narrow bigram+hash projection, one
    (doc, bucket) partial-agg'd count, one bucket-level aggregation
    into the <= 65536-row model, and a BROADCAST join of that model
    back onto the per-doc term frequencies — the corpus shuffles
    once, on (doc_id, bucket). Determinism: add-one-smoothed
    log-ratios are quantized per bucket to nano BIGINTs, and per-doc
    scores are exact integer dot products tf . lam — order-free, so
    the distributed sum hash-matches the oracle. Composed from
    ``operators.dsir`` (bucket counts → model → score), whose
    statistics are associative sums — the streaming maintenance sink
    (``streaming_dsir_counts_sink``) appends per-batch statistics and
    yields EXACTLY this query's scores (parity-tested)."""
    from ..operators.dsir import dsir_bucket_counts, dsir_model, dsir_score

    docs = table(spark, sf_dir, "documents")
    counts = dsir_bucket_counts(docs, "doc_id", "text", F.col("lang") == "en")
    return dsir_score(docs, dsir_model(counts), "doc_id", "text")


def _web_corpus_oracle() -> str:
    """Assemble the composed-pipeline oracle from the SAME SQL pieces
    the standalone stage oracles use (gopher keep set, boilerplate
    keep set, the MinHash cluster closure re-pointed at the filtered
    corpus, the DSIR model) — textual reuse, so a fix to any stage
    oracle propagates here and the two can never disagree."""
    from .extensions import _BANDED_SQL, _MINHASH_SQL, _SETS_SQL

    sets_f = _SETS_SQL.replace("FROM documents", "FROM docs_f")
    return f"""
    WITH RECURSIVE
    g AS (SELECT doc_id FROM ({GOPHER_RULES_ORACLE}) WHERE keep = 1),
    bl AS (SELECT doc_id FROM ({LINE_DEDUP_ORACLE}) WHERE keep = 1),
    docs_f AS (
      SELECT d.* FROM documents d
      JOIN g USING (doc_id) JOIN bl USING (doc_id)
    ),
    sets AS ({sets_f}),
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
      SELECT doc_id, doc_id FROM docs_f
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    sized AS (
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl
    ),
    ranked AS (
      SELECT s.doc_id, s.cluster_id, s.cluster_size, d.n_chars, d.lang,
             row_number() OVER (PARTITION BY s.cluster_id
                                ORDER BY d.n_chars DESC, s.doc_id) AS rn
      FROM sized s JOIN docs_f d USING (doc_id)
    ),
    reps AS (SELECT doc_id, cluster_id, cluster_size, n_chars, lang
             FROM ranked WHERE rn = 1),
    arrs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS fil
      FROM docs_f
    ),
    bg AS (
      SELECT doc_id, lang,
             substr(md5(fil[i] || ' ' || fil[i + 1]), 1, 4) AS bucket
      FROM arrs, unnest(range(1, len(fil))) AS t(i)
      WHERE len(fil) >= 2
    ),
    tf AS (
      SELECT doc_id, lang, bucket, CAST(count(*) AS BIGINT) AS tf
      FROM bg GROUP BY doc_id, lang, bucket
    ),
    bc AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(tf) AS BIGINT) AS cr
      FROM tf GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM bc
    ),
    lam AS (
      SELECT bucket,
             CAST(round((ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 65536.0))
                         - ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 65536.0)))
                        * 1000000000.0) AS BIGINT) AS lam_nano
      FROM bc CROSS JOIN tot
    ),
    scores AS (
      SELECT t.doc_id, CAST(SUM(t.tf * l.lam_nano) AS BIGINT) AS logratio_nano
      FROM tf t JOIN lam l ON t.bucket = l.bucket
      GROUP BY t.doc_id
    ),
    final AS (
      SELECT r.doc_id, r.cluster_id, r.cluster_size, r.lang, r.n_chars,
             COALESCE(s.logratio_nano, CAST(-1000000000000000 AS BIGINT)) AS logratio_nano,
             row_number() OVER (PARTITION BY r.lang
                                ORDER BY COALESCE(s.logratio_nano,
                                                  CAST(-1000000000000000 AS BIGINT)) DESC,
                                         r.doc_id) AS lang_rank
      FROM reps r LEFT JOIN scores s USING (doc_id)
    )
    SELECT doc_id, cluster_id, cluster_size, lang, n_chars, logratio_nano,
           CAST(lang_rank AS BIGINT) AS lang_rank
    FROM final WHERE lang_rank <= 25
"""


@register("web_corpus_curate", oracle=_web_corpus_oracle())
def web_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern web-corpus curation recipe END-TO-END as one
    declarative dataflow — the composition proof that the §2.K stages
    are operators, not demos: (1) Gopher go/no-go rules, (2) drop
    boilerplate-heavy documents (corpus-level segment docfreq), (3)
    MinHash near-dup clusters collapsed to their BEST (longest)
    member, (4) DSIR importance scoring against the en target, (5)
    deterministic top-25 per language by (score, id). Every stage is
    the SAME operator the standalone queries run (gopher_rules,
    line_dedup_boilerplate's docfreq plan, near_dedup_minhash →
    dedup_clusters → keep_best_per_cluster, dsir_*), and the oracle is
    textually assembled from the same stage-oracle SQL, so the
    composed pipeline can never drift from its parts.

    Scale: the stages chain by doc_id semi-joins (each filter pass
    shrinks the corpus before the expensive dedup/DSIR stages see
    it — rule filters are O(corpus) narrow scans, so they go FIRST,
    the order a 100 TB run needs); the cluster stage inherits every
    LSH skew guard; the DSIR model broadcast keeps the scoring join
    shuffle-free; the final per-lang top-k is a bounded window over
    the surviving representatives only."""
    from ..operators.dedup import attach_cache, keep_best_per_cluster
    from ..operators.dsir import dsir_bucket_counts, dsir_model, dsir_score
    from ..operators.text import gopher_rules
    from pyspark.sql import Window

    from .extensions import minhash_clusters

    docs = table(spark, sf_dir, "documents")
    g_ids = (
        gopher_rules(docs, "doc_id", "text", min_stopword_hits=1)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    bl_ids = (
        line_dedup_boilerplate(spark, sf_dir)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    eligible = docs.join(g_ids, "doc_id", "left_semi").join(
        bl_ids, "doc_id", "left_semi"
    )
    clusters = minhash_clusters(eligible)
    reps = keep_best_per_cluster(
        clusters, eligible.select("doc_id", "n_chars", "lang"), "doc_id", "n_chars"
    ).select("doc_id", "cluster_id", "cluster_size", "n_chars", "lang")
    model = dsir_model(
        dsir_bucket_counts(eligible, "doc_id", "text", F.col("lang") == "en")
    )
    scores = dsir_score(eligible, model, "doc_id", "text").select(
        "doc_id", "logratio_nano"
    )
    sentinel = F.lit(-1000000000000000).cast("long")
    w = Window.partitionBy("lang").orderBy(
        F.col("logratio_nano").desc(), F.col("doc_id")
    )
    out = (
        reps.join(scores, "doc_id", "left")
        .withColumn("logratio_nano", F.coalesce(F.col("logratio_nano"), sentinel))
        .withColumn("lang_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("lang_rank") <= 25)
        .select(
            "doc_id", "cluster_id", "cluster_size", "lang", "n_chars",
            "logratio_nano", "lang_rank",
        )
    )
    return attach_cache(out, *getattr(clusters, "_spark_graft_cached", ()))
