"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"} (plus an
"oracle" block with the SAME-SESSION DuckDB replay of the identical
workloads — the honest baseline comparison; a stale oracle measurement
compounds staleness every round).

Each query executes to completion through the noop sink — full
computation on the executors, zero driver-side collect, which is how
these plans would run on a real cluster (driver collect would be the
anti-pattern SURVEY §2 calls out in the reference's fetchall loop).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# byte budget of the compact final stdout line, which must fit whole
# in a 2000-byte stdout tail (see the comment at its use)
LINE_BYTES = 1900

HEADLINE = [
    "groupby_agg",          # TPC-H Q1 shape: scan + partial agg
    "star_join_chain",      # broadcast star join, zero fact shuffles
    "velocity_fraud_rule",  # window lag + filter (the flagship H3)
    "scd1_merge_full",      # full-outer-join SCD1 recompute
    "fact_append_dedup",    # anti-join idempotent append
    "fraud_blacklist_semi", # star join + semi join
    "orderby_limit",        # TakeOrderedAndProject top-k
    "exact_dedup",          # hash-key dedup window
    "text_stats",           # string-function scan
    "near_dedup_minhash",   # shingle → MinHash → LSH → Jaccard verify
    "similarity_topk",      # brute-force cosine top-k (scaled-int dot)
    "simhash_fingerprint",  # per-doc 32-bit SimHash
    "multimodal_features",  # Arrow mapInPandas binary-payload extract
    "analytic_top_orders",  # TPC-H Q3 shape: filter→join→agg→top-k
    "analytic_regional_revenue",  # TPC-H Q5 shape: 5-way join
    "embedding_near_dup",   # hyperplane-LSH cosine near-dup pairs
    # round-6 additions: tracked from their first driver-checked round
    "containment_dedup",    # asymmetric containment over LSH candidates
    "unigram_logprob_quality",  # corpus LM scoring (explode+join)
    "dedup_apply",          # pairs → clusters → keep-decision
    "kl_domain_shift",      # per-language KL vs corpus mixture
    # mid-round-6 additions
    "containment_dedup_full",  # exact prefix-filter containment join
    "ngram_diversity",      # trigram type/token ratio per slice
    "winsorize_stats",      # exact order-stat clipped aggregates
    "bpe_train_merges",     # iterative BPE tokenizer training
    "triangle_count",       # compact-forward triangles on support graph
    "similarity_pq_adc",    # PQ ADC search over m-int codes
    "edit_distance_dedup",  # LSH screen + exact Levenshtein verify
    "phrase_search",        # positional-postings anchor aggregation
    "corpus_overlap_kmv",   # mergeable KMV slice-overlap estimates
    "sessionize_events",    # gaps-and-islands one-shuffle sessions
    "benford_screen",       # leading-digit chi-squared forensic
    "label_propagation_communities",  # 3-round modal-label graph
    "multimodal_decode_gif",  # real LZW decode via mapInPandas
    "text_clean",           # NFC pandas_udf + JVM regex cleanup
    "similarity_ivfpq",     # cell assign + residual PQ + per-cell ADC
    "bigram_lm_quality",    # add-one bigram LM scoring
    # round-8 additions
    "winnowing_fingerprint",  # MOSS robust winnowing, numpy mapInPandas
    "analytic_q17_small_qty_revenue",  # decorrelated scalar-avg probe
    "analytic_q22_global_sales_opportunity",  # global-scalar + anti join
    "winnow_dedup_pairs",   # fingerprint-overlap dedup, capped postings
    "nb_lang_classifier",   # in-engine Naive Bayes train+apply
    "analytic_q15_top_supplier",  # view + scalar-max tie-preserving
    "simhash_near_dup",     # Hamming-banded pigeonhole dedup pairs
    "kcore_decomposition",  # fixed-round synchronous k-core peel
    # TPC-H completion (registry/tpchq.py) — representative subset
    "analytic_q7_volume_shipping",   # two-nation pair disjunction
    "analytic_q9_product_profit",    # signed profit, mid-string LIKE
    "analytic_q13_customer_distribution",  # outer join, ON-clause filter
    "analytic_q16_supplier_relationship",  # NOT IN anti + count distinct
    "analytic_q19_disjunctive_revenue",    # OR-of-conjuncts pushdown
    # late-round-8 additions
    "band_join_tolerance",    # bucketed |a-b|<=t self-join, never nested-loop
    "line_dedup_boilerplate", # C4-style corpus segment docfreq scoring
    "gopher_quality_rules",   # published rule set, single codegen'd scan
    "dsir_importance",        # hashed-bigram importance weights, broadcast model
    "dedup_keep_best",        # best-of-cluster keep policy over minhash clusters
    "record_linkage_fs",      # Fellegi-Sunter scoring over band-join blocking
    "sorted_neighborhood_pairs",  # rank-window blocking on distributed global rank
    # data-mining tier (registry/miningq.py)
    "frequent_pairs",         # market-basket brand pairs, support + integer lift
    "pareto_skyline",         # O(n log n) level-prefix-max vs quadratic oracle
    "rank_fusion",            # RRF of BM25 top-k and cosine top-k
    "bfs_distances",          # 3-round multi-source BFS over the trade graph
    "ivf_recall",             # ANN quality: IVF recall@5 vs exact brute force
    "fixed_width_scan",       # fixed-width text round-trip, codegen parse
    # distributed-statistics tier (registry/statsq.py)
    "grouped_ols",            # closed-form per-group OLS, one stats aggregation
    "decision_stump",         # histogram-method best-split search
    "pca_power_component",    # exact-integer Gram-matrix power iteration
    "mutual_nn_align",        # LSH-bucketed mutual top-1 alignment
    "acf_daily_counts",       # date-shift equi-join autocorrelation
    "geo_cell_radius_join",   # 3x3 grid-cell spatial radius join
    "dbscan_clusters",        # grid DBSCAN, star-contraction components
    "chi_square_assoc",       # contingency chi-square cell contributions
    "seasonal_decompose",     # dow seasonal index + exact anomaly rule
    "item_item_topk",         # co-purchase cosine neighborhood recommender
    "seasonal_naive_forecast",  # MASE backtest, date-shift error sums
    "golden_record",          # survivorship merge over near-dup clusters
    "bootstrap_mean_ci",      # hash-deterministic Poisson bootstrap
    # round-8 additions: product-analytics tier (registry/productq.py)
    "exact_quantiles_price",  # histogram-refinement exact order stats
    "heavy_hitters_exact",    # candidate screen + proved-exact top-k
    "delta_scan",             # Delta-log round trip, partitioned snapshot read
    "xlsx_scan_distributed",  # executor-side xlsx parse via binaryFile
    # late-round-8 additions: lakehouse + codec tier
    "iceberg_scan",           # Iceberg snapshot round trip, Avro manifests
    "avro_scan_distributed",  # executor-side Avro object-container parse
    "multimodal_decode_jpeg_progressive",  # SOF2 + restart-interval decode
    "delta_cdf",              # change-data-feed from the transaction log
    "deltalog_source_scan",   # Delta as a Spark-4 Python DataSource
    "iceberglog_source_scan", # Iceberg as a Spark-4 Python DataSource
    "kaplan_meier_churn",     # survival risk table with censoring
    "sssp_bounded_hops",      # Bellman-Ford weighted shortest paths
    # round-9 additions: merge-on-read + streaming lakehouse loop
    "iceberg_v2_pos_delete_scan",  # v2 position deletes, anti-join apply
    "delta_dv_scan",          # deletion vectors, roaring sidecar apply
    "streaming_datasource_write",  # readStream->writeStream exactly-once
    "iceberg_upsert_scan",    # equality deletes, seq-bound upsert merge
    "delta_column_mapping_scan",  # name-mode physical->logical projection
    "delta_cdf_row_level",    # DV-delta row-level change data feed
    "streaming_cdf_read",     # readChangeFeed streaming source
    "iceberg_rename_scan",    # rename evolution, name-mapping coalesce
    "delta_merge_scd1",       # MERGE INTO via DV-kill + re-insert
    "delta_update_scan",      # UPDATE via DV-kill + re-write
    "iceberg_update_scan",    # UPDATE via pos-delete + re-write
    "iceberg_changelog_scan", # per-snapshot changelog reads
    "delta_restore_scan",     # RESTORE TO VERSION, DV-aware re-adds
    "iceberg_rollback_scan",  # rollback_to_snapshot metadata re-point
    # round-10 additions
    "delta_column_mapping_id_scan",  # id-mode mapping, field-id reads
    "iceberg_drop_column_scan",      # DROP COLUMN on real field ids
    "iceberg_eq_changelog_scan",     # eq-delete changelog, deferred match
    "iceberg_bucket_partition_scan", # spec murmur3 bucket layout + DML
    "delta_v2_checkpoint_scan",      # v2 manifest + sidecar replay
    "iceberg_hour_partition_scan",   # hour(ts) transform layout + DML
    "iceberg_add_column_scan",       # ADD COLUMN evolution in an upsert
    # round-11 additions (late round): command + lifecycle surfaces
    "delta_optimize_scan",           # OPTIMIZE bin-pack, DV materialize
    "delta_zorder_scan",             # OPTIMIZE ZORDER BY + pruned scan
    "delta_constraint_scan",         # CHECK constraint enforce/refuse
    "delta_rename_column_scan",      # RENAME under mapping, two generations
    "delta_timestamp_travel",        # TIMESTAMP AS OF resolution
    "delta_clone_scan",              # shallow clone, log-attached partitions
    "delta_generated_partition_scan",  # generated partition column
    "iceberg_tag_scan",              # tag read survives expiry
    "iceberg_spec_evolution_scan",   # two spec generations, one scan
    "iceberg_wap_publish",           # branch write-audit-publish
    "iceberg_rewrite_manifests_scan",  # manifest-tree maintenance
    "iceberg_timestamp_travel",      # FOR TIMESTAMP AS OF
    "iceberg_partitions_metadata",   # $partitions manifest rollup
    "iceberg_zorder_scan",           # z-ordered replace compaction
    # round-11 additions (continued): nested types (struct/array/map)
    "delta_nested_scan",             # nested round trip + DV delete
    "iceberg_nested_scan",           # nested ids + upsert over nested
    "delta_identity_scan",           # GENERATED ALWAYS id allocation
    "delta_convert_scan",            # CONVERT TO DELTA in place
    "iceberg_add_files_scan",        # snapshot/add_files migration
    "delta_uniform_iceberg_scan",    # UniForm: Iceberg metadata over Delta
    "iceberg_sorted_scan",           # sort orders: range files + pruning
    "delta_ict_travel",              # in-commit timestamps travel
    "delta_row_tracking_scan",       # row ids through DML + OPTIMIZE
    "iceberg_dv_delete_scan",        # v3 puffin deletion vectors
    "iceberg_row_lineage_scan",      # v3 first_row_id + position ids
    "delta_liquid_cluster_scan",     # CLUSTER BY + OPTIMIZE pruning
    "iceberg_default_values_scan",   # v3 ADD COLUMN ... DEFAULT
]

#: parquet tables the oracle side registers as DuckDB views (same list
#: as tools/check.py — the driver pre-registers these for oracle_sql)
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def run_bench(
    spark, sf_dir: str, runs: int, names: list[str] = HEADLINE
) -> dict[str, dict[str, float]]:
    """Per-query best-of-``runs`` wall seconds for the ``names`` set at
    ``sf_dir``, measured in BOTH windows every round (the r5→r6
    trendline broke when the timed window silently changed —
    BASELINE.md:31-36 — so both are now first-class):

    - ``total``: build + execute. The build call can do real cluster
      work (size probes, persisted iterations), so this is the honest
      end-to-end cost of the query.
    - ``exec``: the noop-sink execution alone — comparable to the
      r1–r5 execute-only series.

    Best-of is selected on the TOTAL; exec is that same run's
    execute slice (windows stay mutually consistent). Shared by the
    CLI entry below, tools/bench_scaling and tools/bench_subset."""
    from etl_processing_scd1_spark.operators.dedup import release_cached
    from etl_processing_scd1_spark.registry import EXTRA_QUERIES, QUERIES

    all_queries = {**QUERIES, **EXTRA_QUERIES}

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plans, not first-touch costs.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    timings: dict[str, dict[str, float]] = {}
    for name in names:
        # label jobs per query (guide §1.5) so UI/eventlog stage
        # attribution is readable; thread-local, no timing effect
        spark.sparkContext.setJobDescription(f"bench:{name}")
        best_total, best_exec = float("inf"), float("inf")
        for _ in range(runs):
            # isolate queries from each other: no cross-query cache or
            # shuffle-reuse effects in the measured numbers
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = all_queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if t2 - t0 < best_total:
                best_total, best_exec = t2 - t0, t2 - t1
            # release attach_cache'd intermediates (clearCache misses
            # RDD-level checkpoint persists) — 20 queries × N runs of
            # leaked caches would distort later measurements
            release_cached(df)
        timings[name] = {"total": round(best_total, 4), "exec": round(best_exec, 4)}
        print(f"  engine {name}: {best_total:.3f}s (exec {best_exec:.3f}s)", file=sys.stderr)
    # clear the thread-local label so later jobs in this session don't
    # inherit the last bench query's description (ADVICE r11)
    spark.sparkContext.setJobDescription(None)
    return timings


#: Oracles whose single-run wall time has swung >3× across rounds on
#: identical SQL (BASELINE.md:174-181 — embedding_near_dup drew
#: 130–970 s): the quadratic LSH replay and the recursive-CTE cluster
#: closures. These get MEDIAN-of-3 instead of adaptive single runs so
#: one ambient-load outlier can't swing the headline ratio (r8 verdict
#: What's-wrong #2); every other oracle keeps best-of with adaptive
#: early-out.
VOLATILE_ORACLES = {
    "embedding_near_dup",
    "dedup_apply",
    "dedup_keep_best",
    "golden_record",
}


def run_oracles(
    sf_dir: str, runs: int
) -> tuple[dict[str, float], dict[str, dict]]:
    """Same-session DuckDB replay of the headline queries' oracle SQL
    over the identical parquet. Returns (seconds per query, per-query
    meta {runs, capped}) — best-of-``runs`` with adaptive early-out
    for stable oracles, median-of-3 for ``VOLATILE_ORACLES``."""
    import duckdb
    import statistics

    from etl_processing_scd1_spark.registry import EXTRA_ORACLES, ORACLES

    all_oracles = {**ORACLES, **EXTRA_ORACLES}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    # Per-query wall cap: the quadratic SQL replays have drawn
    # 130–970 s for ONE run across rounds; uncapped they put the whole
    # bench at the mercy of the driver's per-round timeout. A capped
    # query records its elapsed LOWER BOUND (meta "capped": true) —
    # conservative for the engine-vs-oracle ratio, bounded for
    # wall-clock.
    cap = float(os.environ.get("SPARK_GRAFT_ORACLE_CAP", "300"))
    timings: dict[str, float] = {}
    meta: dict[str, dict] = {}
    for name in HEADLINE:
        sql = all_oracles.get(name)
        if sql is None:
            continue
        volatile = name in VOLATILE_ORACLES
        n_target = 3 if volatile else runs
        samples: list[float] = []
        capped = False
        for _ in range(n_target):
            interrupter = None
            t0 = time.perf_counter()
            if cap > 0:
                import threading

                interrupter = threading.Timer(cap, con.interrupt)
                interrupter.start()
            try:
                con.execute(sql).fetchall()
            except duckdb.Error:
                elapsed = time.perf_counter() - t0
                if elapsed >= cap * 0.95:
                    samples.append(elapsed)
                    capped = True
                    print(f"  oracle {name}: CAPPED at {elapsed:.1f}s "
                          "(lower bound)", file=sys.stderr)
                    break  # 3x a capped run buys nothing
                raise
            finally:
                if interrupter is not None:
                    interrupter.cancel()
            samples.append(time.perf_counter() - t0)
            # adaptive repeats for STABLE oracles only: a minutes-heavy
            # replay gets one run — repetition only de-noises cheap
            # queries. Volatile oracles always take their 3 samples.
            if not volatile and min(samples) > 5.0:
                break
        value = (
            statistics.median(samples) if volatile and not capped
            else min(samples)
        )
        timings[name] = round(value, 4)
        meta[name] = {"runs": len(samples), "capped": capped}
        if volatile:
            meta[name]["samples"] = [round(s, 4) for s in samples]
        if not capped:
            kind = "median-of-%d" % len(samples) if volatile else \
                "best-of-%d" % len(samples)
            print(f"  oracle {name}: {value:.3f}s ({kind})", file=sys.stderr)
    con.close()
    return timings, meta


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from etl_processing_scd1_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # The host carries ±50% ambient load; per-query min over N runs
    # keeps round-over-round regressions attributable to plan changes
    # rather than noise. Default raised 3→5: round 4 proved min-of-3
    # does NOT suppress the ambient noise (a no-code-change round
    # moved four queries +80..150%).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    timings = run_bench(spark, sf_dir, runs)
    total = round(sum(t["total"] for t in timings.values()), 4)
    exec_total = round(sum(t["exec"] for t in timings.values()), 4)
    # The oracle side is a baseline yardstick, not a regression
    # detector — min-of-2 bounds the replay cost (several DuckDB
    # oracles — recursive-CTE clustering, unrolled BPE iterations —
    # are minutes-heavy at sf0.1, and 5 runs of each would dominate
    # the whole bench wall-clock).
    oracle_runs = int(os.environ.get("SPARK_GRAFT_ORACLE_RUNS", str(min(runs, 2))))
    oracle, oracle_meta = run_oracles(sf_dir, oracle_runs)
    oracle_total = round(sum(oracle.values()), 4)
    oracle_capped = sorted(n for n, m in oracle_meta.items() if m["capped"])

    # FULL detail goes to a file: the driver records only a bounded
    # tail of stdout, and r1–r6 proved a maximal JSON line gets its
    # HEAD truncated there (BENCH_r06.json "parsed": null). The
    # stdout line below stays compact enough to survive the tail
    # buffer intact; everything else lives in BENCH_full.json.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "exec_total": exec_total,
                "unit": "sec",
                "sf": sf,
                "runs": runs,
                "oracle_runs": oracle_runs,
                "queries": timings,
                "oracle": {
                    "engine": "duckdb",
                    "queries": oracle,
                    "per_query_meta": oracle_meta,
                    "wall_cap_sec": float(
                        os.environ.get("SPARK_GRAFT_ORACLE_CAP", "300")
                    ),
                    "volatile_median_of_3": sorted(
                        n for n in oracle if n in VOLATILE_ORACLES
                    ),
                    "capped_lower_bounds": oracle_capped,
                    "total": oracle_total,
                    "engine_vs_oracle": (
                        round(total / oracle_total, 4) if oracle_total else None
                    ),
                    "engine_exec_vs_oracle": (
                        round(exec_total / oracle_total, 4) if oracle_total else None
                    ),
                },
            },
            fh,
            indent=1,
        )

    # stdout contract (r7 verdict #2): the driver records only the LAST
    # ~2000 bytes of stdout, and the 75-query map alone overflows that,
    # head-truncating whatever line carries it (BENCH_r06/r07 "parsed":
    # null). So stdout is two lines: the full per-query map first (may
    # lose its head in the driver tail — it also lives intact in
    # BENCH_full.json), then ONE compact FINAL line that is guaranteed
    # to fit the tail buffer whole: contract fields + totals first, and
    # only as many per-query entries (most-expensive first) as keep the
    # line under the byte budget, with the omission surfaced.
    full_map = {n: t["total"] for n, t in timings.items()}
    print(json.dumps({"all_queries": full_map, "sf": sf}, separators=(",", ":")))

    # r12 (verdict #2): carry as many per-query timings as physically
    # fit. The driver tail keeps the LAST 2000 bytes of stdout (r10/r11
    # BENCH_*.json tail len == 2000 exactly), so the final line must be
    # < 2000 bytes WHOLE or its head is cut and nothing parses. All 135
    # full-name entries need ~4.1 KB even at 2 decimals — impossible in
    # that window — so: budget raised 1500 → 1900 and values encoded at
    # 2 decimals (bench noise floor is ~±10%, so centiseconds lose
    # nothing), which roughly doubles queries_shown. The COMPLETE
    # 4-decimal map is deterministic in BENCH_full.json ("detail"),
    # committed after the final run, and on the all_queries line below.

    def compact_line(top_n: int) -> str:
        top = {
            k: round(v, 2)
            for k, v in sorted(full_map.items(), key=lambda kv: -kv[1])[:top_n]
        }
        return json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "exec_total": exec_total,
                "oracle_total": oracle_total,
                "engine_vs_oracle": (
                    round(total / oracle_total, 4) if oracle_total else None
                ),
                "engine_exec_vs_oracle": (
                    round(exec_total / oracle_total, 4) if oracle_total else None
                ),
                "detail": "BENCH_full.json",
                "queries_shown": len(top),
                "queries_total_count": len(full_map),
                "queries": top,
            },
            separators=(",", ":"),
        )

    n = len(full_map)
    line = compact_line(n)
    while n > 0 and len(line.encode()) > LINE_BYTES:
        n -= 1
        line = compact_line(n)
    print(line)


if __name__ == "__main__":
    main()
