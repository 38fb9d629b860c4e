"""Structured Streaming tests (SURVEY.md §2.I): file-source ingest
with archival, watermark dedup, foreachBatch SCD1, sessionized
velocity rule — all under trigger(availableNow) on tmp dirs."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from etl_processing_scd1_spark.streaming import (
    stream_transactions_source,
    streaming_append_dedup,
    streaming_scd1_sink,
    streaming_velocity_rule,
)

HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"


def _tx_file(path: str, rows: list[tuple[str, str, str]]) -> None:
    with open(path, "w") as fh:
        fh.write(HEADER)
        for tid, ts, amt in rows:
            fh.write(f"{tid};{ts};{amt};1111 2222 3333 4444;PAYMENT;SUCCESS;A1\n")


def _run_to_memory(stream_df, name: str, checkpoint: str, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_file_source_ingest_and_archive(spark, tmp_path):
    drop = tmp_path / "drop"
    archive = tmp_path / "arch"
    drop.mkdir()
    _tx_file(str(drop / "transactions_01032021.txt"),
             [("T1", "2021-03-01 10:00:00", "100,50"), ("T2", "2021-03-01 11:00:00", "7,25")])
    _tx_file(str(drop / "transactions_02032021.txt"),
             [("T3", "2021-03-02 10:00:00", "9,99")])

    stream = stream_transactions_source(
        spark, str(drop), archive_dir=str(archive), max_files_per_trigger=1
    )
    _run_to_memory(stream, "tx_ingest", str(tmp_path / "ck1"))
    rows = {r["trans_id"]: r for r in spark.sql("SELECT * FROM tx_ingest").collect()}
    assert set(rows) == {"T1", "T2", "T3"}
    assert str(rows["T1"]["amt"]) == "100.50000"  # comma-decimal through the stream
    # cleanSource archival replaces the reference's .backup rename
    deadline = time.time() + 60
    while time.time() < deadline:
        archived = [p for p, _, fs in os.walk(archive) for _ in fs]
        if len(archived) >= 2:
            break
        time.sleep(1)
    assert archived  # at least the earlier batches' files moved


def test_streaming_dedup_with_watermark(spark, tmp_path):
    drop = tmp_path / "drop2"
    drop.mkdir()
    _tx_file(str(drop / "transactions_a.txt"),
             [("T1", "2021-03-01 10:00:00", "1,00"), ("T2", "2021-03-01 11:00:00", "2,00")])
    _tx_file(str(drop / "transactions_b.txt"),
             [("T2", "2021-03-01 11:00:00", "2,00"),   # re-delivered
              ("T3", "2021-03-01 12:00:00", "3,00")])
    stream = stream_transactions_source(spark, str(drop))
    deduped = streaming_append_dedup(stream, "trans_id", "trans_date", watermark="2 days")
    _run_to_memory(deduped, "tx_dedup", str(tmp_path / "ck2"))
    ids = [r["trans_id"] for r in spark.sql("SELECT trans_id FROM tx_dedup").collect()]
    assert sorted(ids) == ["T1", "T2", "T3"]  # G4 semantics, bounded state


def test_streaming_scd1_foreachbatch(spark, tmp_path):
    drop = tmp_path / "drop3"
    drop.mkdir()
    _tx_file(str(drop / "transactions_a.txt"), [("T1", "2021-03-01 10:00:00", "1,00")])
    # header only: under maxFilesPerTrigger=1 it reaches the sink as a
    # 0-row micro-batch, which must not merge and rewrite the dim
    _tx_file(str(drop / "transactions_b.txt"), [])
    dim_path = str(tmp_path / "dim")

    # dim state: card_num -> last oper_type/terminal, merged per micro-batch
    spark.createDataFrame(
        [], "trans_id string, card_num string, terminal string, "
            "create_dt timestamp, update_dt timestamp, processed_dt timestamp"
    ).write.mode("overwrite").parquet(dim_path)

    def read_dim():
        return spark.read.parquet(dim_path)

    writes = []

    def write_dim(df):
        writes.append(1)
        df.write.mode("overwrite").parquet(dim_path + ".next")
        spark.read.parquet(dim_path + ".next").write.mode("overwrite").parquet(dim_path)

    stream = stream_transactions_source(
        spark, str(drop), max_files_per_trigger=1
    ).select("trans_id", "card_num", "terminal")
    q = streaming_scd1_sink(
        stream, read_dim, write_dim, key="trans_id",
        compare_cols=["card_num", "terminal"],
        checkpoint_dir=str(tmp_path / "ck3"),
    )
    q.awaitTermination(120)
    assert len(writes) == 1
    out = spark.read.parquet(dim_path).collect()
    assert [r["trans_id"] for r in out] == ["T1"]
    assert out[0]["update_dt"] is None


def test_streaming_velocity_sessionization(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    # user 1: two cities 10 min apart (flag); user 2: one city (no flag);
    # sentinel far-future event flushes the watermark so sessions emit.
    rows = [
        (1, "2021-03-01 10:00:00", "Moscow"),
        (1, "2021-03-01 10:10:00", "Kazan"),
        (2, "2021-03-01 10:00:00", "Omsk"),
        (2, "2021-03-01 10:20:00", "Omsk"),
        (9, "2021-03-05 00:00:00", "Flush"),
    ]
    with open(src / "e.csv", "w") as fh:
        fh.write("user_id;ts;city\n")
        for u, ts, c in rows:
            fh.write(f"{u};{ts};{c}\n")
    stream = (
        spark.readStream.format("csv")
        .schema("user_id long, ts timestamp, city string")
        .option("sep", ";")
        .option("header", True)
        .load(str(src))
    )
    flagged = streaming_velocity_rule(
        stream, key_col="user_id", event_time_col="ts", state_col="city",
        watermark="1 hour", gap="1 hour",
    )
    _run_to_memory(flagged, "velocity", str(tmp_path / "ck4"))
    out = {r["user_id"]: r for r in spark.sql("SELECT * FROM velocity").collect()}
    assert 1 in out and out[1]["n_states"] == 2   # city hop within session
    assert 2 not in out                            # single-city session


def test_stateful_velocity_across_microbatches(spark, tmp_path):
    """applyInPandasWithState velocity rule: the hop pair SPANS two
    micro-batches (maxFilesPerTrigger=1), so the flag depends on
    state carried between batches — the thing the lag() batch form
    cannot do incrementally."""
    from etl_processing_scd1_spark.streaming.stateful import (
        streaming_velocity_stateful,
    )

    src = tmp_path / "sv"
    src.mkdir()
    # batch 1: user 1 in Moscow; batch 2: user 1 in Kazan 30 min later
    (src / "a_batch1.csv").write_text(
        "user_id;event_id;ts;city\n1;E1;2021-03-01 10:00:00;Moscow\n2;E2;2021-03-01 10:00:00;Omsk\n"
    )
    (src / "b_batch2.csv").write_text(
        "user_id;event_id;ts;city\n1;E3;2021-03-01 10:30:00;Kazan\n2;E4;2021-03-01 10:40:00;Omsk\n"
    )
    stream = (
        spark.readStream.format("csv")
        .schema("user_id long, event_id string, ts timestamp, city string")
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    flagged = streaming_velocity_stateful(
        stream, key_col="user_id", event_time_col="ts", state_col="city",
        id_col="event_id", max_gap_hours=1.0,
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("sv_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sv_out").collect()
    assert [(r["key"], r["event_id"], r["prev_state"], r["gap_seconds"]) for r in rows] == [
        ("1", "E3", "Moscow", 1800)
    ]


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static broadcast join: each transactions micro-batch is
    enriched with a terminal dimension; unknown terminals survive the
    left join with NULL attributes (H1's blacklist shape as a
    stream)."""
    from etl_processing_scd1_spark.streaming import streaming_enrich

    drop = tmp_path / "drop"
    os.makedirs(drop)
    _tx_file(
        str(drop / "transactions_1.csv"),
        [("t1", "2021-03-01 10:00:00", "10,50"), ("t2", "2021-03-01 11:00:00", "20,00")],
    )
    stream = stream_transactions_source(spark, str(drop))
    # dim covers terminal A1 only; t-rows all carry terminal A1, so
    # also inject an unmatched key via a second dim row that must NOT
    # appear (left semantics, not inner explosion)
    dim = spark.createDataFrame(
        [("A1", "Berlin"), ("Z9", "Nowhere")], "terminal string, city string"
    )
    enriched = streaming_enrich(stream, dim, on="terminal")
    _run_to_memory(enriched, "tx_enriched", str(tmp_path / "ck_enrich"))
    rows = {r["trans_id"]: r for r in spark.sql("SELECT * FROM tx_enriched").collect()}
    assert set(rows) == {"t1", "t2"}
    assert rows["t1"]["city"] == "Berlin" and rows["t2"]["city"] == "Berlin"
    assert float(rows["t1"]["amt"]) == 10.5


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: payments matched to same-card
    disputes within 1 hour of event time. The 3h-later dispute falls
    outside the interval and must not match; the unmatched-card
    dispute joins nothing; state stays bounded by the watermark +
    time-range pair."""
    from etl_processing_scd1_spark.streaming import streaming_interval_join

    ldir, rdir = tmp_path / "pays", tmp_path / "disputes"
    os.makedirs(ldir), os.makedirs(rdir)
    with open(ldir / "l.csv", "w") as fh:
        fh.write("card;pay_ts\nC1;2021-03-01 10:00:00\nC2;2021-03-01 10:00:00\n")
    with open(rdir / "r.csv", "w") as fh:
        fh.write(
            "card;disp_ts\nC1;2021-03-01 10:30:00\nC1;2021-03-01 13:00:00\nC3;2021-03-01 10:10:00\n"
        )
    left = (
        spark.readStream.format("csv")
        .schema("card string, pay_ts timestamp")
        .option("sep", ";")
        .option("header", True)
        .load(str(ldir))
    )
    right = (
        spark.readStream.format("csv")
        .schema("card string, disp_ts timestamp")
        .option("sep", ";")
        .option("header", True)
        .load(str(rdir))
    )
    joined = streaming_interval_join(
        left, right, key="card", left_time="pay_ts", right_time="disp_ts", upper="1 hour"
    )
    _run_to_memory(
        joined.select(left["card"], "pay_ts", "disp_ts"), "ssj", str(tmp_path / "ck_ssj")
    )
    got = {(r["card"], str(r["disp_ts"])) for r in spark.sql("SELECT * FROM ssj").collect()}
    assert got == {("C1", "2021-03-01 10:30:00")}


def test_stream_stream_left_outer_join(spark, tmp_path):
    """left_outer emits unmatched payments null-extended once the
    watermark passes their window: C2 (no dispute) appears with NULL
    disp_ts; the late C9 payment, whose window the watermark has not
    yet closed, is withheld — exactly the bounded-state contract."""
    from etl_processing_scd1_spark.streaming import streaming_interval_join

    ldir, rdir = tmp_path / "p2", tmp_path / "d2"
    os.makedirs(ldir), os.makedirs(rdir)
    with open(ldir / "l.csv", "w") as fh:
        fh.write(
            "card;pay_ts\nC1;2021-03-01 10:00:00\nC2;2021-03-01 10:00:00\nC9;2021-03-01 20:00:00\n"
        )
    with open(rdir / "r.csv", "w") as fh:
        fh.write("card;disp_ts\nC1;2021-03-01 10:30:00\nC8;2021-03-01 20:00:00\n")
    left = (
        spark.readStream.format("csv")
        .schema("card string, pay_ts timestamp")
        .option("sep", ";")
        .option("header", True)
        .load(str(ldir))
    )
    right = (
        spark.readStream.format("csv")
        .schema("card string, disp_ts timestamp")
        .option("sep", ";")
        .option("header", True)
        .load(str(rdir))
    )
    joined = streaming_interval_join(
        left, right, key="card", left_time="pay_ts", right_time="disp_ts",
        upper="1 hour", how="left_outer",
    )
    _run_to_memory(
        joined.select(left["card"], "pay_ts", "disp_ts"), "ssj_lo", str(tmp_path / "ck_lo")
    )
    got = {
        (r["card"], None if r["disp_ts"] is None else str(r["disp_ts"]))
        for r in spark.sql("SELECT * FROM ssj_lo").collect()
    }
    assert got == {("C1", "2021-03-01 10:30:00"), ("C2", None)}


def test_streaming_hll_sketch_maintenance(spark, tmp_path):
    """Register state maintained across micro-batches must equal the
    batch sketch over the union of all data (cell-identical), and
    re-delivering a batch must not change it (idempotent max-merge).
    Two drop files arrive as separate micro-batches via
    maxFilesPerTrigger=1."""
    from etl_processing_scd1_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from etl_processing_scd1_spark.streaming.pipeline import streaming_sketch_sink

    drop = tmp_path / "ids"
    drop.mkdir()
    (drop / "a.txt").write_text("".join(f"u{i}\n" for i in range(0, 600)))
    (drop / "b.txt").write_text("".join(f"u{i}\n" for i in range(400, 1000)))
    regs_path = str(tmp_path / "regs")
    spark.createDataFrame([], "bucket long, M long").write.mode("overwrite").parquet(regs_path)

    def read_regs():
        return spark.read.parquet(regs_path)

    def write_regs(df):
        df.write.mode("overwrite").parquet(regs_path + ".next")
        spark.read.parquet(regs_path + ".next").write.mode("overwrite").parquet(regs_path)

    stream = (
        spark.readStream.schema("user_id string")
        .option("maxFilesPerTrigger", 1)
        .text(str(drop))
        .withColumnRenamed("value", "user_id")
    )
    q = streaming_sketch_sink(
        stream, "user_id", read_regs, write_regs,
        checkpoint_dir=str(tmp_path / "ck_hll"),
    )
    q.awaitTermination(120)

    static = spark.createDataFrame([(f"u{i}",) for i in range(1000)], "user_id string")
    expect = {(r["bucket"], r["M"]) for r in hll_registers(static, "user_id").collect()}
    got = {(r["bucket"], r["M"]) for r in read_regs().collect()}
    assert got == expect  # streamed merge == batch sketch, cell-identical
    # idempotent under redelivery of an already-seen batch
    replay = spark.createDataFrame([(f"u{i}",) for i in range(600)], "user_id string")
    merged = hll_merge(read_regs(), hll_registers(replay, "user_id"))
    assert {(r["bucket"], r["M"]) for r in merged.collect()} == expect
    # and the estimate is in the expected error band (~6.5% for m=256)
    est = hll_estimate(read_regs())
    assert abs(est - 1000) / 1000 < 0.2


def test_streaming_near_dedup_admission(spark, tmp_path):
    """Continuous corpus admission: a micro-batch of candidate docs is
    LSH-screened against the admitted corpus; near-dups are rejected
    with their match evidence, clean docs are admitted. Batch and
    streaming admission share operators.dedup.near_dedup_incremental."""
    from etl_processing_scd1_spark.streaming import streaming_near_dedup_sink

    corpus_dir = tmp_path / "corpus"
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different admitted document about spark engines"),
        ],
        "doc_id long, text string",
    )
    corpus.write.parquet(str(corpus_dir))

    drop = tmp_path / "drop"
    drop.mkdir()
    # 10: near-copy of admitted doc 1 → must be rejected;
    # 11: fresh content → admitted;
    # 12: exact copy of 11 in the SAME batch → rejected against increment
    rows = [
        (10, "the quick brown fox jumps over the lazy dog again and again!"),
        (11, "entirely novel text that matches nothing in the corpus at all"),
        (12, "entirely novel text that matches nothing in the corpus at all"),
    ]
    with open(drop / "docs.csv", "w") as fh:
        fh.write("doc_id|text\n")
        for i, t in rows:
            fh.write(f"{i}|{t}\n")

    stream = (
        spark.readStream.format("csv")
        .option("header", True)
        .option("sep", "|")
        .schema("doc_id long, text string")
        .load(str(drop))
    )

    admitted: list[tuple] = []
    rejected: list[tuple] = []

    def admit(clean, dups):
        admitted.extend(sorted((r.doc_id, r.text) for r in clean.collect()))
        rejected.extend(
            sorted((r.new_id, r.other_id) for r in dups.collect())
        )

    q = streaming_near_dedup_sink(
        stream,
        read_corpus=lambda: spark.read.parquet(str(corpus_dir)),
        admit=admit,
        id_col="doc_id",
        text_col="text",
        checkpoint_dir=str(tmp_path / "ck_admit"),
    )
    q.awaitTermination(120)

    assert [i for i, _ in admitted] == [11]
    assert (10, 1) in rejected       # near-copy of corpus doc 1
    assert (11, 12) in rejected or (12, 11) in rejected  # intra-batch pair
    assert all(i != 11 or j == 12 for i, j in rejected)


def test_streaming_dedup_within_watermark_catches_jittered_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same id re-delivered with a
    JITTERED timestamp (the case plain id-keyed dropDuplicates also
    catches, but with unbounded eviction semantics) dedups to one row,
    and distinct ids all pass."""
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_append_dedup_within_watermark,
        stream_transactions_source,
    )

    drop = tmp_path / "dropw"
    drop.mkdir()
    _tx_file(
        str(drop / "transactions_w1.txt"),
        [
            ("T1", "2021-03-01 10:00:00", "1,00"),
            ("T1", "2021-03-01 10:00:07", "1,00"),  # re-delivery, +7s jitter
            ("T2", "2021-03-01 11:00:00", "2,00"),
        ],
    )
    stream = stream_transactions_source(spark, str(drop))
    deduped = streaming_append_dedup_within_watermark(
        stream, "trans_id", "trans_date", watermark="1 hour"
    )
    _run_to_memory(deduped, "tx_dedup_ww", str(tmp_path / "ckw"))
    ids = [r["trans_id"] for r in spark.sql("SELECT trans_id FROM tx_dedup_ww").collect()]
    assert sorted(ids) == ["T1", "T2"]


def test_streaming_scd2_foreachbatch(spark, tmp_path):
    """Two micro-batches mutate the same key: the final dimension must
    hold the closed first version (valid_to = batch-2 boundary) and an
    open current second version — CDC history accrued through the one
    scd2_merge code path."""
    import datetime as dt

    from etl_processing_scd1_spark.streaming.pipeline import streaming_scd2_sink

    dim_path = str(tmp_path / "dim2")
    spark.createDataFrame(
        [],
        "k string, city string, valid_from timestamp, valid_to timestamp,"
        " is_current boolean",
    ).write.mode("overwrite").parquet(dim_path)

    def read_dim():
        return spark.read.parquet(dim_path)

    def write_dim(df):
        df.write.mode("overwrite").parquet(dim_path + ".next")
        spark.read.parquet(dim_path + ".next").write.mode("overwrite").parquet(dim_path)

    src = tmp_path / "scd2src"
    src.mkdir()
    (src / "b1.csv").write_text("k;city;ets\nA;Moscow;2021-03-01 00:00:00\n")
    stream = (
        spark.readStream.format("csv")
        .option("sep", ";")
        .option("header", "true")
        .schema("k string, city string, ets timestamp")
        .load(str(src))
    )

    def eff_ts(batch, _bid):
        row = batch.agg({"ets": "max"}).collect()[0]
        return row[0] or dt.datetime(2021, 3, 1)

    def run_once():
        q = streaming_scd2_sink(
            stream.select("k", "city", "ets"),
            read_dim,
            write_dim,
            key="k",
            compare_cols=["city"],
            checkpoint_dir=str(tmp_path / "ck_scd2"),
            effective_ts_fn=lambda b, i: eff_ts(b.select("ets"), i),
        )
        q.awaitTermination(120)

    run_once()
    (src / "b2.csv").write_text("k;city;ets\nA;Kazan;2021-03-02 00:00:00\n")
    run_once()

    rows = sorted(
        spark.read.parquet(dim_path).collect(), key=lambda r: r.valid_from
    )
    assert len(rows) == 2
    closed, current = rows
    assert closed.city == "Moscow" and not closed.is_current
    assert closed.valid_to == dt.datetime(2021, 3, 2)
    assert current.city == "Kazan" and current.is_current


def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    """Incremental sessionization: a session that OPENS in batch 1 and
    is broken by a batch-2 event must be emitted with its batch-1
    boundaries — the closed-session row depends entirely on state
    carried across micro-batches."""
    from etl_processing_scd1_spark.streaming.stateful import (
        streaming_sessionize_stateful,
    )

    src = tmp_path / "ss"
    src.mkdir()
    emitted = []

    def run_once():
        # two sequential availableNow passes over the SAME checkpoint:
        # the file source's within-batch ordering under load is not
        # deterministic, so batch boundaries are forced by writing the
        # second file only after the first pass completes (the
        # operator's contract is in-order arrival per key — production
        # pairs it with an event-time watermark upstream)
        stream = (
            spark.readStream.format("csv")
            .schema("user_id long, event_id string, ts timestamp")
            .option("sep", ";")
            .option("header", True)
            .load(str(src))
        )
        sessions = streaming_sessionize_stateful(
            stream, key_col="user_id", event_time_col="ts", id_col="event_id",
            gap_minutes=30,
        )
        # foreachBatch, not the memory sink: only foreachBatch
        # supports resuming from the shared checkpoint across passes
        q = (
            sessions.writeStream.foreachBatch(
                lambda batch, _bid: emitted.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_ss"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "a_b1.csv").write_text(
        "user_id;event_id;ts\n"
        "1;E1;2021-03-01 10:00:00\n"
        "1;E2;2021-03-01 10:10:00\n"
    )
    run_once()
    (src / "b_b2.csv").write_text(
        "user_id;event_id;ts\n"
        "1;E3;2021-03-01 11:00:00\n"  # 50-min gap -> closes session 1
    )
    run_once()
    import datetime as dt

    rows = emitted
    assert len(rows) == 1  # E3's session stays OPEN in state
    r = rows[0]
    t0 = int(dt.datetime(2021, 3, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert r.key == "1" and r.n_events == 2
    assert r.session_start_us == t0
    assert r.session_end_us == t0 + 10 * 60 * 1_000_000


def test_streaming_ivfpq_codes_match_batch_rebuild(spark, tmp_path):
    """Index freshness contract: vectors coded per micro-batch must be
    BIT-IDENTICAL to a batch rebuild over the same vectors under the
    same frozen centroids/codebook."""
    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.similarity import (
        assign_centroid,
        pq_encode,
    )
    from etl_processing_scd1_spark.streaming.pipeline import streaming_ivfpq_sink
    from tests.conftest import SF0001

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8)
    # frozen residual codebook from vecs 8-15 (their own-cell residuals)
    crows = sorted((r[0], list(r[1])) for r in cents.collect())
    cmat = F.map_from_arrays(
        F.array(*[F.lit(c) for c, _ in crows]),
        F.array(*[F.array(*[F.lit(float(x)) for x in v]) for _, v in crows]),
    )
    res_all = assign_centroid(emb, cents).select(
        "vec_id", "bucket",
        F.zip_with(F.col("embedding"), F.element_at(cmat, F.col("bucket")),
                   lambda a, b: a.cast("double") - b).alias("res"),
    )
    codebook = res_all.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        "vec_id", "res"
    )

    # stream 40 vectors in two parquet batches
    src = tmp_path / "vecs"
    emb.filter(F.col("vec_id").between(20, 39)).write.parquet(str(src / "b1"))
    emb.filter(F.col("vec_id").between(40, 59)).write.parquet(str(src / "b2"))
    # flatten into one dir of files for the file source
    import glob
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir()
    for i, f in enumerate(sorted(glob.glob(str(src / "*" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(emb.schema).parquet(str(feed))
    out_dir = str(tmp_path / "codes")

    def write_codes(df):
        df.write.mode("append").parquet(out_dir)

    q = streaming_ivfpq_sink(
        stream, cents, codebook, write_codes,
        checkpoint_dir=str(tmp_path / "ck_ivfpq"),
    )
    q.awaitTermination(180)

    streamed = {
        r.vec_id: (r.bucket, tuple(r.codes), r.dist_scaled)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.vec_id: (r.bucket, tuple(r.codes), r.dist_scaled)
        for r in pq_encode(
            res_all.filter(F.col("vec_id").between(20, 59)),
            codebook, vec_col="res", codebook_vec_col="res", m=4,
            keep_cols=["bucket"],
        ).collect()
    }
    assert streamed == batch and len(streamed) == 40


class _FakeGroupState:
    """Minimal applyInPandasWithState state stand-in for direct unit
    tests of the per-key fold functions (exists/get/update surface)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def test_stateful_folds_sort_across_arrow_chunks():
    """A key's micro-batch rows can span Arrow chunks in arbitrary
    order. The fold functions must sort the WHOLE batch once — a
    per-chunk sort would replay an early event (arriving in a later
    chunk) against newer state: velocity_flagger would mis-flag and
    corrupt (last_ts, last_state); session_assembler would regress
    end_us and split/merge sessions wrongly (round-6 advisor)."""
    import pandas as pd

    from etl_processing_scd1_spark.streaming.stateful import (
        session_assembler,
        velocity_flagger,
    )

    # --- sessionizer: the late chunk carries the EARLIEST event.
    # All three events are within the gap -> ONE open session, no
    # emission. A per-chunk fold sees 100s,160s then 40s: 40s breaks
    # "backwards", closing a bogus session.
    gap_us = 60 * 60 * 1_000_000  # 60 min, all events inside
    chunk_a = pd.DataFrame({"us": [100 * 1_000_000, 160 * 1_000_000], "event_id": ["b", "c"]})
    chunk_b = pd.DataFrame({"us": [40 * 1_000_000], "event_id": ["a"]})
    state = _FakeGroupState()
    out = list(session_assembler(gap_minutes=60)(("k1",), iter([chunk_a, chunk_b]), state))
    assert out == []  # nothing closed
    assert state.get == (40 * 1_000_000, 160 * 1_000_000, 3)

    # --- velocity flagger: events at t0 (state X) and t0+10s
    # (state Y) arrive with the EARLIER one in the LATER chunk.
    # Correct fold flags exactly the later event (Y within the gap of
    # X); a per-chunk fold would process Y first and flag X instead.
    t0 = pd.Timestamp("2021-03-01 10:00:00")
    chunk_y = pd.DataFrame({"ts": [t0 + pd.Timedelta(seconds=10)], "event_id": ["e2"], "state_val": ["Y"]})
    chunk_x = pd.DataFrame({"ts": [t0], "event_id": ["e1"], "state_val": ["X"]})
    vstate = _FakeGroupState()
    flagged = pd.concat(
        list(velocity_flagger(max_gap_hours=1.0)(("k1",), iter([chunk_y, chunk_x]), vstate))
    )
    assert list(flagged["event_id"]) == ["e2"]
    assert list(flagged["prev_state"]) == ["X"]
    assert vstate.get == (int((t0 + pd.Timedelta(seconds=10)).timestamp()), "Y")

    # empty batch iterator: state untouched semantics (no crash)
    estate = _FakeGroupState()
    estate.update((1, 2, 3))
    assert list(session_assembler(60)(("k",), iter([]), estate)) == []
    assert estate.get == (1, 2, 3)


def test_streaming_postings_index_matches_batch_phrase_search(spark, tmp_path):
    """Round-7 parity decision: phrase-search index MAINTENANCE is
    incremental (O(batch) postings append per trigger); the phrase
    QUERY over the accumulated index must be row-identical to batch
    phrase_search over every document seen."""
    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.text import (
        phrase_match_postings,
        phrase_search,
    )
    from etl_processing_scd1_spark.streaming.pipeline import streaming_postings_sink
    from tests.conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")
    feed = tmp_path / "docs_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    idx_dir = str(tmp_path / "postings")

    def write_postings(df):
        df.write.mode("append").parquet(idx_dir)

    q = streaming_postings_sink(
        stream, write_postings, checkpoint_dir=str(tmp_path / "ck_postings")
    )
    q.awaitTermination(180)

    # pick a phrase that actually occurs: first two tokens of some doc
    sample = docs.filter(F.size(F.split("text", r"\s+")) >= 2).first()
    phrase = " ".join(sample.text.split()[:2])

    postings = spark.read.parquet(idx_dir)
    streamed = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match_postings(postings, "doc_id", phrase).collect()
    }
    batch = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search(docs, "doc_id", "text", phrase).collect()
    }
    assert streamed == batch and streamed  # non-trivial and identical


def test_streaming_bpe_tokenize_matches_batch_apply(spark, tmp_path):
    """Round-7 parity decision: BPE APPLY streams under a frozen
    trained vocabulary (training itself stays batch-only by design —
    an incrementally drifting merge table would silently re-tokenize
    history); streamed per-doc counts must equal batch bpe_tokenize
    with the same merges."""
    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.bpe import _train, bpe_tokenize
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_bpe_tokenize_sink,
    )
    from tests.conftest import SF0001

    docs = (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    _merges, vocab = _train(docs, "text", n_merges=4)
    vocab_counts = vocab.select("word", F.size("segs").alias("n"))

    feed = tmp_path / "bpe_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    out_dir = str(tmp_path / "bpe_counts")

    def write_counts(df):
        df.write.mode("append").parquet(out_dir)

    q = streaming_bpe_tokenize_sink(
        stream, vocab_counts, write_counts,
        checkpoint_dir=str(tmp_path / "ck_bpe"),
    )
    q.awaitTermination(180)
    vocab.unpersist()

    streamed = {
        (r.doc_id, r.n_words, r.n_subword_tokens)
        for r in spark.read.parquet(out_dir).collect()
    }
    ref = bpe_tokenize(docs, n_merges=4)
    batch = {
        (r.doc_id, r.n_words, r.n_subword_tokens) for r in ref.collect()
    }
    from etl_processing_scd1_spark.operators.dedup import release_cached

    release_cached(ref)
    assert streamed == batch and streamed


def test_streaming_winnow_index_matches_batch_pairs(spark, tmp_path):
    """Round-8 parity: winnowing fingerprint index MAINTENANCE is
    incremental (O(batch) row append per trigger); the near-dup pair
    QUERY over the accumulated index must be row-identical to batch
    winnow_dedup_pairs over every document seen."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.text import (
        winnow_dedup_pairs,
        winnow_pairs_from_rows,
    )
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_winnow_index_sink,
    )
    from tests.conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")
    feed = tmp_path / "docs_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    idx_dir = str(tmp_path / "winnow_idx")

    def write_rows(df):
        df.write.mode("append").parquet(idx_dir)

    q = streaming_winnow_index_sink(
        stream, write_rows, checkpoint_dir=str(tmp_path / "ck_winnow")
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(idx_dir)
    streamed = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["containment_pct"])
        for r in winnow_pairs_from_rows(rows, "doc_id").collect()
    }
    from etl_processing_scd1_spark.operators import dedup as dd

    with dd.consuming(winnow_dedup_pairs(docs, "doc_id", "text")) as bp:
        batch = {
            (r["id_a"], r["id_b"]): (r["n_shared"], r["containment_pct"])
            for r in bp.collect()
        }
    assert streamed == batch and batch  # identical and non-trivial


def test_streaming_nb_counts_match_batch_training(spark, tmp_path):
    """Round-8 parity: NB sufficient statistics are sums, so the
    accumulated streamed statistics, re-aggregated, must EXACTLY equal
    batch training over all admitted docs (associativity — no drift,
    unlike the frozen BPE/IVF-PQ model contracts)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.text import nb_token_counts
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_nb_counts_sink,
    )
    from tests.conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    feed = tmp_path / "nb_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    counts_dir = str(tmp_path / "nb_counts")
    priors_dir = str(tmp_path / "nb_priors")

    q = streaming_nb_counts_sink(
        stream,
        lambda df: df.write.mode("append").parquet(counts_dir),
        lambda df: df.write.mode("append").parquet(priors_dir),
        checkpoint_dir=str(tmp_path / "ck_nb"),
    )
    q.awaitTermination(180)

    streamed_counts = {
        (r["lang"], r["term"]): r["c"]
        for r in spark.read.parquet(counts_dir)
        .groupBy("lang", "term")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()
    }
    streamed_priors = {
        r["lang"]: r["d_c"]
        for r in spark.read.parquet(priors_dir)
        .groupBy("lang")
        .agg(F.sum("d_c").cast("long").alias("d_c"))
        .collect()
    }
    batch_counts_df, batch_priors_df = nb_token_counts(
        docs, "doc_id", "text", "lang"
    )
    batch_counts = {
        (r["lang"], r["term"]): r["c"] for r in batch_counts_df.collect()
    }
    batch_priors = {r["lang"]: r["d_c"] for r in batch_priors_df.collect()}
    assert streamed_counts == batch_counts and batch_counts
    assert streamed_priors == batch_priors and batch_priors


def test_streaming_dsir_counts_match_batch_model(spark, tmp_path):
    """Round-8 parity: DSIR sufficient statistics are sums, so the
    model built from the accumulated streamed (bucket, ct, cr)
    partials must yield EXACTLY the batch scores over all docs seen —
    the associativity guarantee the sink's docstring claims."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_model,
        dsir_score,
    )
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_dsir_counts_sink,
    )
    from tests.conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    feed = tmp_path / "dsir_feed"
    feed.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    counts_dir = str(tmp_path / "dsir_counts")
    q = streaming_dsir_counts_sink(
        stream,
        lambda df: df.write.mode("append").parquet(counts_dir),
        checkpoint_dir=str(tmp_path / "ck_dsir"),
    )
    q.awaitTermination(180)

    streamed_model = dsir_model(spark.read.parquet(counts_dir))
    batch_model = dsir_model(
        dsir_bucket_counts(docs, "doc_id", "text", F.col("lang") == "en")
    )
    streamed = {
        r["doc_id"]: (r["n_features"], r["logratio_nano"])
        for r in dsir_score(docs, streamed_model, "doc_id", "text").collect()
    }
    batch = {
        r["doc_id"]: (r["n_features"], r["logratio_nano"])
        for r in dsir_score(docs, batch_model, "doc_id", "text").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_fs_linkage_matches_batch_query(spark, tmp_path):
    """Round-8 parity: the union of links emitted across micro-batches
    must equal the one-shot batch record_linkage_fs over all records
    seen — the exactly-once pair contract of
    incremental_band_candidates plus pure per-pair scoring."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    import etl_processing_scd1_spark.registry.advancedq as aq
    from etl_processing_scd1_spark.operators.linkage import (
        FsField,
        incremental_band_candidates,
    )
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_fs_linkage_sink,
    )
    from tests.conftest import SF001

    cust = spark.read.parquet(f"{SF001}/customer.parquet").select(
        F.col("c_custkey").alias("id"),
        "c_name", "c_nationkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    feed = tmp_path / "fs_feed"
    feed.mkdir()
    cust.filter(F.col("id") % 2 == 0).coalesce(1).write.parquet(str(feed / "_b1.tmp"))
    cust.filter(F.col("id") % 2 == 1).coalesce(1).write.parquet(str(feed / "_b2.tmp"))
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    ref_dir = str(tmp_path / "fs_ref")
    links_dir = str(tmp_path / "fs_links")
    spark.createDataFrame([], cust.schema).write.parquet(ref_dir)

    fields = [
        FsField("segment", F.col("c_mktsegment") == F.col("c_mktsegment_b"), 0.9, 0.2),
        FsField("name", F.levenshtein("c_name", "c_name_b") <= 2, 0.95, 0.01),
        FsField("acctbal", F.abs(F.col("bal_c") - F.col("bal_c_b")) <= 100, 0.9, 0.3),
    ]
    stream = spark.readStream.schema(cust.schema).parquet(str(feed))
    q = streaming_fs_linkage_sink(
        stream,
        read_reference=lambda: spark.read.parquet(ref_dir),
        append_reference=lambda df: df.write.mode("append").parquet(ref_dir),
        emit_links=lambda df: df.select(
            F.col("__id_a__").alias("id_a"), F.col("__id_b__").alias("id_b"),
            "agr_segment", "agr_name", "agr_acctbal", "score_milli", "link_class",
        ).write.mode("append").parquet(links_dir),
        candidates=lambda batch, ref: incremental_band_candidates(
            batch, ref, id_col="id", val_col="bal_c",
            tolerance=500, extra_key="c_nationkey",
        ),
        fields=fields,
        match_threshold_milli=aq._FS_MATCH,
        possible_threshold_milli=aq._FS_POSSIBLE,
        checkpoint_dir=str(tmp_path / "ck_fs"),
    )
    q.awaitTermination(180)

    streamed = {
        (r["id_a"], r["id_b"]): (
            r["agr_segment"], r["agr_name"], r["agr_acctbal"],
            r["score_milli"], r["link_class"],
        )
        for r in spark.read.parquet(links_dir).collect()
    }
    batch = {
        (r["id_a"], r["id_b"]): (
            r["agr_segment"], r["agr_name"], r["agr_acctbal"],
            r["score_milli"], r["link_class"],
        )
        for r in aq.QUERIES["record_linkage_fs"](spark, SF001).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_cooccurrence_counts_match_batch_pairs(spark, tmp_path):
    """Round-8 parity: co-occurrence support is NOT a per-row sum — a
    pair needs two rows that may arrive in different micro-batches.
    The feed deliberately splits every multi-brand basket across the
    two files (by brand hash) and replays a slice of batch 1 inside
    batch 2; re-aggregated streamed deltas must still EXACTLY equal
    batch cooccurrence_pairs over all distinct memberships."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.mining import cooccurrence_pairs
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_cooccurrence_sink,
    )
    from tests.conftest import SF0001

    li = spark.read.parquet(f"{SF0001}/lineitem.parquet")
    part = spark.read.parquet(f"{SF0001}/part.parquet")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("basket_id"), F.col("p_brand").alias("item"))
        .distinct()
    )
    feed = tmp_path / "cooc_feed"
    feed.mkdir()
    split = F.abs(F.hash("item")) % 2
    b1 = baskets.filter(split == 0)
    # batch 2 = the other half PLUS a replayed slice of batch 1 — the
    # sink's anti-join must make the replay a no-op
    b2 = baskets.filter(split == 1).unionByName(
        b1.filter(F.col("basket_id") % 7 == 0)
    )
    b1.coalesce(1).write.parquet(str(feed / "_b1.tmp"))
    b2.coalesce(1).write.parquet(str(feed / "_b2.tmp"))
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    seen_dir = str(tmp_path / "cooc_seen")
    pairs_dir = str(tmp_path / "cooc_pairs")
    spark.createDataFrame([], baskets.schema).write.parquet(seen_dir)

    stream = (
        spark.readStream.schema(baskets.schema)
        .option("maxFilesPerTrigger", 1)  # force the mid-basket batch split
        .parquet(str(feed))
    )
    q = streaming_cooccurrence_sink(
        stream,
        read_seen=lambda: spark.read.parquet(seen_dir),
        append_seen=lambda df: df.write.mode("append").parquet(seen_dir),
        append_pair_counts=lambda df: df.write.mode("append").parquet(pairs_dir),
        checkpoint_dir=str(tmp_path / "ck_cooc"),
    )
    q.awaitTermination(180)

    streamed = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in spark.read.parquet(pairs_dir)
        .groupBy("item_a", "item_b")
        .agg(F.sum("support").cast("long").alias("support"))
        .collect()
    }
    batch = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in cooccurrence_pairs(baskets, "basket_id", "item").collect()
    }
    assert streamed == batch and batch
    # the stitch actually fired: some basket must span both batches
    spanning = (
        b1.select("basket_id").intersect(
            baskets.filter(split == 1).select("basket_id")
        ).count()
    )
    assert spanning > 0
    # accumulated membership relation is exactly the distinct input
    assert spark.read.parquet(seen_dir).count() == baskets.count()


def test_streaming_skyline_matches_batch(spark, tmp_path):
    """Round-8 IVM parity: dominance is transitive, so folding each
    batch against only the CURRENT skyline (never the history) must
    land on exactly the one-shot batch skyline over all points seen —
    including evictions (a later batch's point dominating an earlier
    skyline member must knock it out)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.mining import pareto_skyline_2d
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_skyline_sink,
    )
    from tests.conftest import SF0001

    pts = (
        spark.read.parquet(f"{SF0001}/part.parquet")
        .select(
            F.col("p_brand").alias("g"),
            F.col("p_partkey").alias("pid"),
            F.col("p_retailprice").alias("x"),
            F.col("p_size").cast("long").alias("y"),
        )
    )
    feed = tmp_path / "sky_feed"
    feed.mkdir()
    # split so batch 2 contains points that dominate batch-1 skyline
    # members (low partkeys hold arbitrary mix; hash split suffices —
    # eviction is asserted below)
    h = F.abs(F.hash("pid")) % 2
    pts.filter(h == 0).coalesce(1).write.parquet(str(feed / "_b1.tmp"))
    pts.filter(h == 1).coalesce(1).write.parquet(str(feed / "_b2.tmp"))
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    state = {"dir": None, "sizes": []}
    sky_root = tmp_path / "sky_state"
    sky_root.mkdir()

    def read_skyline():
        if state["dir"] is None:
            return spark.createDataFrame([], pts.schema)
        return spark.read.parquet(state["dir"])

    def write_skyline(df):
        nxt = str(sky_root / f"v{len(state['sizes'])}")
        df.write.parquet(nxt)
        state["dir"] = nxt
        state["sizes"].append(spark.read.parquet(nxt).count())

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = streaming_skyline_sink(
        stream,
        read_skyline=read_skyline,
        write_skyline=write_skyline,
        checkpoint_dir=str(tmp_path / "ck_sky"),
        group_col="g",
        min_col="x",
        max_col="y",
    )
    q.awaitTermination(180)

    got = {
        (r["g"], r["pid"]) for r in spark.read.parquet(state["dir"]).collect()
    }
    want = {
        (r["g"], r["pid"])
        for r in pareto_skyline_2d(pts, "g", "x", "y").collect()
    }
    assert got == want and want
    # eviction actually happened: some batch-1 skyline member is
    # absent from the final skyline
    first_sky = {
        (r["g"], r["pid"])
        for r in pareto_skyline_2d(
            pts.filter(h == 0), "g", "x", "y"
        ).collect()
    }
    assert first_sky - got, "batch 2 must evict at least one point"


def test_streaming_ols_stats_match_batch_fit(spark, tmp_path):
    """OLS sufficient statistics are sums, so the accumulated
    streamed statistics, re-aggregated and passed through
    ols_from_stats, must EXACTLY equal batch grouped_ols over all
    admitted rows (associativity — same no-drift contract as the NB
    and DSIR sinks)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.stats import (
        grouped_ols,
        ols_from_stats,
    )
    from etl_processing_scd1_spark.streaming.pipeline import streaming_ols_sink

    part = (
        spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("pk"),
            F.col("p_size").cast("long").alias("x"),
            F.round(F.col("p_retailprice") * 100).cast("long").alias("y"),
        )
    )
    feed = tmp_path / "ols_feed"
    feed.mkdir()
    part.filter(F.col("pk") % 2 == 0).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    part.filter(F.col("pk") % 2 == 1).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    stream = spark.readStream.schema(part.schema).parquet(str(feed))
    stats_dir = str(tmp_path / "ols_stats")
    q = streaming_ols_sink(
        stream,
        # per-batch-id slot, overwritten on retry — the idempotent
        # write the sink's batch-id contract exists for
        lambda df, bid: df.write.mode("overwrite").parquet(
            f"{stats_dir}/batch={bid}"
        ),
        checkpoint_dir=str(tmp_path / "ck_ols"),
        group_col="brand",
        x_col="x",
        y_col="y",
    )
    q.awaitTermination(180)

    merged = (
        spark.read.parquet(stats_dir)
        .groupBy("brand")
        .agg(*[F.sum(c).alias(c) for c in ("n", "sx", "sy", "sxx", "sxy", "syy")])
    )
    got = {r["brand"]: r.asDict() for r in ols_from_stats(merged, "brand").collect()}
    want = {
        r["brand"]: r.asDict() for r in grouped_ols(part, "brand", "x", "y").collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_components_match_batch_star_contraction(spark, tmp_path):
    """IVM parity for connected components: a component's star is
    connectivity-equivalent to the edges that produced it, so folding
    each edge batch against only the CURRENT star relation must land
    on exactly the one-shot star contraction over every edge seen —
    including cross-batch merges (a batch edge joining two existing
    components must re-root the higher-labeled one)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from etl_processing_scd1_spark.operators.dedup import consuming
    from etl_processing_scd1_spark.operators.graph import (
        connected_components_star,
    )
    from etl_processing_scd1_spark.streaming.pipeline import (
        streaming_components_sink,
    )

    # two chains that MERGE only via a batch-2 bridge edge, plus a
    # batch-2-only component: 0-1-2-3 and 10-11-12-13; bridge (3,10);
    # isolated pair (20,21)
    b1 = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12)]
    b2 = [(12, 13), (3, 10), (20, 21)]
    schema = "id_a long, id_b long"
    feed = tmp_path / "cc_feed"
    feed.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(feed / "_b1.tmp")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(feed / "_b2.tmp")
    )
    for i, f in enumerate(sorted(glob.glob(str(feed / "_b*.tmp" / "*.parquet")))):
        shutil.copy(f, feed / f"{i:03d}.parquet")

    state = {"dir": None, "n": 0}
    root = tmp_path / "cc_state"
    root.mkdir()

    def read_star():
        if state["dir"] is None:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(state["dir"])

    def write_star(df):
        nxt = str(root / f"v{state['n']}")
        df.write.parquet(nxt)
        state["dir"] = nxt
        state["n"] += 1

    stream = (
        spark.readStream.schema(
            spark.createDataFrame(b1, schema).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = streaming_components_sink(
        stream,
        read_star,
        write_star,
        checkpoint_dir=str(tmp_path / "ck_cc"),
    )
    q.awaitTermination(180)
    assert state["n"] == 2  # two triggers folded

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(state["dir"]).collect()
    }
    all_edges = spark.createDataFrame(b1 + b2, schema)
    nodes = (
        all_edges.select(F.col("id_a").alias("node"))
        .unionByName(all_edges.select(F.col("id_b").alias("node")))
        .distinct()
    )
    with consuming(
        connected_components_star(nodes, all_edges, id_col="node")
    ) as labels:
        want = {
            (r["cluster_id"], r["node"])
            for r in labels.collect()
            if r["node"] != r["cluster_id"]
        }
    assert got == want
    # the bridge merged the chains: every chain node shares root 0
    roots = {b: a for a, b in got}
    assert all(
        roots.get(n, n) == 0 for n in (0, 1, 2, 3, 10, 11, 12, 13)
    )
    assert roots.get(21) == 20
