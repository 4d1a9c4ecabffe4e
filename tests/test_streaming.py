"""Structured Streaming tests: the streaming queries must produce the
same results as their batch twins over the full (finite) events table."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from platform_etl_literature_spark.streaming import (
    hourly_counts,
    read_events_stream,
    run_to_memory,
    session_windows,
)
from platform_etl_literature_spark.sources.events import read_events
from platform_etl_literature_spark.streaming.events import (
    dedup_within_watermark,
    view_click_interval_join,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return read_events(spark, SF_DIR)


def _drain(spark, stream, name):
    # complete mode: append would hold back windows newer than the
    # watermark, which never close on a finite input
    q = run_to_memory(stream, name, output_mode="complete")
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


def test_streaming_hourly_counts_match_batch(spark, batch_events):
    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    got = _drain(spark, hourly_counts(stream), "hourly_t")
    expected = hourly_counts(batch_events)  # same code path, batch input
    g = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in expected.collect()}
    assert g == e
    assert len(g) > 0


def test_streaming_sessions_match_batch(spark, batch_events):
    stream = read_events_stream(spark, SF_DIR)
    got = _drain(spark, session_windows(stream), "sessions_t")
    expected = session_windows(batch_events)
    g = sorted(tuple(r) for r in got.collect())
    e = sorted(tuple(r) for r in expected.collect())
    assert g == e
    assert len(g) > 0


def test_stream_stream_interval_join_matches_batch(spark, batch_events):
    """Stream-stream inner interval join (views ⋈ same-user clicks
    within 10 min) must equal the identical function on batch inputs."""
    stream = read_events_stream(spark, SF_DIR)
    joined = view_click_interval_join(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
    )
    # append mode: inner stream-stream joins emit as soon as both sides
    # match; no watermark-held results matter for rows well inside the
    # finite input's time range
    q = run_to_memory(joined, "vc_join_t", output_mode="append")
    q.awaitTermination(120)
    q.stop()
    got = sorted(tuple(r) for r in spark.table("vc_join_t").collect())
    expected = sorted(
        tuple(r)
        for r in view_click_interval_join(
            batch_events.filter(F.col("event_type") == "view"),
            batch_events.filter(F.col("event_type") == "click"),
        ).collect()
    )
    assert got == expected
    assert len(got) > 0


def test_dedup_within_watermark_drops_replays(spark):
    """A stream replayed twice (two copies of the file) must come out
    with exactly one row per event_id."""
    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    replayed = stream.unionByName(stream)  # same file delivered twice
    q = run_to_memory(
        dedup_within_watermark(replayed), "dedup_t", output_mode="append"
    )
    q.awaitTermination(120)
    q.stop()
    got = spark.table("dedup_t")
    n_batch = read_events(spark, SF_DIR).count()
    assert got.count() == n_batch
    assert got.select("event_id").distinct().count() == n_batch


def test_session_window_agrees_with_batch_sessionizer(spark, batch_events):
    """The streaming-native session_window and the batch window-function
    sessionizer must agree on session counts per user."""
    from platform_etl_literature_spark.operators.sessionize import session_stats

    sw = (
        session_windows(batch_events, gap="30 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    batch = session_stats(batch_events, gap_seconds=1800).select(
        "user_id", "n_sessions"
    )
    g = {r["user_id"]: r["n_sessions"] for r in sw.collect()}
    e = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert g == e


def test_watermark_late_data_semantics(spark, tmp_path):
    """Append-mode watermark contract, end to end, on the semantics the
    engine guarantees: a pane emitted once never re-emits (late rows for
    it are dropped), a late row whose pane is still open merges into it,
    and panes the watermark never passes are withheld.  Files delivered
    in order as separate micro-batches (maxFilesPerTrigger=1)."""
    import time as _time

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    base = "2024-01-01 {:02d}:{:02d}:00"

    def write_file(name, times):
        df = spark.createDataFrame(
            [Row(ts=base.format(h, m), event_type="e", value=1.0) for h, m in times]
        ).select(F.col("ts").cast("timestamp"), "event_type", "value")
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/in/{name}")
        _time.sleep(1.1)  # distinct mod-times fix the source's file order

    # batch 0 (watermark 1970): panes 10h:2, 13h:1 buffered
    write_file("f1", [(10, 0), (10, 30), (13, 0)])
    # batch 1 (watermark 12:00 from f1): pane 10h EMITS (n=2), state
    # evicted; 14:30 buffers pane 14h; watermark advances to 13:30
    write_file("f2", [(14, 30)])
    # batch 2 (watermark 13:30): 10:45 targets the already-closed pane
    # 10h -> dropped (no duplicate emission); 13:45's pane [13,14) ends
    # at 14:00 > 13:30, still open -> merges (13h becomes 2); 16:00
    # advances the watermark to 15:00, which closes 13h and 14h.
    # Pane 16h is never finalized -> withheld from append output.
    write_file("f3", [(10, 45), (13, 45), (16, 0)])

    schema = spark.read.parquet(f"{tmp_path}/in/f1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/in/*")
    )
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.hour("win.start").alias("h"), "n")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    rows = sorted((r["h"], r["n"]) for r in spark.table("late_t").collect())
    assert rows == [(10, 2), (13, 2), (14, 1)], rows


def test_document_curation_stream_equals_batch(spark):
    """The stateless curation policy must produce identical verdicts on
    the ingest stream (append mode, no watermark, no state) and on the
    batch corpus — the written-once-applied-everywhere contract."""
    from platform_etl_literature_spark.streaming.documents import (
        curated_documents,
        read_documents_stream,
    )

    stream = curated_documents(read_documents_stream(spark, SF_DIR))
    q = run_to_memory(stream, "curated_t", output_mode="append")
    q.awaitTermination(120)
    q.stop()
    got = sorted(tuple(r) for r in spark.table("curated_t").collect())
    batch = curated_documents(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    exp = sorted(tuple(r) for r in batch.collect())
    assert got == exp
    assert len(got) > 0
    assert any(r[-1] == 1 for r in got) and any(r[-1] == 0 for r in got)


def test_streaming_sliding_counts_match_batch(spark, batch_events):
    from platform_etl_literature_spark.streaming.events import sliding_counts

    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    got = _drain(spark, sliding_counts(stream), "sliding_t")
    expected = sliding_counts(batch_events)
    g = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in expected.collect()}
    assert g == e
    assert len(g) > 0
    # overlapping panes: every event lands in window/slide = 4 panes
    assert sum(n for n, _ in g.values()) == batch_events.count() * 4


def test_ingest_dedup_across_and_within_batches(spark, tmp_path):
    """foreachBatch dedup-at-ingest: a doc duplicated WITHIN a batch
    keeps its min-id row; a doc re-arriving in a LATER batch is dropped
    via the persistent digest index."""
    from platform_etl_literature_spark.streaming.ingest_dedup import (
        ingest_dedup_writer,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    land = tmp_path / "landing"
    land.mkdir()

    def arrive(name, rows):
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts, pa.string()),
                }
            ),
            str(land / name),
        )

    arrive("f1.parquet", [(1, "alpha"), (2, "alpha"), (3, "beta")])
    arrive("f2.parquet", [(4, "beta"), (5, "gamma"), (6, "gamma")])
    # the file source orders files by modification time; files written
    # back to back can share one, so give f2 a later one
    t1 = os.stat(land / "f1.parquet").st_mtime
    os.utime(land / "f2.parquet", (t1 + 10, t1 + 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        ingest_dedup_writer(
            stream, str(tmp_path / "index"), str(tmp_path / "corpus")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    # alpha: min-id 1 within batch 1; beta: 3 from batch 1, 4 dropped by
    # the index; gamma: min-id 5 within batch 2
    assert kept == {1: "alpha", 3: "beta", 5: "gamma"}
    idx = spark.read.parquet(str(tmp_path / "index")).distinct().count()
    assert idx == 3


def test_ingest_dedup_replay_matches_streaming_writer(spark, tmp_path):
    """The batch REPLAY fold must accept EXACTLY the set the real
    foreachBatch writer accepts when the same corpus arrives in the
    same batch order — the suite row's batch-equivalence claim tested
    against the actual streaming path, not just the closed form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.streaming.ingest_dedup import (
        ingest_dedup_replay,
        ingest_dedup_writer,
    )

    rows = [
        (i, ["alpha", "beta", "gamma", "delta", "epsilon"][i % 5])
        for i in range(20)
    ]
    land = tmp_path / "landing"
    land.mkdir()
    # batch b holds ids with id % 4 == b, shipped as one file per batch
    import os as _os

    for b in range(4):
        ids, texts = zip(*[r for r in rows if r[0] % 4 == b])
        path = str(land / f"b{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(list(texts), pa.string()),
                }
            ),
            path,
        )
        # strictly increasing mtimes pin the FileStreamSource arrival
        # order to the batch order the replay assumes
        _os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        ingest_dedup_writer(
            stream, str(tmp_path / "index"), str(tmp_path / "corpus")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }

    batch = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", (F.col("doc_id") % 4).alias("batch")
    )
    replayed = {
        r["doc_id"]
        for r in ingest_dedup_replay(batch, [0, 1, 2, 3]).collect()
    }
    assert streamed == replayed
    # 5 distinct texts -> exactly 5 winners, each min (batch, id)
    assert len(replayed) == 5


def test_ingest_neardedup_replay_matches_streaming_writer(spark, tmp_path):
    """The near-dup batch REPLAY fold must accept EXACTLY the set the
    real foreachBatch writer accepts for the same arrival order — the
    suite row's batch-equivalence claim tested against the actual
    streaming path with a persistent band index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.streaming.ingest_neardedup import (
        neardedup_replay,
        neardedup_writer,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "entirely different words compose this sentence here",
        "spark streams deduplicate documents at ingest time",
        "tiny",
    ]
    rows = [(i, base[i % 5] + (" tail" if i % 10 >= 5 else "")) for i in range(24)]
    land = tmp_path / "landing"
    land.mkdir()
    import os as _os

    for b in range(4):
        ids, texts = zip(*[r for r in rows if r[0] % 4 == b])
        path = str(land / f"b{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(list(texts), pa.string()),
                }
            ),
            path,
        )
        _os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        neardedup_writer(
            stream, str(tmp_path / "bandindex"), str(tmp_path / "corpus")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    batch = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", (F.col("doc_id") % 4).alias("batch")
    )
    replayed = {
        r["doc_id"]
        for r in neardedup_replay(batch, [0, 1, 2, 3]).collect()
    }
    assert streamed == replayed
    # the bandless doc ("tiny", no bigram) in batch 0 must be accepted
    assert 4 in replayed
    # heavy near-duplication -> the fold must actually reject docs
    assert len(replayed) < len(rows)


def test_stream_static_segment_enrichment_matches_batch(spark, batch_events):
    """Stream-static broadcast join (events stream x customer dim) +
    windowed agg must equal the same pipeline on batch input, and the
    unmatched-user path must land in UNKNOWN, not drop rows."""
    from platform_etl_literature_spark.sources.events import read_table
    from platform_etl_literature_spark.streaming.events import segment_hourly_counts

    customers = read_table(spark, SF_DIR, "customer")
    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    got = _drain(spark, segment_hourly_counts(stream, customers), "seg_hourly_t")
    expected = segment_hourly_counts(batch_events, customers)
    g = {(r["window_start"], r["segment"]): (r["n"], r["sum_value"]) for r in got.collect()}
    e = {(r["window_start"], r["segment"]): (r["n"], r["sum_value"]) for r in expected.collect()}
    assert g == e
    assert len(g) > 0
    # unmatched users must surface as UNKNOWN, never silently drop
    orphan = segment_hourly_counts(
        batch_events, customers.where(F.col("c_custkey") < 0)
    )
    rows = orphan.select("segment").distinct().collect()
    assert {r["segment"] for r in rows} == {"UNKNOWN"}
    assert orphan.agg(F.sum("n")).first()[0] == batch_events.count()


def test_ingest_dedup_matches_batch_survivor_chain(spark, tmp_path):
    """End-to-end agreement of the two dedup paths (VERDICT r4 item 7):
    replaying a corpus (id-ordered) through the foreachBatch ingest
    dedup must accept EXACTLY the batch side's survivor set — exact-
    digest edges → connected_components → dedup_survivors.  For exact
    duplicates the digest relation is transitive, so each component is
    one digest class and its min id is both the batch survivor and the
    first-arriving streaming winner."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators import components as CC
    from platform_etl_literature_spark.operators import dedup as D
    from platform_etl_literature_spark.streaming.ingest_dedup import (
        ingest_dedup_writer,
    )

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(300)
    )
    # guarantee cross-batch duplicates: re-land every 5th doc under a
    # fresh id strictly above all originals
    dupes = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = base.unionByName(dupes)
    rows = corpus.orderBy("doc_id").collect()

    land = tmp_path / "landing"
    land.mkdir()
    third = (len(rows) + 2) // 3
    now = time.time()
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        path = str(land / f"part{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc_id"] for r in chunk], pa.int64()),
                    "text": pa.array([r["text"] for r in chunk], pa.string()),
                }
            ),
            path,
        )
        os.utime(path, (now + 10 * i, now + 10 * i))  # arrival order = id order

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        ingest_dedup_writer(
            stream, str(tmp_path / "index"), str(tmp_path / "corpus")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    accepted = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }

    # batch survivor chain on exact-digest edges
    keyed = corpus.withColumn("_h", F.md5("text"))
    mins = keyed.groupBy("_h").agg(F.min("doc_id").alias("_m"))
    pairs = (
        keyed.join(mins, "_h")
        .where(F.col("doc_id") != F.col("_m"))
        .select(F.col("_m").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    surv = CC.dedup_survivors(corpus, pairs, "doc_id")
    batch_ids = {r["doc_id"] for r in surv.where("is_survivor").collect()}
    D.release_cached()

    assert len(accepted) > 0 and len(accepted) < len(rows)  # dedup happened
    assert accepted == batch_ids


def test_scd2_stream_matches_batch_chain(spark, tmp_path):
    """Streaming SCD2 maintenance: replaying three update files through
    the foreachBatch writer must leave a latest history snapshot equal
    to the batch chain scd2_init + 2 x scd2_apply, version for
    version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.merge import (
        scd2_apply,
        scd2_init,
    )
    from platform_etl_literature_spark.streaming.scd2 import (
        _committed_versions,
        read_history,
        scd2_stream_writer,
    )

    batches = [
        [(1, "alpha"), (2, "beta")],
        [(1, "ALPHA"), (3, "gamma")],          # change + insert
        [(2, "beta"), (3, "GAMMA"), (3, "g2")],  # no-op + change (dup key in batch)
    ]
    land = tmp_path / "landing"
    land.mkdir()
    import os
    import time

    now = time.time()
    for i, rows in enumerate(batches):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    root = str(tmp_path / "hist")
    q = (
        scd2_stream_writer(stream, root, ["doc_id"], ["text"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert _committed_versions(spark, root) == [1, 2, 3]
    got = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in read_history(spark, root, 3).collect()
    }

    def df_of(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    h = scd2_init(df_of(batches[0]), ["text"], version=1)
    h = scd2_apply(h, df_of(batches[1]), ["doc_id"], ["text"], version=2)
    # batch 3 carries a duplicate key (3): the stream dedups to the
    # min-struct winner "GAMMA" — mirror that on the batch side
    h = scd2_apply(
        h, df_of([(2, "beta"), (3, "GAMMA")]), ["doc_id"], ["text"], version=3
    )
    want = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in h.collect()
    }
    assert got == want
    # spot semantics: key 2 never re-versioned; key 3 closed at v3
    assert got[(2, 1)] == ("beta", None)
    assert got[(3, 2)] == ("gamma", 3) and got[(3, 3)] == ("GAMMA", None)

    # ---- maintenance cycle: compact all live buckets into version 4,
    # vacuum the now-unreferenced 1..3, and verify the snapshot is
    # untouched (compaction rewrites files, never rows)
    from platform_etl_literature_spark.streaming.scd2 import (
        compact_history,
        vacuum_history,
    )

    assert compact_history(spark, root) == 4
    assert vacuum_history(spark, root) == [1, 2, 3]
    assert _committed_versions(spark, root) == [4]
    got4 = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in read_history(spark, root).collect()
    }
    assert got4 == want

    # ---- and the stream keeps going on top of the compacted history:
    # a 4th update file resumes from the same checkpoint (batch_id 3 is
    # in no surviving manifest) and claims version 5
    p = str(land / "b3.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], pa.int64()),
                "text": pa.array(["alpha2"], pa.string()),
            }
        ),
        p,
    )
    os.utime(p, (now + 40, now + 40))
    q = (
        scd2_stream_writer(stream, root, ["doc_id"], ["text"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _committed_versions(spark, root) == [4, 5]
    h5 = scd2_apply(
        h, df_of([(1, "alpha2")]), ["doc_id"], ["text"], version=5
    )
    got5 = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in read_history(spark, root).collect()
    }
    want5 = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in h5.collect()
    }
    assert got5 == want5


def test_scd2_stream_writes_only_dirty_buckets(spark, tmp_path):
    """The incremental layout's scale claim, measured: after a 10⁴-key
    init, a 2-key update batch must write ONLY the hash buckets those
    keys land in — per-batch write volume ∝ batch, not corpus (VERDICT
    r5 item 1) — while read_history still reconstructs the exact batch
    scd2 chain."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.merge import (
        scd2_apply,
        scd2_init,
    )
    from platform_etl_literature_spark.streaming.scd2 import (
        _committed_versions,
        read_history,
        scd2_stream_writer,
    )

    n_keys, n_buckets = 10_000, 64
    batches = [
        [(i, f"t{i}") for i in range(n_keys)],
        [(7, "CHANGED"), (n_keys + 1, "NEW")],  # 1 change + 1 insert
    ]
    land = tmp_path / "landing"
    land.mkdir()
    import time

    now = time.time()
    for i, rows in enumerate(batches):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    root = str(tmp_path / "hist")
    q = (
        scd2_stream_writer(
            stream, root, ["doc_id"], ["text"], n_buckets=n_buckets
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _committed_versions(spark, root) == [1, 2]

    # v2's data directory holds at most 2 bucket partitions and ~2
    # buckets' worth of rows — NOT the 10⁴-row corpus
    v2_buckets = [
        d
        for d in os.listdir(f"{root}/history_v2/data")
        if d.startswith("_bucket=")
    ]
    assert 1 <= len(v2_buckets) <= 2, v2_buckets
    v2_rows = spark.read.parquet(f"{root}/history_v2/data").count()
    assert v2_rows <= 3 * (n_keys // n_buckets) + 4, v2_rows

    # and the reconstructed snapshot equals the batch chain exactly
    h = scd2_init(
        spark.createDataFrame(batches[0], ["doc_id", "text"]),
        ["text"],
        version=1,
    )
    h = scd2_apply(
        h,
        spark.createDataFrame(batches[1], ["doc_id", "text"]),
        ["doc_id"],
        ["text"],
        version=2,
    )
    want = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in h.collect()
    }
    got = {
        (r["doc_id"], r["valid_from"]): (r["text"], r["valid_to"])
        for r in read_history(spark, root).collect()
    }
    assert got == want


def test_cms_stream_maintenance_merges_exactly(spark, tmp_path):
    """Streaming count-min maintenance: per-batch grids land under
    batch=<id> (replay-idempotent overwrite), and the merged view has
    IDENTICAL cells to a direct batch build over everything delivered
    — the exactly-once contract for counter sketches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.sketch import cms_build
    from platform_etl_literature_spark.streaming.sketches import (
        cms_maintain_writer,
        cms_read_merged,
        cms_stream_estimate,
    )

    land = tmp_path / "landing"
    land.mkdir()

    def arrive(name, words):
        pq.write_table(
            pa.table({"word": pa.array(words, pa.string())}), str(land / name)
        )

    arrive("f1.parquet", ["a", "a", "b", "c"])
    arrive("f2.parquet", ["a", "c", "c", "d"])

    stream = (
        spark.readStream.schema("word string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    grid = str(tmp_path / "grid")
    q = (
        cms_maintain_writer(stream, "word", grid, w=32, d=2)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # at least two batch directories, each its own grid
    batches = spark.read.parquet(grid).select("batch").distinct().count()
    assert batches >= 2

    everything = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 1 + [("c",)] * 3 + [("d",)] * 1, ["word"]
    )
    direct = {
        (r["r"], r["p"]): r["cnt"]
        for r in cms_build(everything, "word", w=32, d=2).collect()
    }
    merged = {
        (r["r"], r["p"]): r["cnt"]
        for r in cms_read_merged(spark, grid).collect()
    }
    assert merged == direct

    est = {
        r["word"]: r["est_count"]
        for r in cms_stream_estimate(
            spark, grid, everything.distinct(), "word", w=32, d=2
        ).collect()
    }
    for wd, true in (("a", 3), ("b", 1), ("c", 3), ("d", 1)):
        assert est[wd] >= true


def test_streaming_outlier_flags_match_batch_operator(spark, batch_events):
    """Stream-static robust-anomaly enrichment: batch-computed med/MAD
    broadcast into the stream must flag EXACTLY the batch operator's
    outlier set (shared z arithmetic, shared mad=0 guard) with zero
    streaming state (append mode, no watermark)."""
    from platform_etl_literature_spark.operators import robust as RB
    from platform_etl_literature_spark.streaming.anomaly import flag_outliers

    stats = RB.robust_stats(batch_events, ["event_type"], "value")
    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    flagged = flag_outliers(
        stream, stats, ["event_type"], "value",
        cutoff=2.5, carry_cols=["event_id"],
    )
    q = run_to_memory(flagged, "outliers_t", output_mode="append")
    q.awaitTermination(120)
    q.stop()
    got = {
        (r["event_id"], r["z"]) for r in spark.table("outliers_t").collect()
    }
    want = {
        (r["event_id"], r["z"])
        for r in RB.robust_outliers(
            batch_events, ["event_type"], "value",
            cutoff=2.5, id_cols=["event_id"],
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_hdr_stream_maintenance_merges_exactly(spark, tmp_path):
    """Streaming HDR quantile-histogram maintenance: per-batch
    histograms land under batch=<id> (replay-idempotent overwrite);
    the merged view has IDENTICAL cells to a direct batch build over
    everything delivered, and stream-so-far quantiles answer from the
    merged sketch."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.sketch import hdr_build
    from platform_etl_literature_spark.streaming.sketches import (
        hdr_maintain_writer,
        hdr_read_merged,
        hdr_stream_quantiles,
    )

    land = tmp_path / "landing"
    land.mkdir()

    def arrive(name, vals):
        pq.write_table(
            pa.table({"v": pa.array(vals, pa.int64())}), str(land / name)
        )

    b1 = list(range(1, 120, 2))
    b2 = [v * 7 for v in range(1, 80)]
    arrive("f1.parquet", b1)
    arrive("f2.parquet", b2)

    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    hist = str(tmp_path / "hist")
    q = (
        hdr_maintain_writer(stream, "v", hist, m=8)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert (
        spark.read.parquet(hist).select("batch").distinct().count() >= 2
    )
    everything = spark.createDataFrame([(v,) for v in b1 + b2], "v long")
    direct = {
        r["b"]: r["cnt"] for r in hdr_build(everything, "v", m=8).collect()
    }
    merged = {
        r["b"]: r["cnt"] for r in hdr_read_merged(spark, hist).collect()
    }
    assert merged == direct

    got = {
        r["q"]: r["est_q"]
        for r in hdr_stream_quantiles(spark, hist, [0.5, 0.9], m=8).collect()
    }
    sv = sorted(b1 + b2)
    for qq in (0.5, 0.9):
        exact = sv[max(1, math.ceil(qq * len(sv))) - 1]
        assert abs(got[qq] - exact) / exact <= 1.0 / 8, (qq, got[qq], exact)

    # drift composes on the maintained state: PSI(stream-merged,
    # reference) == PSI(direct-built, reference) EXACTLY (merge ==
    # direct is cell-identical, and the PSI fold is an integer sum)
    from platform_etl_literature_spark.operators.sketch import psi_drift

    ref = hdr_build(
        spark.createDataFrame([(v * 3,) for v in b1], "v long"), "v", m=8
    )
    via_stream = psi_drift(
        hdr_read_merged(spark, hist).select("b", "cnt"), ref
    ).collect()[0]
    via_direct = psi_drift(hdr_build(everything, "v", m=8), ref).collect()[0]
    assert via_stream["psi_nano"] == via_direct["psi_nano"]
    assert via_stream["psi"] > 0.0


def test_ivm_stream_matches_direct_build(spark, tmp_path):
    """Streaming aggregate maintenance: CDC files (inserts + deletes,
    one per micro-batch) folded through the dirty-bucket writer must
    leave a state equal to a direct batch build over the NET fact set
    — including a group that empties out entirely."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.ivm import agg_state_build
    from platform_etl_literature_spark.streaming.ivm import (
        agg_maintain_writer,
        read_state,
    )

    batches = [
        [("I", "g1", 10), ("I", "g1", 20), ("I", "g2", 5)],
        [("I", "g3", 7), ("D", "g1", 10)],        # delete one g1 row
        [("D", "g2", 5), ("I", "g1", 100)],       # g2 empties out
    ]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "_op": pa.array([r[0] for r in rows], pa.string()),
                    "g": pa.array([r[1] for r in rows], pa.string()),
                    "v": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("_op string, g string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    root = str(tmp_path / "state")
    q = (
        agg_maintain_writer(stream, root, ["g"], ["v"], n_buckets=8)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    net = [("g1", 20), ("g3", 7), ("g1", 100)]
    direct = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in agg_state_build(
            spark.createDataFrame(net, "g string, v long"), ["g"], ["v"]
        ).collect()
    }
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in read_state(spark, root).collect()
    }
    assert got == direct
    assert "g2" not in got


def test_ivm_stream_writes_only_dirty_buckets(spark, tmp_path):
    """A 2-key CDC batch over a many-group state must write only the
    buckets those keys hash to — per-batch write volume follows the
    batch, not the state (the same contract the SCD2 layout pins)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.streaming.ivm import (
        agg_maintain_writer,
    )

    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    base = [("I", f"g{i}", i) for i in range(500)]
    delta = [("I", "g3", 999), ("D", "g7", 7)]
    for i, rows in enumerate([base, delta]):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "_op": pa.array([r[0] for r in rows], pa.string()),
                    "g": pa.array([r[1] for r in rows], pa.string()),
                    "v": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("_op string, g string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    root = str(tmp_path / "state")
    q = (
        agg_maintain_writer(stream, root, ["g"], ["v"], n_buckets=64)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    v2 = tmp_path / "state" / "history_v2" / "data"
    written = [d for d in os.listdir(v2) if d.startswith("_bucket=")]
    assert 1 <= len(written) <= 2, written


def test_bloom_stream_maintenance_merges_exactly(spark, tmp_path):
    """Streaming Bloom maintenance: per-batch word arrays land under
    batch=<id>; the bit_or merge is bit-identical to a direct build
    over everything delivered (idempotent + associative), and the
    probe is one-sided: every delivered value probes true."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.dedup import (
        bloom_filter_words,
    )
    from platform_etl_literature_spark.streaming.sketches import (
        bloom_maintain_writer,
        bloom_read_merged,
        bloom_stream_probe,
    )

    land = tmp_path / "landing"
    land.mkdir()

    def arrive(name, vals):
        pq.write_table(
            pa.table({"v": pa.array(vals, pa.string())}), str(land / name)
        )

    b1 = [f"tok{i}" for i in range(40)]
    b2 = [f"tok{i}" for i in range(30, 70)]  # overlap with b1
    arrive("f1.parquet", b1)
    arrive("f2.parquet", b2)

    stream = (
        spark.readStream.schema("v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    words = str(tmp_path / "bloom")
    m_bits, k = 1024, 3
    q = (
        bloom_maintain_writer(stream, "v", words, m_bits=m_bits, k=k)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    everything = spark.createDataFrame(
        [(v,) for v in b1 + b2], "v string"
    )
    direct = bloom_filter_words(everything, "v", m_bits, k)
    merged = bloom_read_merged(spark, words)
    merged = merged + [0] * (m_bits // 64 - len(merged))
    assert merged == direct

    probes = spark.createDataFrame(
        [(v,) for v in ["tok0", "tok69", "never-seen-1", "never-seen-2"]],
        "v string",
    )
    got = {
        r["v"]: r["maybe_seen"]
        for r in bloom_stream_probe(
            spark, words, probes, "v", m_bits, k
        ).collect()
    }
    assert got["tok0"] and got["tok69"]  # no false negatives, ever


def test_streaming_asof_enrichment_matches_batch(spark, tmp_path):
    """Micro-batched as-of enrichment == the batch operator over the
    full stream, and a replayed batch is byte-idempotent (overwrite
    per-batch dir)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.asof import asof_join
    from platform_etl_literature_spark.streaming.asof import (
        asof_enrich_writer,
        read_enriched,
    )

    right_rows = [
        (1, 10, 1.0),
        (1, 25, 2.5),
        (2, 5, 9.0),
        (3, 50, 7.0),  # key never streamed: pruned by the semi join
    ]
    right = spark.createDataFrame(right_rows, "k long, ts long, quote double")

    batches = [
        [(100, 1, 12), (101, 2, 4)],   # 4 < 5: no quote yet
        [(102, 1, 25), (103, 1, 30), (104, 9, 7)],  # tie, later, no key
    ]
    land = tmp_path / "facts"
    land.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "fid": pa.array([r[0] for r in rows], pa.int64()),
                    "k": pa.array([r[1] for r in rows], pa.int64()),
                    "ts": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("fid long, k long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    out = str(tmp_path / "enriched")
    q = (
        asof_enrich_writer(stream, right, out, "k")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["fid"]: (r["ts_r"], r["quote"])
        for r in read_enriched(spark, out).collect()
    }
    full = spark.createDataFrame(
        [r for b in batches for r in b], "fid long, k long, ts long"
    )
    want = {
        r["fid"]: (r["ts_r"], r["quote"])
        for r in asof_join(full, right, "k").collect()
    }
    assert got == want
    assert got[100] == (10, 1.0)
    assert got[101] == (None, None)
    assert got[102] == (25, 2.5)  # inclusive at equal ts
    assert got[104] == (None, None)


def test_stream_stream_asof_join_out_of_order(spark, tmp_path):
    """Stream-stream as-of: a right row arriving a BATCH AFTER the left
    row it affects (but within the watermark) must still win — naive
    resolve-on-arrival would answer with the stale quote.  Final output
    equals the batch asof_join over all data."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.streaming.asof_stream import (
        asof_join_stream,
    )
    from platform_etl_literature_spark.streaming import run_to_memory

    def write_batches(d, schema_cols, batches):
        d.mkdir()
        now = time.time()
        for i, rows in enumerate(batches):
            arrays = {}
            for name, typ in schema_cols:
                vals = [r[[n for n, _ in schema_cols].index(name)] for r in rows]
                if typ == "ts":
                    arrays[name] = pa.array(
                        [v * 1_000_000 for v in vals], pa.timestamp("us")
                    )
                elif typ == "long":
                    arrays[name] = pa.array(vals, pa.int64())
                else:
                    arrays[name] = pa.array(vals, pa.string())
            p = str(d / f"b{i}.parquet")
            pq.write_table(pa.table(arrays), p)
            os.utime(p, (now + 10 * i, now + 10 * i))

    lcols = [("k", "long"), ("ts", "ts"), ("fact", "string")]
    rcols = [("k", "long"), ("ts", "ts"), ("quote", "string")]
    write_batches(
        tmp_path / "l",
        lcols,
        [
            [(1, 100, "f1")],
            [(2, 50, "f2")],
            [(3, 2000, "f3")],  # also moves the left watermark forward
        ],
    )
    write_batches(
        tmp_path / "r",
        rcols,
        [
            [(1, 90, "a")],
            # out-of-order: arrives after left(k1, 100) but ts 95 <= 100
            [(1, 95, "b"), (2, 40, "z")],
            [(99, 2000, "flush")],
        ],
    )
    ls = (
        spark.readStream.schema("k long, ts timestamp, fact string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "l"))
    )
    rs = (
        spark.readStream.schema("k long, ts timestamp, quote string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "r"))
    )
    joined = asof_join_stream(ls, rs, "k", delay="10 seconds")
    q = run_to_memory(joined, "asof_ss_t", output_mode="append")
    q.awaitTermination(180)
    q.stop()
    got = {
        r["k"]: (r["fact"], r["ts_r_us"], r["quote"])
        for r in spark.table("asof_ss_t").collect()
    }
    # k=1: the batch-later quote at 95 wins over the stale 90
    assert got[1] == ("f1", 95_000_000, "b")
    assert got[2] == ("f2", 40_000_000, "z")
    # k=3 (ts 2000) is NOT resolvable: the final watermark stops at
    # 1990 only after the flush row, and 2000 > 1990 -> stays pending
    assert 3 not in got

    # batch twin equality on the resolvable subset
    from platform_etl_literature_spark.operators.asof import asof_join
    import pyspark.sql.functions as F

    lb = spark.createDataFrame(
        [(1, 100, "f1"), (2, 50, "f2")], "k long, s long, fact string"
    ).select("k", F.timestamp_seconds("s").alias("ts"), "fact")
    rb = spark.createDataFrame(
        [(1, 90, "a"), (1, 95, "b"), (2, 40, "z"), (99, 2000, "flush")],
        "k long, s long, quote string",
    ).select("k", F.timestamp_seconds("s").alias("ts"), "quote")
    want = {
        r["k"]: (r["fact"], r["ts_r"] and int(r["ts_r"].timestamp() * 1e6), r["quote"])
        for r in asof_join(lb, rb, "k").collect()
    }
    assert {k: got[k] for k in want} == want


def test_stream_stream_asof_randomized_equals_batch(spark, tmp_path):
    """Property: for seeded random facts/quotes scattered arbitrarily
    across micro-batches (heavy out-of-order), the stream-stream as-of
    equals the batch asof_join on every left row the final watermark
    resolves."""
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from platform_etl_literature_spark.operators.asof import asof_join
    from platform_etl_literature_spark.streaming import run_to_memory
    from platform_etl_literature_spark.streaming.asof_stream import (
        asof_join_stream,
    )

    rng = random.Random(20260815)
    lefts = [
        (i, rng.randrange(4), rng.randrange(100, 1000))
        for i in range(40)
    ]
    rights = [
        (1000 + i, rng.randrange(5), rng.randrange(100, 1000), float(i))
        for i in range(60)
    ]
    # one flush quote far in the future pushes the final watermark
    rights.append((9999, 99, 1_000_000, -1.0))

    n_batches = 4
    lb = [[] for _ in range(n_batches)]
    rb = [[] for _ in range(n_batches)]
    for row in lefts:
        lb[rng.randrange(n_batches)].append(row)
    for row in rights[:-1]:
        rb[rng.randrange(n_batches)].append(row)
    rb[n_batches - 1].append(rights[-1])  # flush arrives last

    def write(d, cols, types, batches):
        d.mkdir()
        now = time.time()
        for i, rows in enumerate(batches):
            arrays = {}
            for j, (name, typ) in enumerate(zip(cols, types)):
                vals = [r[j] for r in rows]
                if typ == "ts":
                    arrays[name] = pa.array(
                        [v * 1_000_000 for v in vals], pa.timestamp("us")
                    )
                elif typ == "f":
                    arrays[name] = pa.array(vals, pa.float64())
                else:
                    arrays[name] = pa.array(vals, pa.int64())
            p = str(d / f"b{i}.parquet")
            pq.write_table(pa.table(arrays), p)
            os.utime(p, (now + 10 * i, now + 10 * i))

    write(tmp_path / "l", ["lid", "k", "ts"], ["i", "i", "ts"], lb)
    write(tmp_path / "r", ["rid", "k", "ts", "v"], ["i", "i", "ts", "f"], rb)

    ls = (
        spark.readStream.schema("lid long, k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "l"))
    )
    rs = (
        spark.readStream.schema(
            "rid long, k long, ts timestamp, v double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "r"))
    )
    # delay must cover the full scatter disorder (~900 s): anything
    # later than the watermark is dropped as late input — the standard
    # streaming contract the operator inherits
    joined = asof_join_stream(ls, rs, "k", delay="1000 seconds")
    q = run_to_memory(joined, "asof_rand_t", output_mode="append")
    q.awaitTermination(240)
    q.stop()
    got = {
        r["lid"]: (r["ts_r_us"], r["rid"], r["v"])
        for r in spark.table("asof_rand_t").collect()
    }

    fl = spark.createDataFrame(lefts, "lid long, k long, s long").select(
        "lid", "k", F.timestamp_seconds("s").alias("ts")
    )
    fr = spark.createDataFrame(
        rights, "rid long, k long, s long, v double"
    ).select("rid", "k", F.timestamp_seconds("s").alias("ts"), "v")
    want = {
        r["lid"]: (
            r["ts_r"] and int(r["ts_r"].timestamp() * 1e6),
            r["rid"],
            r["v"],
        )
        for r in asof_join(fl, fr, "k").collect()
    }
    # all lefts resolve: final watermark ~999000 covers ts < 1000
    assert set(got) == {lid for lid, _, _ in lefts}
    for lid in got:
        assert got[lid] == want[lid], lid


def test_stream_stream_asof_left_at_watermark_stays_pending(spark, tmp_path):
    """A left must not resolve while left_ts == watermark: whether a
    right stamped exactly at the watermark can still arrive depends on
    Spark's late-event filter boundary, which is empirically
    SHAPE-DEPENDENT (a bare single-source applyInPandasWithState
    pipeline delivered rows at and even below the watermark; this
    operator's union shape drops ts <= wm) — so the operator defers
    emission until the watermark has STRICTLY passed the left's
    timestamp, which is safe under either convention.  This test pins
    the deferral: a left whose timestamp equals the FINAL watermark is
    not emitted (the old inclusive rule emitted it), while a left one
    second inside the closed region is."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.streaming import run_to_memory
    from platform_etl_literature_spark.streaming.asof_stream import (
        asof_join_stream,
    )

    def write_batches(d, schema_cols, batches):
        d.mkdir()
        now = time.time()
        for i, rows in enumerate(batches):
            arrays = {}
            for name, typ in schema_cols:
                vals = [r[[n for n, _ in schema_cols].index(name)] for r in rows]
                if typ == "ts":
                    arrays[name] = pa.array(
                        [v * 1_000_000 for v in vals], pa.timestamp("us")
                    )
                elif typ == "long":
                    arrays[name] = pa.array(vals, pa.int64())
                else:
                    arrays[name] = pa.array(vals, pa.string())
            p = str(d / f"b{i}.parquet")
            pq.write_table(pa.table(arrays), p)
            os.utime(p, (now + 10 * i, now + 10 * i))

    lcols = [("k", "long"), ("ts", "ts"), ("fact", "string")]
    rcols = [("k", "long"), ("ts", "ts"), ("quote", "string")]
    # delay=10s; the flush row at ts=110 parks the FINAL watermark at
    # exactly 100 = left(1)'s timestamp; left(2) at 99 sits one second
    # strictly inside the closed region
    write_batches(
        tmp_path / "l",
        lcols,
        [
            [(1, 100, "f1"), (2, 99, "f2")],
            [(9, 110, "flush")],
        ],
    )
    write_batches(
        tmp_path / "r",
        rcols,
        [
            [(1, 90, "a"), (2, 90, "b")],
        ],
    )
    ls = (
        spark.readStream.schema("k long, ts timestamp, fact string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "l"))
    )
    rs = (
        spark.readStream.schema("k long, ts timestamp, quote string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "r"))
    )
    joined = asof_join_stream(ls, rs, "k", delay="10 seconds")
    q = run_to_memory(joined, "asof_ss_boundary", output_mode="append")
    q.awaitTermination(180)
    q.stop()
    got = {
        r["k"]: (r["fact"], r["ts_r_us"], r["quote"])
        for r in spark.table("asof_ss_boundary").collect()
    }
    # ts == wm: MUST stay pending (old inclusive rule emitted it here)
    assert 1 not in got, got
    # ts < wm: resolved, liveness intact
    assert got[2] == ("f2", 90_000_000, "b"), got


def test_streaming_ohlc_bars_match_batch_and_flat_operator(spark, batch_events):
    """Streaming OHLC == the same windowed code on batch inputs == the
    flat timeseries.ohlc_bars operator (same width, same cent
    contract) — the resample family's stream/batch equivalence."""
    from platform_etl_literature_spark.operators.timeseries import ohlc_bars
    from platform_etl_literature_spark.streaming.events import (
        ohlc_bars_windowed,
    )

    stream = read_events_stream(spark, SF_DIR, max_files_per_trigger=1)
    got = _drain(spark, ohlc_bars_windowed(stream), "ohlc_t")

    def canon(df):
        return {
            (r["bucket_start"], r["event_type"]): (
                r["open"], r["high"], r["low"], r["close"], r["n"],
                r["sum_value"],
            )
            for r in df.collect()
        }

    g = canon(got)
    assert g == canon(ohlc_bars_windowed(batch_events))
    flat = ohlc_bars(
        batch_events, ["event_type"], width_seconds=6 * 3600
    ).withColumnRenamed("bucket_start", "bucket_start")
    assert g == canon(flat)
    assert len(g) > 0


def test_streaming_attribution_randomized_equals_batch(spark, tmp_path):
    """Property: for seeded random touch/conversion events scattered
    across micro-batches (heavy out-of-order), the streaming
    attribution equals the batch touch_attribution row-for-row on
    every conversion the final watermark resolves — including the
    NULL-touch (unattributable) rows."""
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from platform_etl_literature_spark.operators.funnel import (
        touch_attribution,
    )
    from platform_etl_literature_spark.streaming import run_to_memory
    from platform_etl_literature_spark.streaming.attribution import (
        touch_attribution_stream,
    )

    rng = random.Random(20260816)
    types = ["click", "view", "purchase", "purchase"]
    rows = [
        (i, rng.randrange(4), rng.randrange(100, 1000), rng.choice(types))
        for i in range(120)
    ]
    # equal-ts collisions on purpose: clones at the same (user, ts)
    rows += [
        (200 + j, u, s, ty)
        for j, (i, u, s, ty) in enumerate(rows[:10])
    ]
    flush = (9999, 99, 1_000_000, "click")

    n_batches = 4
    batches = [[] for _ in range(n_batches)]
    for r in rows:
        batches[rng.randrange(n_batches)].append(r)
    batches[n_batches - 1].append(flush)

    d = tmp_path / "ev"
    d.mkdir()
    now = time.time()
    for i, rs in enumerate(batches):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rs], pa.int64()),
                "user_id": pa.array([r[1] for r in rs], pa.int64()),
                "ts": pa.array(
                    [r[2] * 1_000_000 for r in rs], pa.timestamp("us")
                ),
                "event_type": pa.array([r[3] for r in rs], pa.string()),
            }
        )
        p = str(d / f"b{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (now + 10 * i, now + 10 * i))

    es = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = touch_attribution_stream(
        es, lookback_seconds=300, delay="1000 seconds"
    )
    q = run_to_memory(out, "attr_rand_t", output_mode="append")
    q.awaitTermination(240)
    q.stop()
    got = {
        r["conversion_id"]: (
            r["user_id"], r["conversion_us"],
            r["last_touch_id"], r["last_touch_type"],
            r["first_touch_id"], r["first_touch_type"], r["n_touches"],
        )
        for r in spark.table("attr_rand_t").collect()
    }

    allr = rows + [flush]
    bdf = spark.createDataFrame(
        allr, "event_id long, user_id long, s long, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds("s").alias("ts"), "event_type",
    )
    want = {
        r["conversion_id"]: (
            r["user_id"], r["conversion_us"],
            r["last_touch_id"], r["last_touch_type"],
            r["first_touch_id"], r["first_touch_type"], r["n_touches"],
        )
        for r in touch_attribution(bdf, lookback_seconds=300).collect()
    }
    # final watermark ~999000 s strictly passes every real conversion
    assert set(got) == set(want)
    for cid in got:
        assert got[cid] == want[cid], (cid, got[cid], want[cid])


def test_cell_counts_stream_maintenance_and_exact_drift(spark, tmp_path):
    """Streaming exact-cell maintenance: per-batch (value) count grids
    land under batch=<id>; the merged cells are IDENTICAL to a direct
    batch count, and BOTH exact drift tests composed on the merged
    state equal their raw-data twins bit-for-bit (integer supremum /
    integer nano-fold — no float path to diverge)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.quality_checks import (
        chi2_drift,
        chi2_from_counts,
    )
    from platform_etl_literature_spark.operators.robust import (
        ks_2samp,
        ks_from_counts,
    )
    from platform_etl_literature_spark.streaming.sketches import (
        cell_counts_maintain_writer,
        cell_counts_read_merged,
    )

    land = tmp_path / "landing"
    land.mkdir()
    b1 = [1, 2, 2, 3, 5, 8, 8, 8]
    b2 = [2, 3, 3, 13, 21, 21]
    pq.write_table(
        pa.table({"v": pa.array(b1, pa.int64())}), str(land / "f1.parquet")
    )
    pq.write_table(
        pa.table({"v": pa.array(b2, pa.int64())}), str(land / "f2.parquet")
    )

    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    cells = str(tmp_path / "cells")
    q = (
        cell_counts_maintain_writer(stream, ["v"], cells)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    everything = spark.createDataFrame([(v,) for v in b1 + b2], "v long")
    direct = {
        (r["v"],): r["cnt"]
        for r in everything.groupBy("v").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    merged_df = cell_counts_read_merged(spark, cells, ["v"])
    merged = {(r["v"],): r["cnt"] for r in merged_df.collect()}
    assert merged == direct

    # drift vs a shifted reference window: composed-on-state == raw
    ref_vals = [v + 2 for v in b1]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "v long")
    ref_cells = ref.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    via_state = ks_from_counts(merged_df, ref_cells, "v").collect()[0]
    raw = everything.withColumn("s", F.lit(True)).unionByName(
        ref.withColumn("s", F.lit(False))
    )
    via_raw = ks_2samp(raw, "v", "s").collect()[0]
    assert via_state["d_num"] == via_raw["d_num"]
    assert via_state["ks_d"] == via_raw["ks_d"]
    assert via_state["d_num"] > 0

    # categorical twin on the same state (values as categories)
    via_state_c = chi2_from_counts(merged_df, ref_cells, "v").collect()[0]
    via_raw_c = chi2_drift(raw, "v", "s").collect()[0]
    assert via_state_c["chi2_nano"] == via_raw_c["chi2_nano"]
    assert via_state_c["n_cats"] == via_raw_c["n_cats"]


def test_benford_composes_on_streamed_cell_state(spark, tmp_path):
    """Benford conformance on stream-maintained digit-cell state
    equals the direct batch computation bit-for-bit (the
    ks/chi2_from_counts composition pattern: the state is exact
    integer cells, the statistic folds in micro-units)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.quality_checks import (
        benford_first_digit,
        benford_from_counts,
    )
    from platform_etl_literature_spark.streaming.sketches import (
        cell_counts_maintain_writer,
        cell_counts_read_merged,
    )

    land = tmp_path / "landing"
    land.mkdir()
    b1 = [123, 19, 23, 345, 91]
    b2 = [11, 87, 65, 41, 20, 199]
    for i, b in enumerate((b1, b2)):
        digits = [int(str(v)[0]) for v in b]
        pq.write_table(
            pa.table({"digit": pa.array(digits, pa.int64())}),
            str(land / f"f{i}.parquet"),
        )
    stream = (
        spark.readStream.schema("digit long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    cells = str(tmp_path / "cells")
    q = (
        cell_counts_maintain_writer(stream, ["digit"], cells)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = cell_counts_read_merged(spark, cells, ["digit"])
    via_state = {
        r["digit"]: r
        for r in benford_from_counts(
            merged, key_cols=[], count_col="cnt"
        ).collect()
    }
    everything = spark.createDataFrame(
        [(v,) for v in b1 + b2], "v long"
    )
    direct = {
        r["digit"]: r
        for r in benford_first_digit(everything, "v").collect()
    }
    assert set(via_state) == set(direct) == set(range(1, 10))
    for d in direct:
        for c in ("n_obs", "obs_p", "exp_p", "term_micro", "chi2_micro"):
            assert via_state[d][c] == direct[d][c], (d, c)


def test_acf_composes_on_ivm_maintained_daily_sums(spark, tmp_path):
    """The autocorrelation function composed on IVM-maintained
    (key, day) sum state equals the direct batch ACF bit-for-bit —
    the sufficient-statistic chain is exact integers end to end, so
    maintaining the daily cells incrementally (inserts AND deletes)
    and running acf_lags over the state is the same computation."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.timeseries import acf_lags
    from platform_etl_literature_spark.streaming.ivm import (
        agg_maintain_writer,
        read_state,
    )

    # (op, key, day, value): two series, a mid-stream correction
    batches = [
        [("I", "a", d, (d + 1) * 10) for d in range(6)],
        [("I", "b", d, 100 - d) for d in range(6)]
        + [("I", "a", 2, 7)],                       # extra cell mass
        [("D", "a", 2, 7)],                          # ...then corrected
    ]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        p = str(land / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "_op": pa.array([r[0] for r in rows], pa.string()),
                    "g": pa.array([r[1] for r in rows], pa.string()),
                    "d": pa.array([r[2] for r in rows], pa.int64()),
                    "v": pa.array([r[3] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("_op string, g string, d long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    root = str(tmp_path / "state")
    q = (
        agg_maintain_writer(stream, root, ["g", "d"], ["v"], n_buckets=8)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    state = read_state(spark, root).select("g", "d", F.col("sum_v").alias("v"))
    via_state = {
        (r["id"], r["lag"]): (r["n_pairs"], r["r"])
        for r in acf_lags(state, "g", "d", "v", max_lag=3).collect()
    }
    net = [("a", d, (d + 1) * 10) for d in range(6)] + [
        ("b", d, 100 - d) for d in range(6)
    ]
    direct = {
        (r["id"], r["lag"]): (r["n_pairs"], r["r"])
        for r in acf_lags(
            spark.createDataFrame(net, "g string, d long, v long"),
            "g", "d", "v", max_lag=3,
        ).collect()
    }
    assert via_state == direct
    # sanity: series a is a perfect line -> lag-1 r == 1.0
    assert via_state[("a", 1)][1] == 1.0


def test_corr_matrix_composes_on_streamed_cells(spark, tmp_path):
    """Correlation-matrix maintenance: stream joint (g, v, d) value
    cells with cell_counts_maintain_writer; corr_matrix_from_cells on
    the merged state equals the direct batch corr_matrix bit-for-bit
    (every sufficient statistic is an integer Σ cnt·term — no float
    path to diverge)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_etl_literature_spark.operators.robust import (
        corr_matrix,
        corr_matrix_from_cells,
    )
    from platform_etl_literature_spark.streaming.sketches import (
        cell_counts_maintain_writer,
        cell_counts_read_merged,
    )

    land = tmp_path / "landing"
    land.mkdir()
    import random

    rng = random.Random(19)
    rows1 = [("a" if i % 3 else "b", rng.randint(0, 9), rng.randint(0, 5))
             for i in range(40)]
    rows2 = [("a" if i % 2 else "b", rng.randint(0, 9), rng.randint(0, 5))
             for i in range(30)]
    for fname, rows in (("f1.parquet", rows1), ("f2.parquet", rows2)):
        pq.write_table(
            pa.table({
                "g": pa.array([r[0] for r in rows]),
                "v": pa.array([r[1] for r in rows], pa.int64()),
                "d": pa.array([r[2] for r in rows], pa.int64()),
            }),
            str(land / fname),
        )

    stream = (
        spark.readStream.schema("g string, v long, d long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    cells = str(tmp_path / "cells")
    q = (
        cell_counts_maintain_writer(stream, ["g", "v", "d"], cells)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    everything = spark.createDataFrame(
        rows1 + rows2, "g string, v long, d long"
    )
    merged = cell_counts_read_merged(spark, cells, ["g", "v", "d"])
    via_state = {
        (r["g"], r["x"], r["y"]): (r["n"], r["corr"])
        for r in corr_matrix_from_cells(
            merged, ["v", "d"], key_cols=["g"]
        ).collect()
    }
    direct = {
        (r["g"], r["x"], r["y"]): (r["n"], r["corr"])
        for r in corr_matrix(everything, ["v", "d"], ["g"]).collect()
    }
    assert via_state == direct and len(direct) == 2
