"""Streaming twins must equal their batch formulations on a bounded
replay (trigger(availableNow) → memory sink)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark import streaming
from nbi_oedi_etl_v2_spark.operators.downsample import downsample
from nbi_oedi_etl_v2_spark.tables import load_table


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_hourly_downsample_equals_batch(spark, sf_dir):
    ev = streaming.read_table_stream(spark, sf_dir, "events")
    res = streaming.run_to_memory(
        streaming.hourly_downsample_stream(ev, "ts", "user_id"), mode="complete"
    )
    batch = downsample(
        load_table(spark, sf_dir, "events"), timestamp_col="ts", entity_col="user_id"
    )
    assert res.columns == batch.columns
    assert _rows(res) == _rows(batch)


def test_stream_sessionize_equals_batch_session_window(spark, sf_dir):
    ev = streaming.read_table_stream(spark, sf_dir, "events")
    res = streaming.run_to_memory(streaming.sessionize_stream(ev), mode="complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    assert _rows(res) == _rows(batch)


def test_stream_dedup_drops_replays(spark, sf_dir):
    # replay the whole stream twice via union of two staged reads —
    # dedup must collapse it back to the distinct event set
    ev1 = streaming.read_table_stream(spark, sf_dir, "events")
    ev2 = streaming.read_table_stream(spark, sf_dir, "events")
    replayed = ev1.unionByName(ev2)
    res = streaming.run_to_memory(
        streaming.dedup_stream(replayed, ["event_id"]), mode="append"
    )
    n = load_table(spark, sf_dir, "events").count()
    assert res.count() == n


def test_stream_ewma_equals_batch(spark, sf_dir):
    # applyInPandasWithState (per-key GroupState) must reproduce the
    # batch applyInPandas fold exactly, alerts included
    ev = streaming.read_table_stream(spark, sf_dir, "events")
    res = streaming.run_to_memory(streaming.ewma_stream(ev), mode="append")
    batch = streaming.ewma_batch(load_table(spark, sf_dir, "events"))
    assert _rows(res) == _rows(batch)
    assert res.where("is_alert").count() > 0  # fixture triggers alerts


def test_stream_ewma_state_evicted_after_watermark(spark, tmp_path):
    # EventTimeTimeout eviction: a key silent past the watermark
    # horizon must hold no state (VERDICT r1 item 2 — unbounded state
    # was the scale-killer). Three availableNow runs over one
    # checkpoint; state row counts come from the progress metrics.
    import datetime
    import glob
    import shutil

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def drop_file(i, rows):
        df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, str(indir / f"batch{i}.parquet"))

    def run(i):
        src = spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        ).parquet(str(indir))
        # file sink: the memory sink can't recover from a checkpoint
        q = (
            streaming.ewma_stream(src)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
        return totals[-1] if totals else None

    # run 1: users 1 and 2 active at t0 → two state rows
    drop_file(0, [(1, t0, 1.0), (2, t0, 2.0)])
    assert run(0) == 2
    # run 2: only user 2, 10h later. The data batch still sees the
    # run-1 watermark (t0-2h, before user 1's t0+2h deadline), but
    # availableNow may run a trailing batch at the advanced watermark
    # (t0+8h) and evict user 1 right away — either is correct.
    drop_file(1, [(2, t0 + datetime.timedelta(hours=10), 3.0)])
    assert run(1) in (1, 2)
    # run 3: watermark t0+8h is firmly past user 1's deadline —
    # exactly one state row (user 2) may remain
    drop_file(2, [(2, t0 + datetime.timedelta(hours=10, minutes=1), 4.0)])
    assert run(2) == 1


def test_stream_stateless_operator_composes(spark, sf_dir):
    # map-only operators run unchanged on a streaming DataFrame
    from nbi_oedi_etl_v2_spark.operators import text

    docs = streaming.read_table_stream(spark, sf_dir, "documents")
    scored = text.quality_scores(docs, "doc_id", "text")
    assert scored.isStreaming
    res = streaming.run_to_memory(scored, mode="append")
    batch = text.quality_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    assert _rows(res) == _rows(batch)


def test_stream_ewma_late_batch_does_not_regress_eviction(spark, tmp_path):
    # a late-but-within-watermark batch must not pull a key's eviction
    # deadline below last-ever-event + horizon: deadlines arm from the
    # max event time carried in state, not this batch's max
    import datetime
    import glob
    import shutil

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def drop_file(i, rows):
        df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, str(indir / f"batch{i}.parquet"))

    def run():
        src = spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        ).parquet(str(indir))
        q = (
            streaming.ewma_stream(src)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
        return totals[-1] if totals else None

    h = datetime.timedelta(hours=1)
    # user 1's last event is t0+6h → deadline t0+8h (2h horizon)
    drop_file(0, [(1, t0, 1.0), (1, t0 + 6 * h, 2.0)])
    run()
    # late event at t0+5h (within watermark): must NOT pull the
    # deadline back to t0+7h
    drop_file(1, [(1, t0 + 5 * h, 3.0)])
    run()
    # watermark advances to t0+7.5h — past the REGRESSED deadline but
    # before the correct one: user 1's state must survive
    drop_file(2, [(2, t0 + datetime.timedelta(hours=9, minutes=30), 4.0)])
    assert run() == 2


def test_dim_enrich_same_key_name_keeps_stream_key(spark, sf_dir):
    # stream_key and dim_key sharing a name (the common lookup shape)
    # must not drop the stream's own key: drop-by-name would remove
    # both 'user_id' columns
    ev = streaming.read_table_stream(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    res = streaming.run_to_memory(
        streaming.dim_enrich_stream(ev, dim, "user_id", "user_id"), mode="append"
    )
    assert res.columns.count("user_id") == 1
    n = load_table(spark, sf_dir, "events").count()
    assert res.count() == n
    assert res.filter(F.col("user_id").isNull()).count() == 0


def test_stream_sessionize_state_bounded_after_watermark(spark, tmp_path):
    # session_window state must plateau/shrink once sessions quiesce
    # past the watermark (ADVICE r2 item 7): a closed session's state
    # row is evicted when the watermark passes its end. Verified from
    # the progress metrics (numRowsTotal) on the RocksDB provider the
    # session factory now configures by default.
    import datetime
    import glob
    import shutil

    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def drop_file(i, rows):
        df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, str(indir / f"batch{i}.parquet"))

    def run():
        src = spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        ).parquet(str(indir))
        q = (
            streaming.sessionize_stream(src)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
        return totals[-1] if totals else None

    h = datetime.timedelta(hours=1)
    # two users open one session each → state holds 2 session rows
    drop_file(0, [(1, t0, 1.0), (2, t0, 2.0)])
    assert run() == 2
    # user 2 keeps going 10h later; the advanced watermark (t0+8h) is
    # past both t0 sessions' ends (t0+30min) → they are emitted and
    # evicted; only user 2's new session may remain. availableNow may
    # or may not run the trailing eviction batch, hence the range.
    drop_file(1, [(2, t0 + 10 * h, 3.0)])
    assert run() in (1, 2, 3)
    # one more step firmly past every old session: exactly one live
    # session row (user 2's t0+10h session) — state plateaued, not
    # accumulated across 10h of quiesced keys
    drop_file(2, [(2, t0 + datetime.timedelta(hours=10, minutes=1), 4.0)])
    assert run() == 1
