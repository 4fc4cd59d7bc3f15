"""Streaming surface: the batch plan and the readStream plan must agree.

Drives ``stream_events`` (readStream → watermark → windowed agg) with
``trigger(availableNow=True)`` against a tmpdir parquet stream and asserts
exact parity with the batch ``windowed_agg`` over the same rows — Structured
Streaming's core contract (one logical plan, two execution modes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.catalog.common import T
from calp_cva_tracking_pipeline_spark.streaming.events import (
    dedup_stream,
    sessionize,
    stream_events,
    windowed_agg,
)


def _events_subset(spark, sf_dir, n=2000):
    # materialize a micro-us timestamp copy (the raw table is TIMESTAMP(NANOS))
    return T(spark, sf_dir, "events").orderBy("event_id").limit(n)


def test_stream_windowed_agg_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    events = _events_subset(spark, sf_dir)
    events.write.parquet(src)
    static = spark.read.parquet(src)

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_agg(static).collect()
    }

    streamed = stream_events(spark, src, static.schema)
    q = (
        streamed.writeStream.format("memory")
        .queryName("windowed_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM windowed_stream").collect()
    }
    assert got == batch and len(got) > 0


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    src = str(tmp_path / "dup_src")
    events = _events_subset(spark, sf_dir, n=500)
    # duplicate every event (a second copy of the same file contents)
    events.unionByName(events).write.parquet(src)
    static = spark.read.parquet(src)

    stream = (
        spark.readStream.schema(static.schema).parquet(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d"
        " FROM dedup_stream_sink"
    ).collect()[0]
    assert got["n"] == got["d"] == 500  # one survivor per event_id
    # batch path: plain dropDuplicates parity
    assert dedup_stream(static).count() == 500


def test_sessionize_batch_properties(spark, sf_dir):
    events = _events_subset(spark, sf_dir)
    sessions = sessionize(events, "30 minutes")
    rows = sessions.collect()
    assert len(rows) > 0
    # every event lands in exactly one session
    assert sum(r["n_events"] for r in rows) == events.count()
    # sessions per user are disjoint and ordered
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2  # gap-separated


def test_stateful_anomaly_stream_matches_batch(spark, sf_dir, tmp_path):
    from calp_cva_tracking_pipeline_spark.streaming.anomaly import (
        flag_anomalies_batch,
        flag_anomalies_stream,
    )

    src = str(tmp_path / "anom_src")
    events = _events_subset(spark, sf_dir, n=1000)
    events.write.parquet(src)
    static = spark.read.parquet(src)

    batch = {
        r["event_id"]: (r["zscore"], r["is_anomaly"])
        for r in flag_anomalies_batch(static, threshold=2.5).collect()
    }

    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        flag_anomalies_stream(stream, threshold=2.5)
        .writeStream.format("memory")
        .queryName("anomaly_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        r["event_id"]: (r["zscore"], r["is_anomaly"])
        for r in spark.sql("SELECT * FROM anomaly_sink").collect()
    }
    # one verdict per event, identical running-stat scores either mode
    assert len(got) == 1000
    assert got == batch
    # warm-up events carry no score; enough history must exist somewhere
    assert any(z is not None for z, _ in got.values())


def test_stateful_anomaly_flags_outliers(spark):
    import datetime

    from calp_cva_tracking_pipeline_spark.streaming.anomaly import (
        flag_anomalies_batch,
    )

    base = datetime.datetime(2025, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, 100.0 + (i % 3), "x", "p")
        for i in range(20)
    ]
    rows.append((99, base + datetime.timedelta(hours=1), 1, 5000.0, "x", "p"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, value double,"
        " event_type string, props string",
    )
    out = {r["event_id"]: r for r in flag_anomalies_batch(df).collect()}
    assert out[99]["is_anomaly"] is True
    assert not any(
        r["is_anomaly"] for eid, r in out.items() if eid != 99
    )


def test_anomaly_ts_ties_break_by_event_id(spark):
    """Events that share a ts score in event_id order, NULL ts last — the
    order a pure-Python Welford replays here."""
    import datetime
    import math
    import random

    from calp_cva_tracking_pipeline_spark.streaming.anomaly import (
        MIN_HISTORY,
        flag_anomalies_batch,
    )

    rng = random.Random(11)
    base = datetime.datetime(2025, 1, 1)
    rows = []
    for eid in rng.sample(range(1000), 40):
        ts = None if eid % 9 == 0 else base + datetime.timedelta(
            minutes=rng.randint(0, 4)
        )
        v = None if eid % 13 == 0 else rng.choice([1.0, 5.0, 50.0, 9.5])
        rows.append((eid, ts, 1, v, "x", "p"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, value double,"
        " event_type string, props string",
    )
    got = {
        r["event_id"]: r["zscore"]
        for r in flag_anomalies_batch(df, threshold=1.0).collect()
    }

    exp, n, mean, m2 = {}, 0, 0.0, 0.0
    for eid, ts, _, v, _, _ in sorted(
        rows, key=lambda r: (r[1] is None, r[1] or base, r[0])
    ):
        z = None
        if v is not None:
            if n >= MIN_HISTORY and m2 > 0:
                z = round((v - mean) / math.sqrt(m2 / (n - 1)), 6)
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
        exp[eid] = z
    assert len({r[1] for r in rows}) < len(rows)  # ts ties exist
    assert got == exp


def test_ep2_classification_runs_on_a_stream(spark, tmp_path):
    """The EP2 classification chain (J7 join → C1/CC1 → M1 pandas_udf →
    CC2 → CC3) is ONE lazy DAG, so it must run unchanged as a Structured
    Streaming job: stream-static broadcast joins + in-DAG Arrow inference,
    append mode, exact parity with the batch run over the same rows."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.relational import (
        EP2_CASH_CLUSTERS,
        EP2_COMMON_WORDS,
        EP2_KEYWORDS,
    )
    from calp_cva_tracking_pipeline_spark.plans.pipelines import classify_cva

    flows = spark.range(200).select(
        F.col("id"),
        (F.col("id") * 37.5 + 100).alias("amountUSD"),
        F.when(F.col("id") % 4 == 0, F.lit("Cash transfer programming (CTP)"))
        .otherwise(F.lit("Traditional aid"))
        .alias("method"),
        F.concat(
            F.lit("flow desc "),
            F.when(F.col("id") % 7 == 0, F.lit("cash programme"))
            .otherwise(F.lit("supplies")),
        ).alias("description"),
        F.when(F.col("id") % 3 > 0, F.col("id").cast("string")).alias(
            "destinationObjects_Project.id"
        ),
        F.when(F.col("id") % 5 == 0, F.lit("Cash Cluster A; Health"))
        .otherwise(F.lit("Health"))
        .alias("destinationObjects_Cluster.name"),
    )
    projects = spark.range(0, 200, 2).select(
        F.col("id").alias("project_id"),
        F.concat(
            F.lit("project "),
            F.when(F.col("id") % 6 == 0, F.lit("voucher scheme"))
            .otherwise(F.lit("general")),
        ).alias("project_text"),
        F.when(F.col("id") % 10 < 8, (F.col("id") % 100) / 100.0).alias(
            "cva_percentage"
        ),
        (F.col("id") % 4 == 0).alias("cva"),
    )
    decisions = spark.range(0, 200, 9).select(
        "id", F.lit(True).alias("accepted")
    )

    def run(fl):
        return classify_cva(
            fl,
            projects,
            decisions,
            cash_clusters=EP2_CASH_CLUSTERS,
            keywords=EP2_KEYWORDS,
            common_words=EP2_COMMON_WORDS,
        ).select(
            "id", "relevance", "relevance_method", "predicted_class",
            F.round("CVAamount", 6).alias("CVAamount"), "CVAamount_type",
        )

    src = str(tmp_path / "flows_src")
    flows.write.parquet(src)
    static = spark.read.parquet(src)
    batch = {r["id"]: tuple(r)[1:] for r in run(static).collect()}

    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        run(stream)
        .writeStream.format("memory")
        .queryName("ep2_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        r["id"]: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM ep2_stream_sink").collect()
    }
    assert got == batch
    assert len(got) == 200


def test_stream_parquet_sink_checkpoint_resume(spark, sf_dir, tmp_path):
    """Durable-sink exactly-once: writeStream to parquet with a checkpoint,
    stop, land MORE source files, restart with the SAME checkpoint — the
    second run must process only the new files (no re-emission of batch-0
    rows, no gaps). This is the production deployment shape; the memory-
    sink tests above cover semantics, this covers recovery."""
    src = str(tmp_path / "resume_src")
    sink = str(tmp_path / "resume_sink")
    ckpt = str(tmp_path / "resume_ckpt")

    events = _events_subset(spark, sf_dir, n=1000).cache()
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == first.count()

    second.write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == events.count()  # no duplicates, no gaps
    assert out.select("event_id").distinct().count() == events.count()
    events.unpersist()


def test_rollup_finest_grain_streams_then_batch_reaggregates(
    spark, sf_dir, tmp_path
):
    """The continuous-aggregate split the rollup docstring claims: the
    FINEST grain runs as a watermarked streaming aggregation; coarser
    grains batch-re-aggregate its sink and must equal the all-batch
    cascade over the same rows."""
    from calp_cva_tracking_pipeline_spark.operators.rollup import (
        rollup_time_hierarchy,
    )

    src = str(tmp_path / "rollup_src")
    events = _events_subset(spark, sf_dir)
    events.write.parquet(src)
    static = spark.read.parquet(src)

    stream = (
        spark.readStream.schema(static.schema)
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    finest_stream = rollup_time_hierarchy(
        stream, grains=("1 minute",)
    )["1 minute"]
    sink = str(tmp_path / "rollup_1m")
    q = (
        finest_stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # Append mode emits a window only once it is FINALIZED (older than
    # the watermark), so the sink holds complete minute windows and the
    # stream's tail windows are absent — restrict the batch side to the
    # same closed-window set before rolling both up to daily.
    def to_daily(minute_df):
        return (
            minute_df.groupBy(
                F.window("window_start", "1 day").alias("w"),
                "event_type",
            )
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum(F.col("total_value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    streamed_1m = spark.read.parquet(sink)
    closed = streamed_1m.select("window_start").distinct()
    batch_1m = rollup_time_hierarchy(static, grains=("1 minute",))[
        "1 minute"
    ].join(closed, ["window_start"], "left_semi")
    got = sorted(tuple(r) for r in to_daily(streamed_1m).collect())
    want = sorted(tuple(r) for r in to_daily(batch_1m).collect())
    assert got == want and len(got) > 0
    # every emitted minute window carries its COMPLETE batch counts
    emitted = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in streamed_1m.collect()
    }
    full = {
        (r["window_start"], r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in batch_1m.collect()
    }
    assert emitted == full


def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: an unbounded event stream enriched by a small
    static dimension must plan the dimension as a broadcast (stateless —
    no stream-stream join state) and match the batch equivalent."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "enrich_src")
    events = _events_subset(spark, sf_dir)
    events.write.parquet(src)
    static = spark.read.parquet(src)
    dim = spark.createDataFrame(
        [(t, f"group_{i % 2}") for i, t in enumerate(
            sorted(r.event_type for r in
                   static.select("event_type").distinct().collect())
        )],
        "event_type string, type_group string",
    )

    def enrich(df):
        return (
            df.join(F.broadcast(dim), "event_type")
            .groupBy("type_group")
            .agg(F.count("*").alias("n"))
        )

    batch = {r.type_group: r.n for r in enrich(static).collect()}

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(src)
    )
    out = enrich(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        r.type_group: r.n
        for r in spark.sql("SELECT * FROM enriched_stream").collect()
    }
    assert got == batch and len(got) > 0


def test_foreachbatch_incremental_dedup_loop(spark, tmp_path):
    """The continuous-ingest loop, end-to-end on a real stream:
    foreachBatch runs dedup_incremental against the evolving digest
    store, appends survivors, and unions the survivors' digests into the
    store — across micro-batches, every distinct text survives exactly
    once regardless of how many batches repeat it."""
    import os

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        content_digest_store,
        dedup_incremental,
    )

    src = str(tmp_path / "ingest_src")
    store_path = str(tmp_path / "digest_store")
    out_path = str(tmp_path / "survivors")
    texts = [f"document body number {i % 7}" for i in range(30)]  # 7 distinct
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    # several source files so availableNow slices multiple micro-batches
    df.repartition(5).write.parquet(src)

    def process(batch_df, batch_id):
        s = batch_df.sparkSession
        if os.path.exists(store_path):
            store = s.read.parquet(store_path)
        else:
            store = s.createDataFrame([], "digest string")
        survivors = dedup_incremental(
            batch_df, store, "text", "doc_id"
        ).cache()
        survivors.write.mode("append").parquet(out_path)
        content_digest_store(survivors, "text").write.mode("append").parquet(
            store_path
        )
        survivors.unpersist()

    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    out = spark.read.parquet(out_path)
    got = [r.text for r in out.collect()]
    assert sorted(set(got)) == sorted(set(texts))  # every text survives
    assert len(got) == len(set(got))  # ...exactly once, across batches
    store = spark.read.parquet(store_path)
    assert store.distinct().count() == 7  # store = distinct corpus digests


def test_stream_stream_time_bounded_join(spark, sf_dir, tmp_path):
    """Stream-stream inner join with a time-range condition and
    watermarks on both sides — state is bounded by the range + watermark
    (Spark evicts rows older than the join horizon). Results must match
    the identical batch join."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ss_src")
    events = _events_subset(spark, sf_dir).limit(2000)
    events.write.parquet(src)
    static = spark.read.parquet(src)

    def pair(left, right):
        l = left.select(
            F.col("user_id").alias("uid"),
            F.col("ts").alias("l_ts"),
            F.col("event_type").alias("l_type"),
        )
        r = right.select(
            F.col("user_id").alias("uid"),
            F.col("ts").alias("r_ts"),
            F.col("event_type").alias("r_type"),
        )
        return l.join(
            r,
            (l.uid == r.uid)
            & (r.r_ts > l.l_ts)
            & (r.r_ts <= l.l_ts + F.expr("INTERVAL 10 MINUTES")),
        ).select("l_ts", "r_ts", "l_type", "r_type", l.uid.alias("uid"))

    batch = sorted(tuple(r) for r in pair(static, static).collect())

    def stream():
        return (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(src)
            .withWatermark("ts", "30 minutes")
        )

    out = pair(stream(), stream())
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM ss_join").collect()
    )
    assert got == batch and len(got) > 0


def test_foreachbatch_streaming_heavy_hitters_store(spark, tmp_path):
    """Streaming heavy hitters: foreachBatch folds each micro-batch into
    a persisted Misra-Gries count store (operators.sketch.mg_merge). The
    store stays <= k rows across the whole run, and its final key set is
    a superset of every key whose TOTAL stream frequency exceeds
    N/(k+1) — the mergeable-summaries guarantee surviving parquet
    roundtrips and micro-batch slicing."""
    import os

    from calp_cva_tracking_pipeline_spark.operators.sketch import mg_merge

    k = 8
    src = str(tmp_path / "hh_src")
    store_path = str(tmp_path / "hh_store")
    # 2 heavy tokens (~30% each), 200 tail singletons
    rows = [(i, "heavy_a" if i % 10 < 3 else
             ("heavy_b" if i % 10 < 6 else f"tail{i}"))
            for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, token string")
    df.repartition(5).write.parquet(src)

    def process(batch_df, batch_id):
        s = batch_df.sparkSession
        if os.path.exists(store_path):
            store = s.read.parquet(store_path)
        else:
            store = s.createDataFrame([], "token string, cnt long")
        nxt = mg_merge(store, batch_df, "token", k).cache()
        assert nxt.count() <= k
        nxt.write.mode("overwrite").parquet(store_path + "_tmp")
        s.read.parquet(store_path + "_tmp").write.mode(
            "overwrite"
        ).parquet(store_path)
        nxt.unpersist()

    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    final = {
        r["token"]: r["cnt"]
        for r in spark.read.parquet(store_path).collect()
    }
    assert len(final) <= k
    n = len(rows)
    true_counts = {}
    for _, t in rows:
        true_counts[t] = true_counts.get(t, 0) + 1
    for tok, c in true_counts.items():
        if c > n / (k + 1):
            assert tok in final, f"missing heavy hitter {tok}"
            assert final[tok] >= c - n / (k + 1)
    assert "heavy_a" in final and "heavy_b" in final


def test_foreachbatch_cusum_fold_matches_batch(spark, sf_dir, tmp_path):
    """Streaming CUSUM drift alarms: foreachBatch folds each time-slice
    through cusum_fold with the key-sized carried state; across
    micro-batches the emitted statistics must be BIT-IDENTICAL to the
    one-shot cusum_detect window on the full history (the closed form
    composes across slices — VERDICT r8 ask #7)."""
    import os
    import time

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        CUSUM_H,
        CUSUM_SLACK,
        CUSUM_TARGET,
    )
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        cusum_detect,
        cusum_fold,
    )

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_id", "ts", "value")
    )
    params = dict(
        keys=["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        target=CUSUM_TARGET,
        slack=CUSUM_SLACK,
        threshold=CUSUM_H,
    )
    expected = cusum_detect(e, **params).toPandas()

    # three time-slices written as separate files with ascending mtimes
    # so the file source delivers them in history order
    bounds = [r[0] for r in e.selectExpr(
        "percentile_approx(ts, array(0.33, 0.66), 10000)"
    ).collect()][0]
    src = tmp_path / "cusum_src"
    src.mkdir()
    slices = [
        e.filter(F.col("ts") <= bounds[0]),
        e.filter((F.col("ts") > bounds[0]) & (F.col("ts") <= bounds[1])),
        e.filter(F.col("ts") > bounds[1]),
    ]
    import glob
    import shutil

    for i, sl in enumerate(slices):
        tmp_dir = str(tmp_path / f"cusum_tmp_{i}")
        sl.coalesce(1).write.parquet(tmp_dir)
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"slice_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))

    state_path = str(tmp_path / "cusum_state")
    out_path = str(tmp_path / "cusum_out")

    def process(batch_df, batch_id):
        s = batch_df.sparkSession
        state = (
            s.read.parquet(state_path)
            if os.path.exists(state_path)
            else None
        )
        out, new_state = cusum_fold(batch_df, state, **params)
        out.write.mode("append").parquet(out_path)
        # materialize before overwriting the path the plan read from
        rows = new_state.collect()
        s.createDataFrame(rows, new_state.schema).write.mode(
            "overwrite"
        ).parquet(state_path)

    q = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "cusum_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got = spark.read.parquet(out_path).toPandas()
    key = ["user_id", "event_id"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = expected.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp)
    for col in ("cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg"):
        assert list(got[col]) == list(exp[col]), col


def test_foreachbatch_dq_ledger_folds_to_batch_counts(spark, sf_dir, tmp_path):
    """Streaming DQ publish gate: dq_checks runs per micro-batch and the
    per-rule ledgers fold additively — summed n_rows/n_violations across
    batches equal the one-shot ledger on the full table for every
    predicate rule, and the uniqueness rule folds through a seen-keys
    store (total rows − store size = one-shot surplus)."""
    import os
    import time

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        DQ_DOMAIN,
        DQ_PRICE_CAP,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import dq_checks

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"
    )
    rules = [
        ("totalprice_positive", F.col("o_totalprice") <= 0),
        ("totalprice_under_cap", F.col("o_totalprice") >= DQ_PRICE_CAP),
        ("status_in_domain", ~F.col("o_orderstatus").isin(*DQ_DOMAIN)),
    ]
    one_shot = dq_checks(o, rules=rules, unique_cols=["o_orderkey"]).toPandas()

    import glob
    import shutil

    src = tmp_path / "dq_src"
    src.mkdir()
    for i in range(3):
        tmp_dir = str(tmp_path / f"dq_tmp_{i}")
        o.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
            tmp_dir
        )
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"part_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))

    ledger_path = str(tmp_path / "dq_ledger")
    keys_path = str(tmp_path / "dq_keys")

    def process(batch_df, batch_id):
        s = batch_df.sparkSession
        dq_checks(batch_df, rules=rules).write.mode("append").parquet(
            ledger_path
        )
        batch_df.select(
            F.col("o_orderkey").alias("k")
        ).filter(F.col("k").isNotNull()).write.mode("append").parquet(
            keys_path
        )

    q = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "dq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = (
        spark.read.parquet(ledger_path)
        .groupBy("rule")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
        .toPandas()
        .set_index("rule")
    )
    exp = one_shot.set_index("rule")
    for rule, _ in rules:
        assert folded.loc[rule, "n_rows"] == exp.loc[rule, "n_rows"]
        assert (
            folded.loc[rule, "n_violations"]
            == exp.loc[rule, "n_violations"]
        ), rule
    # uniqueness folds through the seen-keys store
    keys = spark.read.parquet(keys_path)
    surplus = keys.count() - keys.distinct().count()
    assert surplus == exp.loc["o_orderkey_unique", "n_violations"]


def test_foreachbatch_kappa_contingency_folds_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming label-QA: per micro-batch the (group × gold × pred)
    contingency cells append to a ledger; kappa_from_contingency over
    the folded ledger equals the one-shot annotator_agreement on the
    full table — cells fold additively, the kernel is batch-identical."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        annotator_agreement,
        kappa_from_contingency,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        lang_id_heuristic,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("gold"),
        lang_id_heuristic(F.col("text")).alias("pred"),
    )
    one_shot = (
        annotator_agreement(d, "gold", "pred", ["source"])
        .toPandas()
        .set_index("source")
    )

    src = tmp_path / "kp_src"
    src.mkdir()
    for i in range(3):
        tmp_dir = str(tmp_path / f"kp_tmp_{i}")
        d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            tmp_dir
        )
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"part_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))

    ledger_path = str(tmp_path / "kp_ledger")

    def process(batch_df, batch_id):
        batch_df.filter(
            F.col("gold").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("source").isNotNull()
        ).groupBy("source", "gold", "pred").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        ).write.mode("append").parquet(ledger_path)

    q = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "kp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = (
        kappa_from_contingency(
            spark.read.parquet(ledger_path),
            group_cols=["source"],
            label_a_col="gold",
            label_b_col="pred",
            count_col="c",
        )
        .toPandas()
        .set_index("source")
    )
    assert sorted(folded.index) == sorted(one_shot.index)
    for g in one_shot.index:
        for col in ("n", "po", "pe", "kappa"):
            assert folded.loc[g, col] == one_shot.loc[g, col], (g, col)


def test_foreachbatch_holt_fold_matches_batch(spark, sf_dir, tmp_path):
    """Streaming Holt smoothing: time-slices fold through holt_fold with
    the two-integer carried state; concatenated slice outputs are
    BIT-IDENTICAL to the one-shot smoother on the full table."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        holt_fold,
        holt_smooth,
    )

    e = T(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    one_shot = (
        holt_smooth(e, ["user_id"], "ts", "value", "event_id")
        .orderBy("user_id", "event_id")
        .collect()
    )

    # three contiguous time slices (the append-stream contract)
    cuts = e.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.33)").alias("c1"),
        F.expr("percentile_approx(unix_micros(ts), 0.66)").alias("c2"),
    ).first()
    slices = [
        e.filter(F.unix_micros("ts") <= cuts.c1),
        e.filter(
            (F.unix_micros("ts") > cuts.c1)
            & (F.unix_micros("ts") <= cuts.c2)
        ),
        e.filter(F.unix_micros("ts") > cuts.c2),
    ]
    state = None
    outs = []
    for sl in slices:
        out, state = holt_fold(
            sl, state, ["user_id"], "ts", "value", "event_id"
        )
        outs.append(out)
        state = spark.createDataFrame(
            state.collect(), state.schema
        )  # materialize like a checkpoint store would
    folded = outs[0]
    for o in outs[1:]:
        folded = folded.unionByName(o)
    folded_rows = folded.orderBy("user_id", "event_id").collect()
    assert len(folded_rows) == len(one_shot)
    for a, b in zip(folded_rows, one_shot):
        assert tuple(a) == tuple(b)


def test_foreachbatch_transition_fold_matches_batch(spark, sf_dir, tmp_path):
    """Streaming transition matrix: contiguous time-slices fold through
    transition_fold with the per-user last-event state; summed slice
    ledgers equal the one-shot (from, to) counts — including the
    boundary transitions a naive per-batch lag would drop."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        transition_fold,
    )

    e = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    one_shot = {
        (r.from_type, r.to_type): r.n
        for r in (
            e.filter(F.col("ts").isNotNull())
            .withColumn("__prev", F.lag("event_type").over(w))
            .filter(F.col("__prev").isNotNull())
            .groupBy(
                F.col("__prev").alias("from_type"),
                F.col("event_type").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        )
    }

    cuts = e.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.33)").alias("c1"),
        F.expr("percentile_approx(unix_micros(ts), 0.66)").alias("c2"),
    ).first()
    slices = [
        e.filter(F.unix_micros("ts") <= cuts.c1),
        e.filter(
            (F.unix_micros("ts") > cuts.c1)
            & (F.unix_micros("ts") <= cuts.c2)
        ),
        e.filter(F.unix_micros("ts") > cuts.c2),
    ]
    state = None
    folded: dict = {}
    for sl in slices:
        out, state = transition_fold(
            sl, state, "user_id", "ts", "event_type", "event_id"
        )
        for r in out.collect():
            k = (r.from_type, r.to_type)
            folded[k] = folded.get(k, 0) + r.n
        state = spark.createDataFrame(state.collect(), state.schema)
    assert folded == one_shot


def _file_stream_batches(spark, tmp_path, df, key_mod_col, n_batches, tag):
    """Write df as n_batches single-file parquet slices (by key % n) and
    return a maxFilesPerTrigger=1 streaming reader over them."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    src = tmp_path / f"{tag}_src"
    src.mkdir()
    for i in range(n_batches):
        tmp_dir = str(tmp_path / f"{tag}_tmp_{i}")
        df.filter(F.col(key_mod_col) % n_batches == i).coalesce(
            1
        ).write.parquet(tmp_dir)
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"part_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_foreachbatch_psi_cells_fold_to_batch(spark, sf_dir, tmp_path):
    """Streaming drift monitor, PSI half: per micro-batch the
    (col, bucket, slice) cells append to a ledger under FIXED reference
    bucket edges; psi_from_bucket_counts over the folded ledger equals
    the one-shot population_stability on the full table — cells fold
    additively, the readout kernel is shared code (VERDICT r9 ask #6)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        population_stability,
        psi_bucket_cells,
        psi_from_bucket_counts,
    )

    cols = ["l_extendedprice", "l_discount", "l_quantity"]
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", *cols)
    slice_col = (F.col("l_orderkey") % 2 == 1).cast("int")
    one_shot = {
        r.col_name: r.asDict()
        for r in population_stability(li, cols, slice_col).collect()
    }

    # fixed reference edges = the same global min/max the batch op derives
    ranges = {
        c: (row["lo"], row["hi"])
        for c in cols
        for row in [
            li.agg(
                F.min(F.col(c).cast("double")).alias("lo"),
                F.max(F.col(c).cast("double")).alias("hi"),
            ).collect()[0]
        ]
    }

    ledger_path = str(tmp_path / "psi_ledger")

    def process(batch_df, batch_id):
        psi_bucket_cells(
            batch_df,
            cols,
            (F.col("l_orderkey") % 2 == 1).cast("int"),
            ranges,
        ).write.mode("append").parquet(ledger_path)

    reader = _file_stream_batches(
        spark, tmp_path, li, "l_orderkey", 3, "psi"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "psi_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = {
        r.col_name: r.asDict()
        for r in psi_from_bucket_counts(
            spark.read.parquet(ledger_path)
        ).collect()
    }
    assert sorted(folded) == sorted(one_shot)
    for c in one_shot:
        for k in ("psi", "n_base", "n_cur"):
            assert folded[c][k] == one_shot[c][k], (c, k)


def test_foreachbatch_ks_value_ledger_folds_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming drift monitor, KS half: per micro-batch the
    (col, val, slice) counts append to a ledger; ks_from_value_counts
    over the folded ledger equals the one-shot ks_drift on the full
    table — per-value cells fold additively and the sup-gap integer
    math is identical (VERDICT r9 ask #6)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        ks_drift,
        ks_from_value_counts,
    )

    cols = ["l_discount", "l_tax"]
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", *cols)
    slice_col = (F.col("l_orderkey") % 2 == 1).cast("int")
    one_shot = {
        r.col_name: r.asDict()
        for r in ks_drift(li, cols, slice_col).collect()
    }

    ledger_path = str(tmp_path / "ks_ledger")
    stack_args = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)

    def process(batch_df, batch_id):
        (
            batch_df.select(
                F.expr(
                    f"stack({len(cols)}, {stack_args}) AS (col_name, val)"
                ),
                (F.col("l_orderkey") % 2 == 1).cast("int").alias("slice"),
            )
            .filter(F.col("val").isNotNull())
            .groupBy("col_name", "val", "slice")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("append")
            .parquet(ledger_path)
        )

    reader = _file_stream_batches(
        spark, tmp_path, li, "l_orderkey", 3, "ks"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ks_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = {
        r.col_name: r.asDict()
        for r in ks_from_value_counts(
            spark.read.parquet(ledger_path)
        ).collect()
    }
    assert sorted(folded) == sorted(one_shot)
    for c in one_shot:
        for k in ("ks", "n_base", "n_cur"):
            assert folded[c][k] == one_shot[c][k], (c, k)


def test_foreachbatch_jsd_token_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming composition-drift monitor, JSD half: per micro-batch
    the (group, token, cnt) unigram cells append to a ledger;
    jsd_from_token_counts over the folded ledger equals the one-shot
    corpus_js_divergence on the full corpus — token counts fold
    additively and the nano-pinned per-token math is shared code
    (VERDICT r10 ask #3)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        corpus_js_divergence,
        jsd_from_token_counts,
        jsd_token_cells,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    one_shot = {
        r.source: r.asDict()
        for r in corpus_js_divergence(docs, "source").collect()
    }

    ledger_path = str(tmp_path / "jsd_ledger")

    def process(batch_df, batch_id):
        jsd_token_cells(batch_df, "source").write.mode("append").parquet(
            ledger_path
        )

    reader = _file_stream_batches(spark, tmp_path, docs, "doc_id", 3, "jsd")
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "jsd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = {
        r.source: r.asDict()
        for r in jsd_from_token_counts(
            spark.read.parquet(ledger_path), "source"
        )
        .orderBy("source")
        .collect()
    }
    assert sorted(folded) == sorted(one_shot)
    for g in one_shot:
        for k in ("n_tokens", "n_rest_tokens", "jsd"):
            assert folded[g][k] == one_shot[g][k], (g, k)


def test_foreachbatch_chi2_cells_fold_to_batch(spark, sf_dir, tmp_path):
    """Streaming categorical-drift monitor, chi-square half: per
    micro-batch the (a, b, obs) contingency cells append to a ledger;
    chi2_from_cells over the folded ledger equals the one-shot
    chi2_independence on the full table — contingency cells fold
    additively, the kappa-ledger shape (VERDICT r10 ask #3)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        chi2_cells,
        chi2_from_cells,
        chi2_independence,
    )

    e = T(spark, sf_dir, "events").select(
        "event_id", "event_type", (F.dayofweek("ts") - 1).alias("dow")
    )
    one_shot = chi2_independence(e, "event_type", "dow").collect()[0]

    ledger_path = str(tmp_path / "chi2_ledger")

    def process(batch_df, batch_id):
        chi2_cells(batch_df, "event_type", "dow").write.mode(
            "append"
        ).parquet(ledger_path)

    reader = _file_stream_batches(
        spark, tmp_path, e, "event_id", 3, "chi2"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "chi2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = chi2_from_cells(spark.read.parquet(ledger_path)).collect()[0]
    for k in ("n", "dof", "chi2"):
        assert folded[k] == one_shot[k], k


def test_stream_stream_attribution_join_matches_batch(
    spark, sf_dir, tmp_path
):
    """Genuine STREAM-STREAM inner join: same-user impression→conversion
    attribution within a horizon, both sides unbounded file streams with
    watermarks. The identical plan on batch frames is the oracle —
    stream results (availableNow, parquet sink) must match the batch
    interval join row-for-row."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.streaming.events import (
        stream_attribution_join,
    )

    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    types = sorted(
        r.event_type
        for r in e.select("event_type").distinct().collect()
        if r.event_type is not None
    )
    t_imp, t_conv = types[0], types[-1]
    imp_b = e.filter(F.col("event_type") == t_imp)
    conv_b = e.filter(F.col("event_type") == t_conv)

    def key(r):
        return (r.user_id, r.imp_event_id, r.conv_event_id, r.lag_s)

    batch = sorted(
        map(key, stream_attribution_join(imp_b, conv_b).collect())
    )
    assert batch, "operating point must produce matches"

    # batches must arrive in TIME order: the id-mod splitter interleaves
    # event times across files, so later files carry rows older than the
    # already-advanced watermark and the join (correctly) drops them as
    # late — that tests the eviction contract, not parity. Tercile the
    # time axis instead (in-order arrival, the production shape).
    from pyspark.sql import Window

    def time_batches(df, tag):
        w = Window.orderBy("ts", "event_id")
        return _file_stream_batches(
            spark,
            tmp_path,
            df.withColumn(
                "__tb", (F.ntile(3).over(w) - 1).cast("long")
            ),
            "__tb",
            3,
            tag,
        )

    imp_s = time_batches(imp_b, "ai").drop("__tb")
    conv_s = time_batches(conv_b, "ac").drop("__tb")
    out_path = str(tmp_path / "attr_out")
    q = (
        stream_attribution_join(imp_s, conv_s)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = sorted(map(key, spark.read.parquet(out_path).collect()))
    assert got == batch


def test_foreachbatch_schema_key_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming schema monitor (VERDICT r11 ask #4): per micro-batch
    the JSON key-inventory cells (plus the per-slice row-total sentinel)
    append to a ledger; schema_drift_from_cells over the folded ledger
    equals the one-shot json_schema_drift on the same slices — key
    inventories fold additively, the psi/ks/kappa discipline."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.semistruct import (
        json_schema_drift,
        schema_drift_from_cells,
        schema_key_cells,
    )

    ev = T(spark, sf_dir, "events").select("event_id", "props")
    slice_expr = (F.col("event_id") % 2 == 1).cast("int")
    one_shot = [
        tuple(r)
        for r in json_schema_drift(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
            "props",
        ).collect()
    ]

    ledger_path = str(tmp_path / "schema_ledger")

    def process(batch_df, batch_id):
        schema_key_cells(
            batch_df, "props", (F.col("event_id") % 2 == 1).cast("int")
        ).write.mode("append").parquet(ledger_path)

    reader = _file_stream_batches(spark, tmp_path, ev, "event_id", 3, "sk")
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "sk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in schema_drift_from_cells(
            spark.read.parquet(ledger_path)
        ).collect()
    ]
    assert folded == one_shot and len(one_shot) > 0


def test_foreachbatch_frequency_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming top-movers monitor (VERDICT r11 ask #4): per
    micro-batch the (key, slice) cells append to a ledger;
    frequency_movers_from_cells over the folded ledger equals the
    one-shot frequency_movers on the full table — cell counts fold
    additively, broadcast totals derive from the folded cells."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        frequency_cells,
        frequency_movers,
        frequency_movers_from_cells,
    )

    ev = T(spark, sf_dir, "events").select("event_id", "event_type")
    slice_def = lambda: (F.col("event_id") % 2 == 1).cast("int")  # noqa: E731
    one_shot = [
        tuple(r)
        for r in frequency_movers(
            ev, "event_type", slice_def(), top_k=10
        ).collect()
    ]

    ledger_path = str(tmp_path / "freq_ledger")

    def process(batch_df, batch_id):
        frequency_cells(batch_df, "event_type", slice_def()).write.mode(
            "append"
        ).parquet(ledger_path)

    reader = _file_stream_batches(spark, tmp_path, ev, "event_id", 3, "fq")
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "fq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in frequency_movers_from_cells(
            spark.read.parquet(ledger_path), "event_type", top_k=10
        ).collect()
    ]
    assert folded == one_shot and len(one_shot) > 0


def test_foreachbatch_activity_ledger_folds_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming activity heatmap: the (dow, hour, user) ledger from
    time-sliced micro-batches folds by union + re-sum into exactly the
    one-shot activity_profile readout — batch ≡ stream."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        activity_from_user_cells,
        activity_profile,
        activity_user_cells,
    )

    e = T(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    one_shot = [
        tuple(r)
        for r in activity_profile(e).collect()
    ]

    src = tmp_path / "act_src"
    src.mkdir()
    # TIME-ordered slices (the stream_attribution lesson): split by day
    # bands so each file is a contiguous time slice
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 32)]):
        tmp_dir = str(tmp_path / f"act_tmp_{i}")
        e.filter(
            (F.dayofmonth("ts") > lo) & (F.dayofmonth("ts") <= hi)
            | (F.lit(i) == 2) & F.col("ts").isNull()
        ).coalesce(1).write.parquet(tmp_dir)
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"part_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))

    ledger_path = str(tmp_path / "act_ledger")

    def process(batch_df, batch_id):
        activity_user_cells(batch_df).write.mode("append").parquet(
            ledger_path
        )

    q = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "act_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    ledger = (
        spark.read.parquet(ledger_path)
        .groupBy("dow", "hour", "u")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"))
    )
    folded = [
        tuple(r) for r in activity_from_user_cells(ledger).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_null_week_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming null-drift resident (VERDICT r12 ask #2): per
    micro-batch the (week, col_name, n, n_null) cells append to a
    ledger; null_drift_from_cells over the folded ledger equals the
    one-shot null_rate_drift on the full table — counters fold
    additively, the ppm/delta readout is shared code."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        null_drift_from_cells,
        null_rate_drift,
        null_week_cells,
    )

    cols = ["user_id", "value", "props"]
    e = T(spark, sf_dir, "events").select("event_id", "ts", *cols)
    one_shot = [
        tuple(r) for r in null_rate_drift(e, "ts", cols).collect()
    ]

    ledger_path = str(tmp_path / "nulldrift_ledger")

    def process(batch_df, batch_id):
        null_week_cells(batch_df, "ts", cols).write.mode(
            "append"
        ).parquet(ledger_path)

    reader = _file_stream_batches(
        spark, tmp_path, e, "event_id", 3, "nulldrift"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "nulldrift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in null_drift_from_cells(
            spark.read.parquet(ledger_path)
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_conversion_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming conversion-CI resident (VERDICT r12 ask #2): daily
    (n_exposures, n_conversions) counters fold additively across
    micro-batches; the Wilson bounds recompute from the folded EXACT
    integers and match the one-shot conversion_rate_series
    bit-for-bit (bounds are nonlinear in k/n — the resident folds
    counters, never per-batch intervals)."""
    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        conversion_ci_from_cells,
        conversion_day_cells,
        conversion_rate_series,
    )

    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    one_shot = [
        tuple(r) for r in conversion_rate_series(e).collect()
    ]
    assert one_shot, "operating point degenerate: no funnel days"

    ledger_path = str(tmp_path / "convci_ledger")

    def process(batch_df, batch_id):
        conversion_day_cells(batch_df).write.mode("append").parquet(
            ledger_path
        )

    reader = _file_stream_batches(
        spark, tmp_path, e, "event_id", 3, "convci"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "convci_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in conversion_ci_from_cells(
            spark.read.parquet(ledger_path)
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_freshness_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming freshness resident (VERDICT r12 ask #2): per-segment
    (n_rows, last_ts) arrival cells fold by SUM/MAX across
    micro-batches; freshness_from_cells over the folded ledger equals
    the one-shot freshness_audit — a segment silent in later batches
    keeps its last arrival, which IS the staleness signal."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        freshness_audit,
        freshness_cells,
        freshness_from_cells,
    )

    as_of = "2024-03-01 00:00:00"
    max_lag = 86400 * 7
    e = T(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 10).alias("segment"), "ts"
    )
    one_shot = [
        tuple(r)
        for r in freshness_audit(
            e, ["segment"], "ts", as_of, max_lag
        ).collect()
    ]

    ledger_path = str(tmp_path / "fresh_ledger")

    def process(batch_df, batch_id):
        freshness_cells(batch_df, ["segment"], "ts").write.mode(
            "append"
        ).parquet(ledger_path)

    reader = _file_stream_batches(
        spark, tmp_path, e, "event_id", 3, "fresh"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "fresh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in freshness_from_cells(
            spark.read.parquet(ledger_path), ["segment"], as_of, max_lag
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_calibration_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming calibration resident: (bin, n, conf-sum, correct-count)
    cells fold additively under fixed bin edges; the ppm readout
    recomputes from the folded integers and matches the one-shot
    calibration_audit bit-for-bit."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.mlstub import (
        classify_flows,
    )
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        calibration_audit,
        calibration_cells,
        calibration_from_cells,
    )

    d = classify_flows(
        T(spark, sf_dir, "documents"), "text", stub="native"
    ).select(
        "doc_id",
        "predicted_confidence",
        (F.col("lang") == "en").alias("correct"),
    )
    one_shot = [
        tuple(r)
        for r in calibration_audit(
            d, "predicted_confidence", "correct"
        ).collect()
    ]

    ledger_path = str(tmp_path / "calib_ledger")

    def process(batch_df, batch_id):
        calibration_cells(
            batch_df, "predicted_confidence", "correct"
        ).write.mode("append").parquet(ledger_path)

    reader = _file_stream_batches(
        spark, tmp_path, d, "doc_id", 3, "calib"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "calib_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in calibration_from_cells(
            spark.read.parquet(ledger_path)
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_sprt_rides_the_conversion_fold(
    spark, sf_dir, tmp_path
):
    """The SPRT docstring's claim, proven: daily counters fold through
    the SAME conversion_day_cells ledger as the CI resident, and the
    cumulative Wald verdict recomputed from the folded integers equals
    the one-shot sprt_audit bit-for-bit."""
    import math

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        conversion_day_cells,
        sprt_audit,
    )

    p0, p1, alpha, beta = 0.45, 0.50, 0.05, 0.2
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    one_shot = [tuple(r) for r in sprt_audit(e, p0, p1).collect()]

    ledger_path = str(tmp_path / "sprt_ledger")

    def process(batch_df, batch_id):
        conversion_day_cells(batch_df).write.mode("append").parquet(
            ledger_path
        )

    reader = _file_stream_batches(
        spark, tmp_path, e, "event_id", 3, "sprt"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "sprt_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    # fold the ledger, then replay the readout in python from the
    # folded EXACT integers (the verdict recomputes, never folds)
    folded = {
        r.day: (r.n, r.k)
        for r in spark.read.parquet(ledger_path)
        .groupBy("day")
        .agg(
            F.sum("n_exposures").cast("bigint").alias("n"),
            F.sum("n_conversions").cast("bigint").alias("k"),
        )
        .collect()
    }
    w1 = round(1e9 * math.log(p1 / p0))
    w0 = round(1e9 * math.log((1 - p1) / (1 - p0)))
    up = round(1e9 * math.log((1 - beta) / alpha))
    lo = round(1e9 * math.log(beta / (1 - alpha)))
    cum, out, fh, fl = 0, [], None, None
    for d in sorted(folded):
        n, k = folded[d]
        llr = k * w1 + (n - k) * w0
        cum += llr
        if cum >= up and fh is None:
            fh = d
        if cum <= lo and fl is None:
            fl = d
        if fh is not None and (fl is None or fh <= fl):
            v = "accept_h1"
        elif fl is not None:
            v = "accept_h0"
        else:
            v = "continue"
        out.append((d, n, k, llr, cum, v))
    assert out == one_shot


def test_foreachbatch_release_audit_folds_to_one_shot(
    spark, sf_dir, tmp_path
):
    """Incremental T18 release audit (VERDICT r13 ask #7): ordered
    ingest batches run gates + incremental exact dedup (digest store) +
    incremental verified near-dup (band store + survivor texts), their
    (source, shard) counter cells append to a ledger, and the folded
    readout equals the one-shot corpus_release_report bit-for-bit —
    ids ascend across batches, so min-id survivorship is first-arrival
    and every greedy drop targets the newer side."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        CORPUS_DUP_OFFSET,
        CORPUS_JUNK_OFFSET,
    )
    from calp_cva_tracking_pipeline_spark.plans.corpus import (
        corpus_release_report,
        release_audit_cells,
        release_audit_from_cells,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    dups = d.filter(
        (F.col("doc_id") % 7 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + CORPUS_DUP_OFFSET).alias("doc_id"),
        "source",
        "text",
    )
    junk = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + CORPUS_JUNK_OFFSET).alias("doc_id"),
        "source",
        F.lit("x y").alias("text"),
    )
    aug = d.unionByName(dups).unionByName(junk)
    one_shot = [tuple(r) for r in corpus_release_report(aug).collect()]

    # ordered id-range batches (arrival order IS id order): originals,
    # then dup variants, then junk — the offsets guarantee the split
    bounds = [
        ("b0", F.col("doc_id") < CORPUS_DUP_OFFSET),
        (
            "b1",
            (F.col("doc_id") >= CORPUS_DUP_OFFSET)
            & (F.col("doc_id") < CORPUS_JUNK_OFFSET),
        ),
        ("b2", F.col("doc_id") >= CORPUS_JUNK_OFFSET),
    ]
    src = tmp_path / "ra_src"
    src.mkdir()
    for i, (_tag, cond) in enumerate(bounds):
        tmp_dir = str(tmp_path / f"ra_tmp_{i}")
        aug.filter(cond).coalesce(1).write.parquet(tmp_dir)
        part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
        p = str(src / f"part_{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (time.time() + i, time.time() + i))

    ledger = str(tmp_path / "ra_ledger")
    dig_p = str(tmp_path / "ra_digests")
    band_p = str(tmp_path / "ra_bands")
    surv_p = str(tmp_path / "ra_survivors")
    empty = aug.limit(0)
    from calp_cva_tracking_pipeline_spark.operators.dedup import (
        content_digest_store,
        lsh_band_store,
    )

    content_digest_store(empty, "text").write.parquet(dig_p)
    lsh_band_store(empty, "doc_id", "text").write.parquet(band_p)
    empty.select("doc_id", "text").write.parquet(surv_p)

    def process(batch_df, batch_id):
        cells, nd, nb, ns = release_audit_cells(
            batch_df,
            spark.read.parquet(dig_p),
            spark.read.parquet(band_p),
            spark.read.parquet(surv_p),
        )
        cells.write.mode("append").parquet(ledger)
        nd.write.mode("append").parquet(dig_p)
        nb.write.mode("append").parquet(band_p)
        ns.write.mode("append").parquet(surv_p)

    reader = (
        spark.readStream.schema(aug.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ra_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in release_audit_from_cells(
            spark.read.parquet(ledger)
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_fdr_family_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming FDR resident (VERDICT r14 ask #6): per-variant (n, k)
    conversion counters fold additively; the Hoeffding-p + step-up
    readout recomputed from the folded integers matches the one-shot
    gated pf_fdr bit-for-bit (which composes the same two halves)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        FDR_CUT_EFFECT,
        FDR_CUT_NULL,
        FDR_EFFECT_VARIANTS,
        FDR_Q_PPM,
        FDR_VARIANTS,
        pf_fdr,
    )
    from calp_cva_tracking_pipeline_spark.operators.profiling import (
        fdr_family_cells,
        fdr_from_family_cells,
    )

    one_shot = [tuple(r) for r in pf_fdr(spark, sf_dir).collect()]
    assert one_shot, "empty family would make this pin vacuous"

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    cut = F.when(
        F.col("user_id") % FDR_VARIANTS < FDR_EFFECT_VARIANTS,
        F.lit(FDR_CUT_EFFECT),
    ).otherwise(F.lit(FDR_CUT_NULL))
    base = e.select(
        "user_id",
        (F.col("user_id") % FDR_VARIANTS).alias("variant"),
        (F.col("value") > cut).cast("int").alias("c"),
    )

    ledger = str(tmp_path / "fdr_ledger")

    def process(batch_df, batch_id):
        fdr_family_cells(batch_df, "variant", "c").write.mode(
            "append"
        ).parquet(ledger)

    reader = _file_stream_batches(
        spark, tmp_path, base, "user_id", 3, "fdr"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "fdr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in fdr_from_family_cells(
            spark.read.parquet(ledger), "variant", q_ppm=FDR_Q_PPM
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_template_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming template-census resident (VERDICT r14 ask #6): the
    digest is a pure per-row text function, (digest, source) cells fold
    by sum/min, and the re-collapsed census matches the one-shot gated
    tx_templates bit-for-bit over the SAME augmented corpus."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        TEMPLATE_VARIANT_OFFSETS,
        tx_templates,
    )
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        template_cells,
        template_census_from_cells,
    )

    one_shot = [tuple(r) for r in tx_templates(spark, sf_dir).collect()]
    assert one_shot, "unaugmented corpus would make this pin vacuous"

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    variants = [
        d.filter(
            (F.col("doc_id") % 6 == 0) & F.col("text").isNotNull()
        ).select(
            (F.col("doc_id") + off).alias("doc_id"),
            "source",
            F.concat(
                F.col("text"),
                F.lit(" order "),
                (F.col("doc_id") * mult).cast("string"),
                F.lit(" ref "),
                (F.col("doc_id") + mult).cast("string"),
            ).alias("text"),
        )
        for mult, off in zip((7, 13), TEMPLATE_VARIANT_OFFSETS)
    ]
    aug = d.unionByName(variants[0]).unionByName(variants[1])

    ledger = str(tmp_path / "tpl_ledger")

    def process(batch_df, batch_id):
        template_cells(batch_df, "doc_id", "text", "source").write.mode(
            "append"
        ).parquet(ledger)

    reader = _file_stream_batches(
        spark, tmp_path, aug, "doc_id", 3, "tpl"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "tpl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in template_census_from_cells(
            spark.read.parquet(ledger)
        ).collect()
    ]
    assert folded == one_shot


def test_foreachbatch_mde_family_cells_fold_to_batch(
    spark, sf_dir, tmp_path
):
    """Streaming MDE resident: per-group (n_t, n_c, k) counters fold
    additively; the sizing readout recomputed from the folded integers
    matches the one-shot gateable ev_power_mde bit-for-bit (which
    composes the same two halves)."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.catalog.common import T
    from calp_cva_tracking_pipeline_spark.catalog.scale import (
        DID_CUT_BASE,
        ev_power_mde,
    )
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        mde_family_cells,
        mde_from_family_cells,
    )

    one_shot = [tuple(r) for r in ev_power_mde(spark, sf_dir).collect()]
    assert one_shot

    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    base = e.select(
        "user_id",
        "event_type",
        (F.col("user_id") % 2 == 0).alias("t"),
        (F.col("value") > F.lit(DID_CUT_BASE)).cast("int").alias("c"),
    )
    ledger = str(tmp_path / "mde_ledger")

    def process(batch_df, batch_id):
        mde_family_cells(batch_df, "event_type", "t", "c").write.mode(
            "append"
        ).parquet(ledger)

    reader = _file_stream_batches(
        spark, tmp_path, base, "user_id", 3, "mde"
    )
    q = (
        reader.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "mde_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    folded = [
        tuple(r)
        for r in mde_from_family_cells(
            spark.read.parquet(ledger), "event_type"
        ).collect()
    ]
    assert folded == one_shot
