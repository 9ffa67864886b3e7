"""Structured Streaming jobs — SURVEY.md §2.9.

The reference is a daily batch pipeline whose semantics are "late-data-
tolerant upsert": re-read a window, dedup on (event_id, latest updated)
(process_bronze_to_silver.py:112-113, cloud_function/main.py:61-62). The
idiomatic Spark translation is a stream with watermarked windows and
``dropDuplicatesWithinWatermark`` — implemented here over the ``events``
table replayed through the file source.

Both jobs run the stream to completion synchronously (memory sink +
``processAllAvailable``) so they are callable from the batch-style driver
harness; on a cluster the same code targets a real source/sink with a
micro-batch or continuous trigger.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import fix_nanos_ts, table_schema


def _src_fingerprint(path: str) -> str:
    """mtime+size fingerprint of a source file, folded into every /tmp
    staging key so a regenerated source (the driver rewrites testdata
    between rounds, sometimes with different physical types) automatically
    invalidates the staged copy instead of silently replaying stale data.
    A directory source (multi-file parquet table) fingerprints every
    member file, so adding/rewriting any part invalidates too."""
    import os

    if os.path.isdir(path):
        parts = []
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
        return "|".join(parts)
    st = os.stat(path)
    return f"{st.st_mtime_ns}:{st.st_size}"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table (schema pinned from the
    declared catalog — streaming reads never infer, SURVEY §1.2).
    Nanos→micros fix as in batch (sources/tables.py).

    The file source requires a *directory*; testdata ships one parquet file,
    so stage a symlink dir under /tmp (read-only testdata is never touched).
    A multi-file (directory) source is linked file-by-file and delivered in
    ONE trigger: per-file triggers over an arbitrarily ordered file set
    would feed event-time-disordered micro-batches into watermarked
    operators and silently drop late rows — queries that specifically
    exercise multi-batch state use ``_events_stream_multibatch``, whose
    slices ARE event-time-ordered.
    """
    import hashlib
    import os

    src = f"{sf_dir}/events.parquet"
    key = f"{src}:{_src_fingerprint(src)}"
    stage = f"/tmp/spark_stream_stage_{hashlib.md5(key.encode()).hexdigest()[:8]}"
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(src):
        # multi-file parquet table: the file source does not recurse into
        # a symlinked subdirectory (it would list ZERO files and drain an
        # empty stream) — link each member file flat into the stage dir
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                link = f"{stage}/{f}"
                if not os.path.exists(link):
                    os.symlink(os.path.join(src, f), link)
    else:
        link = f"{stage}/events.parquet"
        if not os.path.exists(link):
            os.symlink(src, link)
    schema = table_schema(spark, "events", src)
    stream = spark.readStream.schema(schema).parquet(stage)
    return fix_nanos_ts(stream)


def _run_to_memory(result: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink and
    return the sink table."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return result.sparkSession.table(name)


def _events_stream_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Replay events as ``n_files`` time-ordered micro-batches.

    The single testdata file is split into (ts, event_id)-sorted slices with
    increasing mtimes; the file source (maxFilesPerTrigger=1) then delivers
    them oldest-first, so every user's rows arrive in event-time order —
    which makes stateful operators' emissions batch-reproducible and
    therefore oracle-checkable.
    """
    import hashlib
    import os
    import time

    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    stage = (
        "/tmp/spark_stream_slices_"
        f"{hashlib.md5(f'{src}:{n_files}:{_src_fingerprint(src)}'.encode()).hexdigest()[:8]}"
    )
    done = f"{stage}/.done"
    if not os.path.exists(done):
        os.makedirs(stage, exist_ok=True)
        tbl = pq.read_table(src).sort_by([("ts", "ascending"), ("event_id", "ascending")])
        step = -(-tbl.num_rows // n_files)
        now = time.time()
        for i in range(n_files):
            part = f"{stage}/part-{i:03d}.parquet"
            pq.write_table(tbl.slice(i * step, step), part)
            os.utime(part, (now + i, now + i))  # mtime order == replay order
        open(done, "w").close()

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = table_schema(spark, "events", f"{stage}/part-000.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    return fix_nanos_ts(stream)


def stream_sessionize_state(
    spark: SparkSession, sf_dir: str, gap_ms: int | None = None
) -> DataFrame:
    """Custom stateful operator: incremental per-user sessionization via
    ``applyInPandasWithState`` (§2.9 stretch — the arbitrary-state API).

    State per user = the open session (start_ms, last_ms, n, value_sum),
    O(users) bytes total. Each micro-batch folds its rows in; a session is
    EMITTED the moment an event arrives ≥ gap after the previous one — the
    continuous form of operators/sessions.py::sessionize. Open sessions stay
    in state (a production job would flush them via event-time timeout).

    Because the replay is event-time-ordered, the emitted set is exactly the
    batch result minus each user's final (still-open) session — which the
    DuckDB oracle reproduces, holding even the arbitrary-state path to the
    differential bar.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sessions import SESSION_GAP_MS

    gap = gap_ms if gap_ms is not None else SESSION_GAP_MS

    def fold_sessions(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        start_ms, last_ms, n, vsum = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        closed: list[tuple[int, int, int, int, float]] = []
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            # unit-proof epoch-ms (Arrow may hand back ns or us resolution)
            ts_ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
            for ts, value in zip(ts_ms, pdf["value"]):
                ms = int(ts)
                if start_ms is None:
                    start_ms, last_ms, n, vsum = ms, ms, 1, float(value)
                elif ms - last_ms >= gap:
                    closed.append((user_id, start_ms, last_ms, n, vsum))
                    start_ms, last_ms, n, vsum = ms, ms, 1, float(value)
                else:
                    last_ms, n, vsum = ms, n + 1, vsum + float(value)
        state.update((start_ms, last_ms, n, vsum))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start_ms", "session_end_ms", "n_events", "total_value"],
        )

    sessions = (
        _events_stream_multibatch(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold_sessions,
            outputStructType=(
                "user_id long, session_start_ms long, session_end_ms long, "
                "n_events long, total_value double"
            ),
            stateStructType="start_ms long, last_ms long, n long, vsum double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumn("total_value", F.round("total_value", 2))
    )
    return _run_to_memory(sessions, "update")


def stream_sessionize_tws(
    spark: SparkSession, sf_dir: str, gap_ms: int | None = None
) -> DataFrame:
    """The same incremental sessionization on the state-v2 API
    (``transformWithStateInPandas``, Spark 4): typed per-key ValueState via a
    StatefulProcessor class instead of the tuple-state callback. Semantics
    and oracle are identical to ``stream_sessionize_state`` — implementing
    the operator on both state APIs pins that the engine's statefulness is
    API-portable (state v1 is deprecated upstream; v2 adds timers/TTL we
    don't need here).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.sessions import SESSION_GAP_MS

    gap = gap_ms if gap_ms is not None else SESSION_GAP_MS
    state_schema = StructType(
        [
            StructField("start_ms", LongType()),
            StructField("last_ms", LongType()),
            StructField("n", LongType()),
            StructField("vsum", DoubleType()),
        ]
    )

    class SessionFold(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState("open_session", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            start_ms, last_ms, n, vsum = (
                self._open.get() if self._open.exists() else (None, None, 0, 0.0)
            )
            closed = []
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                ts_ms = (
                    pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
                )
                for ms, value in zip(ts_ms, pdf["value"]):
                    ms = int(ms)
                    if start_ms is None:
                        start_ms, last_ms, n, vsum = ms, ms, 1, float(value)
                    elif ms - last_ms >= gap:
                        closed.append((user_id, start_ms, last_ms, n, round(vsum, 2)))
                        start_ms, last_ms, n, vsum = ms, ms, 1, float(value)
                    else:
                        last_ms, n, vsum = ms, n + 1, vsum + float(value)
            self._open.update((start_ms, last_ms, n, vsum))
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_start_ms", "session_end_ms",
                    "n_events", "total_value",
                ],
            )

        def close(self) -> None:
            pass

    sessions = (
        _events_stream_multibatch(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionFold(),
            outputStructType=(
                "user_id long, session_start_ms long, session_end_ms long, "
                "n_events long, total_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    return _run_to_memory(sessions, "update")


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windowed counts per event_type (§2.9: F.window over
    an unbounded stream; complete mode emits every window)."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    return _run_to_memory(agg, "complete")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day windows advancing 1 day (§2.9 extension): every event
    lands in exactly two overlapping windows — the overlap factor is the
    state cost a watermark would bound on an unbounded stream."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    return _run_to_memory(agg, "complete")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (§2.9: dropDuplicatesWithinWatermark on
    the event key — the streaming form of the batch argmax dedup A5).
    Emits one row per user_id; which row wins depends on arrival order, so
    the driver check is rows-only (count == distinct user_id)."""
    dedup = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id", "event_type", "value", "ts")
    )
    return _run_to_memory(dedup, "append")


def stream_dedup_audit(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Hash-checkable audit of watermarked streaming dedup (the last
    rows-only family member, closed round 5).

    ``stream_dedup_within_watermark``'s per-row WINNER depends on arrival
    order, but the dedup CONTRACT — one emission per key while state
    lives — is deterministic. This audit replays the events table as
    ``n_batches`` time-ordered micro-batches with a watermark delay larger
    than the whole data span, so key state never expires and the drained
    sink must contain EXACTLY the distinct user_id set, regardless of
    intra-batch processing order. It emits one scalar row

        (n_batches, n_out, n_distinct_out, n_expected, users_xor, dedup_ok)

    where n_expected / the expected xor-of-portable-hashes are recomputed
    batch-side from the same table, and ``dedup_ok`` requires count AND
    set equality (order-insensitive bit_xor of the md5-derived BIGINT per
    emitted user). The DuckDB oracle recomputes every column from scratch
    and expects dedup_ok = TRUE — a duplicate emission, a dropped user, or
    a wrong user flips the hash. Scale shape: dedup state is O(users),
    the audit aggregates are two map-side folds.
    """
    from ..functions.scalar import portable_hash8
    from ..sources.tables import load_table

    dedup = (
        _events_stream_multibatch(spark, sf_dir, n_files=n_batches)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    sink = _run_to_memory(dedup, "append")

    # n_distinct_out via a per-key group + count(*), NOT countDistinct:
    # countDistinct excludes a NULL key while the oracle's SELECT
    # DISTINCT keeps it, and dedup state treats NULL as a real key — the
    # group form counts it on both sides symmetrically (the xor skips
    # NULL's hash in both engines).
    emitted = (
        sink.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .select(portable_hash8(F.col("user_id")).alias("h"), "cnt")
        .agg(
            F.sum("cnt").alias("n_out"),
            F.count("*").alias("n_distinct_out"),
            F.expr("bit_xor(h)").alias("users_xor"),
        )
    )
    expected = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(portable_hash8(F.col("user_id")).alias("h"))
        .agg(
            F.count("*").alias("n_expected"),
            F.expr("bit_xor(h)").alias("expected_xor"),
        )
    )
    # CROSSJOIN: 1-row expected-summary frame
    return emitted.crossJoin(F.broadcast(expected)).select(
        F.lit(n_batches).cast("long").alias("n_batches"),
        F.col("n_out").cast("long").alias("n_out"),
        F.col("n_distinct_out").cast("long").alias("n_distinct_out"),
        F.col("n_expected").cast("long").alias("n_expected"),
        "users_xor",
        (
            (F.col("n_out") == F.col("n_expected"))
            & (F.col("n_distinct_out") == F.col("n_expected"))
            & (F.col("users_xor") == F.col("expected_xor"))
        ).alias("dedup_ok"),
    )


def stream_stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (§2.9 stretch): purchases stream ⋈
    clicks stream on user_id with an event-time range (click within the
    hour before the purchase).

    Both sides carry watermarks so the join state is bounded: a buffered
    click can be evicted once the purchase-side watermark passes
    click_ts + 1 hour. Inner interval joins emit matches as both sides
    arrive, so the drained stream equals the batch interval join — the
    registry holds this to a full SQL oracle.
    """
    p = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    c = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "1 day")
    )
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user"
            " AND c_ts >= p_ts - INTERVAL 1 HOUR"
            " AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).cast("long").alias("gap_ms"),
        "click_value",
    )
    return _run_to_memory(joined, "append")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (§2.9 pattern family): the events STREAM is
    enriched against a STATIC broadcast dimension — here a generated
    calendar covering the events' date range — then aggregated.

    The static side is planned once and broadcast into every micro-batch
    (no state, no watermark needed for the join itself); this is the
    standard "enrich a stream with a slowly-changing dimension snapshot"
    shape. Aggregation runs in complete mode; the drained result equals
    the batch group-by, so it is held to a full SQL oracle.
    """
    from ..sources.tables import load_table

    batch_ev = load_table(spark, sf_dir, "events")
    bounds = batch_ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    ).select(
        "day",
        F.dayofweek("day").isin(1, 7).alias("is_weekend"),
    )

    stream = _events_stream(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    enriched = stream.join(F.broadcast(cal), "day")
    agg = enriched.groupBy("is_weekend", "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


def stream_ewma_state(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2
) -> DataFrame:
    """Streaming per-user EWMA via ``applyInPandasWithState`` — the
    stateful-recurrence twin of the batch applyInPandas fold
    (plans/analytics_queries.py::ewma_user_values).

    State per user = (running ewma, n_events): O(users) bytes. Each
    micro-batch folds its rows in (ts, event_id) order with EXACTLY the
    oracle's arithmetic (y = alpha*x + (1-alpha)*y — same op order →
    bit-identical doubles), emitting the cumulative (n, ewma) after each
    batch; the final state per user is the row with max n. Because the
    multibatch replay is event-time-ordered per user, the drained result
    equals the batch recurrence — so even this arbitrary-state operator
    carries a full DuckDB oracle (recursive CTE, last row per user).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold_ewma(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        y, n = state.get if state.exists else (None, 0)
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            for value in pdf["value"]:
                x = float(value)
                y = x if y is None else alpha * x + (1.0 - alpha) * y
                n += 1
        state.update((y, n))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "ewma_raw": [y]}
        )

    cumulative = (
        _events_stream_multibatch(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold_ewma,
            outputStructType="user_id long, n_events long, ewma_raw double",
            stateStructType="ewma double, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _run_to_memory(cumulative, "append")
    # final state per user = the emission with the highest cumulative n
    return (
        drained.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("ewma_raw", "n_events").alias("ewma_raw"),
        )
        .select(
            "user_id",
            "n_events",
            (F.round("ewma_raw", 4) + F.lit(0.0)).alias("ewma"),
        )
    )


def stream_topk_state(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Streaming per-group top-k via ``applyInPandasWithState`` — bounded
    ARRAY state (the leaderboard shape: top offenders / hottest keys while
    the stream runs).

    State per event_type = the current top-k (value, event_id) pairs +
    rows-seen counter: O(groups * k) bytes total, independent of stream
    length. Each micro-batch concatenates its rows onto the carried
    leaderboard, re-sorts by (value DESC, event_id ASC) and truncates to k
    — pure selection, no float arithmetic, so the drained result is
    bit-exact vs the batch window oracle. Emissions are cumulative
    (one leaderboard snapshot per batch, versioned by n_seen); the final
    snapshot per group is the one with max n_seen.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold_topk(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        if state.exists:
            vals, ids, n = state.get
            vals, ids = list(vals), list(ids)
        else:
            vals, ids, n = [], [], 0
        for pdf in batches:
            n += len(pdf)
            vals.extend(float(v) for v in pdf["value"])
            ids.extend(int(i) for i in pdf["event_id"])
        order = sorted(range(len(vals)), key=lambda i: (-vals[i], ids[i]))[:k]
        vals = [vals[i] for i in order]
        ids = [ids[i] for i in order]
        state.update((vals, ids, n))
        yield pd.DataFrame(
            {
                "event_type": [etype] * len(ids),
                "n_seen": [n] * len(ids),
                "rank": list(range(1, len(ids) + 1)),
                "event_id": ids,
                "value_raw": vals,
            }
        )

    cumulative = (
        _events_stream_multibatch(spark, sf_dir)
        .select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            fold_topk,
            outputStructType=(
                "event_type string, n_seen long, rank long, "
                "event_id long, value_raw double"
            ),
            stateStructType="vals array<double>, ids array<long>, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = _run_to_memory(cumulative, "append")
    # final snapshot per group via a window (a groupBy+self-join on the
    # memory sink trips Spark's conflicting-attribute check)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    return (
        drained.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .select(
            "event_type",
            "rank",
            "event_id",
            (F.round("value_raw", 2) + F.lit(0.0)).alias("value"),
        )
    )
