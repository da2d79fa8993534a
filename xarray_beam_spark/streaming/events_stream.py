"""Structured Streaming surface over the events table.

The reference has no streaming semantics at all (every Beam source is
bounded, ``range_source.py:29``) — this module is the engine's
forward-looking extension: the same event-time analytics users run in
batch, expressed as Structured Streaming jobs with watermarks, tumbling
windows, and session windows.

Determinism for the correctness gate: queries run with
``Trigger.AvailableNow`` over the parquet input and an in-memory sink.
The input is a single file → a single micro-batch → the watermark never
discards anything (it only gates *subsequent* batches), so the streaming
result equals the batch/SQL answer bit-for-bit while still exercising the
real streaming operators (StateStore-backed window aggregation). On a
live unbounded source the same code runs continuously; the watermark
bounds state size at scale.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_beam_spark.session import memo
from xarray_beam_spark.tables import load

REGISTRY: dict = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream — ``tables.normalize_ts`` gives it
    the SAME ns→µs / NTZ→LTZ timestamp view the batch reader has (one
    shared helper, so the two can never desynchronize). The raw parquet
    schema (a driver-side footer read) is memoized per (session, dir)."""
    from xarray_beam_spark.tables import normalize_ts

    load(spark, sf_dir, "events")  # sets session tz (+ nanosAsLong conf)
    raw_schema = memo(
        spark, ("raw_schema", sf_dir),
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet").schema,
    )
    stream = spark.readStream.schema(raw_schema).parquet(
        f"{sf_dir}", pathGlobFilter="events.parquet"
    )
    return normalize_ts(stream)


def _result_dir(spark: SparkSession, prefix: str) -> str:
    """A temp dir that a lazily returned DataFrame reads, so it cannot be
    deleted on return: the session store removes it at exit (or on
    eviction) instead of leaking one dir per streaming-gate run."""
    return memo(
        spark, ("result_dir", uuid.uuid4().hex),
        lambda: tempfile.mkdtemp(prefix=prefix), release=shutil.rmtree,
    )


def _run_to_memory(result: DataFrame, mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) through a
    parquet file sink (foreachBatch) and return the landed result as a
    batch DataFrame.

    Executor-side end to end: each micro-batch's result is written by the
    executors (overwrite for complete mode — every trigger re-emits the
    full result; append for update mode), never collected to the driver —
    the same ``foreachBatch`` bridge pattern as ``stream_to_zarr_hourly``,
    so gate-scale and 100 TB runs share the code path."""
    spark = result.sparkSession
    outdir = _result_dir(spark, f"xbs_stream_{uuid.uuid4().hex[:8]}_")
    data_dir, ckpt_dir = f"{outdir}/data", f"{outdir}/ckpt"
    # The checkpoint of a run-to-completion (AvailableNow) query is pure
    # scratch — it never outlives this function — so put its WAL/state
    # fsync traffic on RAM-backed tmpfs when the host has one and delete
    # it after. Durable checkpoints (the restartable production path,
    # stream_to_zarr_hourly) keep their caller-provided location.
    scratch = os.environ.get("XBS_STREAM_SCRATCH", "/dev/shm")
    if os.path.isdir(scratch) and os.access(scratch, os.W_OK):
        ckpt_dir = tempfile.mkdtemp(prefix="xbs_ckpt_", dir=scratch)
    # A streaming query pins its state-store partition count at start from
    # spark.sql.shuffle.partitions; the vanilla default (200) is far too
    # many state stores for a local run and too few for a large cluster —
    # size it to the session's parallelism (set-and-restore).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_state = max(8, spark.sparkContext.defaultParallelism // 4)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite" if mode == "complete" else "append").parquet(data_dir)

    try:
        q = (
            result.writeStream.foreachBatch(land)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not ckpt_dir.startswith(outdir):
            shutil.rmtree(ckpt_dir, ignore_errors=True)  # free the tmpfs
    return spark.read.parquet(data_dir)


def hourly_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 2-hour watermark."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    flat = agg.select(
        F.col("w.start").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    return _run_to_memory(flat)


def user_sessions(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Session windows per user (30-min inactivity gap) — the canonical
    stateful-streaming operator (merging session state across batches)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("s"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    flat = agg.select(
        "user_id",
        F.col("s.start").alias("session_start"),
        F.col("s.end").alias("session_end"),
        "n_events",
    )
    return _run_to_memory(flat)


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running aggregates (count, exact decimal-accumulated value sum, last
    event time) held in explicit state across micro-batches — the escape
    hatch for stateful logic Spark's built-in windows can't express.

    With ``AvailableNow`` the final per-user emission is deterministic and
    equals the batch GROUP BY, which is the correctness oracle.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "value")
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("micros", T.LongType()),  # value sum in exact 1e-6 units
            T.StructField("last_us", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, micros, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer accumulation of 6-dp values (order-independent)
            micros += int(round(pdf["value"].mul(1_000_000).round().sum()))
            if len(pdf):
                # datetime64[ns] int view → microseconds
                last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((n, micros, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [micros / 1_000_000],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(result, mode="update")


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

_HOURLY_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@_register("stream_hourly_counts", _HOURLY_ORACLE)
def stream_hourly_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_windowed_counts(spark, sf_dir)


# Session oracle: gaps-and-islands in pure SQL. Spark's session_window end
# is last_event + gap, mirrored exactly.
_SESSIONS_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         -- >= not >: session_window's end bound is EXCLUSIVE, so a gap
         -- of exactly 30:00 starts a new session (matches the batch
         -- twin's oracle, tabular.py events_sessionize_batch)
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


@_register("stream_user_sessions", _SESSIONS_ORACLE)
def stream_user_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_sessions(spark, sf_dir, gap_minutes=30)


_STATEFUL_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(MAX(ts) AS TIMESTAMP) AS last_ts
FROM events GROUP BY user_id
"""


@_register("stream_stateful_user_stats", _STATEFUL_ORACLE)
def stream_stateful_user_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful_user_stats(spark, sf_dir)


def contiguous_runs(idxs: list[int]) -> list[tuple[int, int]]:
    """Maximal [lo, hi) runs of consecutive integers in a sorted list."""
    runs: list[tuple[int, int]] = []
    if not idxs:
        return runs
    run_lo = prev_i = idxs[0]
    for i in idxs[1:]:
        if i != prev_i + 1:
            runs.append((run_lo, prev_i + 1))
            run_lo = i
        prev_i = i
    runs.append((run_lo, prev_i + 1))
    return runs


def stream_to_zarr_hourly(spark: SparkSession, sf_dir: str, out_path: str) -> dict:
    """Streaming → chunked-array bridge: each micro-batch aggregates its
    events into the dense (day, hour, event_type) grid and region-writes
    the aligned day slices into one shared Zarr store (``foreachBatch`` +
    ``to_zarr(needs_setup=False, origin=...)``).

    The store is set up once, driver-side, for the full time extent (the
    reference's ``replace_template_dims`` large-output pattern) so
    arbitrarily many batches/jobs can land their windows concurrently —
    full-chunk alignment makes the writes idempotent under retries.
    """
    import numpy as np

    from xarray_beam_spark.dataset import Dataset, Template
    from xarray_beam_spark.ndarray_ds import Variable
    from xarray_beam_spark.sources import zarr_io

    static = load(spark, sf_dir, "events")
    days = np.array(
        [
            r[0]
            for r in static.select(F.date_trunc("day", "ts").alias("day"))
            .distinct()
            .orderBy("day")
            .collect()
        ],
        dtype="datetime64[us]",
    )
    etypes = np.array(
        sorted(r[0] for r in static.select("event_type").distinct().collect())
    )
    # template axes are driver-side metadata (calendar days × event types);
    # bound them explicitly so a pathological input fails loudly instead
    # of materializing an unbounded coordinate list on the driver
    if len(days) * len(etypes) > 10_000_000:
        raise ValueError(
            f"stream template grid too large for driver-side coordinates: "
            f"{len(days)} days x {len(etypes)} event types"
        )
    day_index = {d: i for i, d in enumerate(days.astype("datetime64[us]"))}
    template = Template(
        sizes={"day": len(days), "hour": 24, "event_type": len(etypes)},
        var_meta={"cnt": (("day", "hour", "event_type"), "<f8")},
        coords={
            "day": Variable(("day",), days),
            "hour": Variable(("hour",), np.arange(24, dtype=np.int64)),
            "event_type": Variable(("event_type",), etypes),
        },
    )
    zarr_io.setup_zarr(template, out_path, {"day": 1, "hour": 24, "event_type": len(etypes)})

    # Day→batch ledger NEXT TO the store: a day chunk is written whole
    # (fill 0.0 for absent cells), so a day whose events were SPLIT
    # across micro-batches would be silently clobbered by whichever
    # batch lands last. The ledger turns that contract violation into a
    # loud error while keeping legit flows intact: distinct-day batches
    # never clash, and a RETRY of the same batch id rewrites its own
    # (byte-identical, full-chunk-aligned) regions idempotently.
    from xarray_beam_spark.sources import stores as _stores

    ledger_store, ledger_key = _stores.resolve(out_path + "_daybatches")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json as _json

        cells = batch_df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.hour("ts").cast("long").alias("hour"),
            F.col("event_type"),
        ).agg(F.count(F.lit(1)).cast("double").alias("cnt")).persist()
        try:
            batch_days = np.array(
                [r[0] for r in cells.select("day").distinct().orderBy("day").collect()],
                dtype="datetime64[us]",
            )
            if not len(batch_days):
                return
            raw = ledger_store.get(ledger_key)
            ledger = _json.loads(raw.decode()) if raw else {}
            clash = sorted(
                str(d)
                for d in batch_days
                if ledger.get(str(day_index[d])) not in (None, batch_id)
            )
            if clash:
                raise ValueError(
                    f"day(s) {clash} already written by another batch: "
                    "a day's events must arrive whole in ONE micro-batch "
                    "(whole-chunk region writes would clobber the earlier "
                    "batch's counts)"
                )
            # Region-write each maximal contiguous run of PRESENT days, not
            # one min-to-max slab: a slab would fill absent interior days
            # with zeros, clobbering real counts another batch/job already
            # landed there.
            for lo, hi in contiguous_runs([day_index[d] for d in batch_days]):
                run_cells = cells.filter(
                    (F.col("day") >= F.lit(days[lo].item())) & (F.col("day") < F.lit(days[hi - 1].item()) + F.expr("INTERVAL 1 DAY"))
                )
                grid = Dataset.from_table(
                    run_cells,
                    dims=["day", "hour", "event_type"],
                    coords={
                        "day": days[lo:hi],
                        "hour": np.arange(24, dtype=np.int64),
                        "event_type": etypes,
                    },
                    var_cols=["cnt"],
                    chunks={"day": 1},
                    fill_value=0.0,
                )
                zarr_io.to_zarr(grid, out_path, needs_setup=False, origin={"day": lo})
            for d in batch_days:
                ledger[str(day_index[d])] = batch_id
            ledger_store.put(
                ledger_key, _json.dumps(ledger, sort_keys=True).encode()
            )
        finally:
            cells.unpersist()

    ev = stream_events(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", out_path + "_ckpt")
        .start()
    )
    q.awaitTermination()
    return {"days": len(days)}


# Streaming dedup: the ingestion-side half of the dedup story (the batch
# side is operators/dedup.py) — state-store-backed drop-duplicates with a
# watermark bounding how long keys are remembered. (user_id, ts,
# event_type) is unique in the synthetic data, so the deduplicated stream
# equals the input deterministically while the operator still runs the
# real dedup state machine per micro-batch.
_DEDUP_ORACLE = """
SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    dd = ev.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "ts", "event_type"]
    )
    return _run_to_memory(dd, mode="append")


@_register("stream_dedup_events", _DEDUP_ORACLE)
def stream_dedup_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_dedup(spark, sf_dir)


# ---------------------------------------------------------------------------
# stream-static enrichment join
# ---------------------------------------------------------------------------

# Enrich the event stream against a static per-user profile (derived from
# the same table batch-side: each user's historical event count). The
# stream-static join is the canonical enrichment shape: the static side is
# re-read per micro-batch and broadcast when small — no stream-state, no
# watermark interaction, so at 100 TB the cost is the broadcast + a narrow
# map per batch.
_ENRICHED_ORACLE = """
WITH profile AS (
  SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY user_id
)
SELECT e.event_type,
       CASE WHEN p.user_total >= 20 THEN 'heavy' ELSE 'light' END AS user_class,
       COUNT(*) AS n_events
FROM events e JOIN profile p USING (user_id)
GROUP BY 1, 2
"""


def enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_beam_spark.tables import load as _load

    static_profile = (
        _load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    ev = stream_events(spark, sf_dir).select("user_id", "event_type")
    joined = ev.join(F.broadcast(static_profile), on="user_id")
    out = (
        joined.withColumn(
            "user_class",
            F.when(F.col("user_total") >= 20, F.lit("heavy")).otherwise(F.lit("light")),
        )
        .groupBy("event_type", "user_class")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_to_memory(out)


@_register("stream_enriched_counts", _ENRICHED_ORACLE)
def stream_enriched_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: live events classified against a
    batch-computed user profile, then aggregated — executor-side via the
    foreachBatch parquet sink like every other streaming gate."""
    return enriched_counts(spark, sf_dir)


_STREAM_JOIN_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       s.event_id AS signup_id, s.ts AS signup_ts
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup') s
  ON c.user_id = s.user_id
 AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 6 HOUR
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: the
    clicks stream joins the signups stream on user within 6 hours after
    the signup. Watermarks on BOTH sides + the time-range predicate let
    Spark bound each side's join state (signups kept only until
    click-watermark passes signup_ts + 6h) — the unbounded-state-safe
    formulation of :func:`~xarray_beam_spark.operators.temporal.interval_join`
    for live pipelines. Append mode; AvailableNow = one micro-batch, so
    nothing is watermark-dropped and the result equals the batch oracle."""
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    signups = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    joined = clicks.join(
        signups,
        F.expr(
            """
            user_id = s_user_id AND
            click_ts >= signup_ts AND
            click_ts < signup_ts + INTERVAL 6 HOURS
            """
        ),
        "inner",
    ).select("user_id", "click_id", "click_ts", "signup_id", "signup_ts")
    return _run_to_memory(joined, mode="append")


@_register("stream_interval_join", _STREAM_JOIN_ORACLE)
def stream_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-range join gate (see stream_interval_join)."""
    return stream_interval_join(spark, sf_dir)


def _staged_day_files(spark: SparkSession, sf_dir: str, n_parts: int = 3) -> str:
    """Stage the events table as ``n_parts`` day-ranged parquet files with
    strictly increasing modification times — a deterministic stand-in for
    a live feed that delivers whole days in arrival order (FileStreamSource
    orders pending files by mtime, so maxFilesPerTrigger=1 replays them
    oldest-first, one micro-batch per file). The staged dir is a fixture
    of the session store, removed at exit."""

    def stage_files() -> str:
        ev = load(spark, sf_dir, "events")
        days = [
            r[0]
            for r in ev.select(F.date_trunc("day", "ts").alias("day")).distinct().orderBy("day").collect()
        ]
        cuts = [days[(len(days) * i) // n_parts] for i in range(1, n_parts)]
        stage = tempfile.mkdtemp(prefix="xbs_append_feed_")
        lo = None
        bounds = cuts + [None]
        base = time.time() - 1000
        for i, hi in enumerate(bounds):
            part = ev
            d = F.date_trunc("day", F.col("ts"))
            if lo is not None:
                part = part.where(d >= F.lit(lo))
            if hi is not None:
                part = part.where(d < F.lit(hi))
            tmp = tempfile.mkdtemp(prefix="xbs_append_part_")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(stage, f"{i:03d}.parquet")
            shutil.move(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (base + i, base + i))
            lo = hi
        return stage

    return memo(spark, ("staged_feed", sf_dir, n_parts), stage_files, release=shutil.rmtree)


class BatchHighWater:
    """Exactly-once guard for ``foreachBatch`` sinks: a monotone batch-id
    high-water mark persisted through the Store seam, so replayed batch
    ids are skipped identically on ``file://``, ``http(s)://`` and
    ``mem://`` outputs (the standard foreachBatch idempotency pattern)."""

    def __init__(self, path: str) -> None:
        from xarray_beam_spark.sources import stores

        self._store, self._key = stores.resolve(path)

    def seen(self, batch_id: int) -> bool:
        raw = self._store.get(self._key)
        return raw is not None and int(raw) >= batch_id

    def commit(self, batch_id: int) -> None:
        self._store.put(self._key, str(batch_id).encode())


def stream_append_to_zarr(spark: SparkSession, sf_dir: str, out_path: str) -> dict:
    """Streaming ingestion into a GROWING Zarr store: no pre-sized extent,
    no replace_template_dims — the first micro-batch creates the store for
    its own days, every later batch ``to_zarr(append_dim="day")``s
    (metadata resize + coordinate extension + aligned region write).

    The unknown-extent dual of :func:`stream_to_zarr_hourly`: that pattern
    needs the full time axis up front; this one ingests an open-ended feed
    the way live time-series pipelines do. Contract: batches deliver whole
    days in order (enforced — appending a day at or before the store's
    current extent raises). Exactly-once across foreachBatch retries via a
    batch-id high-water marker next to the store (the standard foreachBatch
    idempotency pattern: replayed batch ids are skipped).
    """
    import numpy as np

    from xarray_beam_spark.dataset import Dataset
    from xarray_beam_spark.sources import zarr_io

    # the event taxonomy is schema-level knowledge; the DAY axis is not —
    # memoized like the staged feed (pure-input metadata)
    etypes = memo(spark, ("etypes", sf_dir), lambda: np.array(sorted(
        r[0] for r in load(spark, sf_dir, "events").select("event_type").distinct().collect()
    )))
    stage = _staged_day_files(spark, sf_dir)
    # Exactly-once marker goes through the store seam so streaming append
    # is idempotent on http://, mem:// and file outputs alike (the marker
    # lives NEXT TO the store, not inside it, so store listings stay clean).
    from xarray_beam_spark.sources import stores

    highwater = BatchHighWater(out_path + "_highwater")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if highwater.seen(batch_id):
            return  # replayed batch: already appended
        cells = (
            batch_df.groupBy(
                F.date_trunc("day", F.col("ts")).alias("day"),
                F.hour("ts").cast("long").alias("hour"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
            .persist()
        )
        try:
            batch_days = np.array(
                [r[0] for r in cells.select("day").distinct().orderBy("day").collect()],
                dtype="datetime64[us]",
            )
            if len(batch_days):
                grid = Dataset.from_table(
                    cells,
                    dims=["day", "hour", "event_type"],
                    coords={
                        "day": batch_days,
                        "hour": np.arange(24, dtype=np.int64),
                        "event_type": etypes,
                    },
                    var_cols=["cnt"],
                    chunks={"day": 1},
                )
                meta_store, meta_key = stores.resolve(
                    stores.join(out_path, ".zmetadata")
                )
                if meta_store.exists(meta_key):
                    # ingestion contract: whole days, in order — a batch whose
                    # first day is not past the store's extent means duplicate
                    # or out-of-order delivery, which append cannot represent
                    tmpl, _ = zarr_io.open_zarr_template(out_path)
                    days_all = np.asarray(tmpl.coords["day"].values).astype(
                        "datetime64[us]"
                    )
                    last = days_all[-1]
                    if batch_days[0] <= last:
                        if len(days_all) >= len(batch_days) and np.array_equal(
                            days_all[-len(batch_days) :], batch_days
                        ):
                            # commit-crash replay: the append itself landed but
                            # the process died before the high-water commit —
                            # the store's tail IS this batch. Fall through to
                            # the commit instead of wedging every restart on
                            # the out-of-order check.
                            pass
                        else:
                            raise ValueError(
                                f"out-of-order ingest: batch starts at "
                                f"{batch_days[0]} but the store already "
                                f"extends to {last}"
                            )
                    else:
                        zarr_io.to_zarr(grid, out_path, append_dim="day")
                else:
                    zarr_io.to_zarr(
                        grid, out_path,
                        zarr_chunks={"day": 1, "hour": 24, "event_type": len(etypes)},
                    )
        finally:
            cells.unpersist()  # a rejected batch must not leave it cached
        highwater.commit(batch_id)

    raw_schema = load(spark, sf_dir, "events").schema
    feed = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    scratch = os.environ.get("XBS_STREAM_SCRATCH", "/dev/shm")
    ckpt_base = scratch if os.path.isdir(scratch) and os.access(scratch, os.W_OK) else None
    ckpt = tempfile.mkdtemp(prefix="xbs_append_ckpt_", dir=ckpt_base)
    q = (
        feed.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return {"batches": 3}


_APPEND_INGEST_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour,
       event_type,
       CAST(COUNT(*) AS DOUBLE) AS cnt
FROM events
GROUP BY 1, 2, 3
"""


@_register("stream_zarr_append", _APPEND_INGEST_ORACLE)
def stream_zarr_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-ended streaming ingestion gate: three day-ordered micro-batches
    grow one Zarr store via ``to_zarr(append_dim="day")`` (first batch
    creates it), then the read-back of the final store must equal the
    whole-table day×hour×type grid — proving resize + coordinate
    extension + region writes compose losslessly under micro-batching."""
    from xarray_beam_spark.sources import zarr_io

    out = _result_dir(spark, "xbs_append_store_") + "/grid.zarr"
    stream_append_to_zarr(spark, sf_dir, out)
    back = zarr_io.from_zarr(spark, out, chunks={"day": 8})
    return back.to_table(dropna=True)
