"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (beyond-reference; SURVEY §2.11 headroom).

The batch equivalent lives in llm/events.py::events_sessionize (window
algebra). This version is the streaming shape: events arrive per user,
per-user state carries the OPEN session's full running aggregates
(index, start, last event time, counts, value sum, distinct event-type
set) across micro-batches, and every batch emits each session touched in
that batch at its current extent. Grouping shuffles once on user_id —
the same partitioning contract as the batch operator, which is what
makes it hold on a real cluster.

Cross-batch semantics (upsert-by-replay): a session that spans a batch
boundary is re-emitted by the later batch with merged aggregates under
the SAME (user_id, session_idx) key, superseding the earlier partial
row. The append-mode sink therefore accumulates a replay log, and the
operator compacts it on read — keep the latest emission per session key
(max n_events; strictly increasing across re-emissions, so the winner is
unique). This is the standard append-sink + downstream-compaction
pattern: the emitted stream is monotone per key, and the compacted view
equals the batch result exactly — including sessions that straddle any
number of micro-batches — so the batch DuckDB oracle applies verbatim
for ANY batch split that is per-user time-ordered (file-source batches
over time-partitioned files, the production layout).

State stays bounded: one row per user holding scalar aggregates plus the
open session's distinct event-type set (cardinality = event-type domain,
a handful of values — not per-event growth).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..llm.events import SESSION_GAP_US

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("duration_us", LongType()),
        StructField("session_value_cents", LongType()),
        StructField("n_event_types", LongType()),
    ]
)

# carried across micro-batches: the open session's running aggregates
STATE_SCHEMA = StructType(
    [
        StructField("session_idx", LongType()),
        StructField("start_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("types_csv", StringType()),  # sorted distinct, '\x1f'-joined
    ]
)

_SEP = "\x1f"


def _sessionize(key, pdf_iter, state):
    """Sessionize one user's events within a micro-batch and merge the
    first segment with the open tail carried in state. Fully
    vectorized: numpy gap-flag + reduceat segment aggregates (int64 — no
    float accumulation); the only per-segment Python is the
    distinct-type set handling (segment count, not event count)."""
    (user_id,) = key
    events = pd.concat(list(pdf_iter)).sort_values(["ts_us", "event_id"])

    ts = events["ts_us"].to_numpy(np.int64)
    cents = events["value_cents"].to_numpy(np.int64)
    if not len(ts):
        yield pd.DataFrame(
            {f.name: pd.Series(dtype="int64") for f in OUTPUT_SCHEMA}
        )
        return

    tail = state.get if state.exists else None
    continuing = tail is not None and ts[0] - tail[2] <= SESSION_GAP_US

    new_sess = np.ones(len(ts), dtype=bool)
    new_sess[1:] = (ts[1:] - ts[:-1]) > SESSION_GAP_US
    starts_idx = np.flatnonzero(new_sess)
    ends_idx = np.append(starts_idx[1:], len(ts)) - 1
    k = len(starts_idx)
    n_events = np.diff(np.append(starts_idx, len(ts)))
    cents_sum = np.add.reduceat(cents, starts_idx)
    starts = ts[starts_idx].copy()
    seg = np.cumsum(new_sess)  # 1-based segment id per event
    type_sets = [
        set(u) for u in events["event_type"].groupby(seg).unique()
    ]

    if tail is None:
        first_idx = 1
    elif continuing:
        first_idx = tail[0]
        n_events[0] += tail[3]
        cents_sum[0] += tail[4]
        starts[0] = tail[1]
        type_sets[0] |= set(tail[5].split(_SEP)) if tail[5] else set()
    else:
        first_idx = tail[0] + 1

    idx = first_idx + np.arange(k, dtype=np.int64)
    out = pd.DataFrame(
        {
            "user_id": np.full(k, int(user_id), dtype=np.int64),
            "session_idx": idx,
            "n_events": n_events.astype(np.int64),
            "start_us": starts,
            "end_us": ts[ends_idx],
            "duration_us": ts[ends_idx] - starts,
            "session_value_cents": cents_sum.astype(np.int64),
            "n_event_types": np.array(
                [len(s) for s in type_sets], dtype=np.int64
            ),
        }
    )

    state.update(
        (
            int(idx[-1]),
            int(starts[-1]),
            int(ts[-1]),
            int(n_events[-1]),
            int(cents_sum[-1]),
            _SEP.join(sorted(type_sets[-1])),
        )
    )
    yield out


def streaming_sessionize(
    spark: SparkSession,
    sf_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Default sink is an ephemeral memory table (the registered-query
    shape). With ``checkpoint_dir`` + ``output_dir`` the session stream
    writes to a durable parquet sink instead: source offsets AND every
    user's open-session state (the applyInPandasWithState store) live in
    the checkpoint, so a later call with the same pair RESUMES — a
    session left open at shutdown continues (same session_idx, merged
    aggregates) instead of restarting the per-user numbering, and
    already-committed emissions are never re-emitted (r6, the restart
    twin of streaming_attribution's checkpointed mode)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ..sources.registry import normalize_event_ts
    from .daily import events_stream_schema

    reader = spark.readStream.schema(events_stream_schema(spark, sf_dir)).option(
        "pathGlobFilter", "events*.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = normalize_event_ts(reader.parquet(sf_dir)).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("ts_us"),
        F.expr("cast(round(value * 100) as bigint)").alias("value_cents"),
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if (checkpoint_dir is None) != (output_dir is None):
        raise ValueError("checkpoint_dir and output_dir must be set together")
    if checkpoint_dir is not None:
        q = (
            sessions.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if os.path.isdir(os.path.join(output_dir, "_spark_metadata")):
            # explicit schema: a committed batch can list ZERO data
            # files (all emissions empty), where inference would fail
            # with "unable to infer schema" instead of returning empty
            raw = spark.read.schema(OUTPUT_SCHEMA).parquet(output_dir)
        else:
            # zero committed batches (e.g. a first run over an empty
            # feed): the FileStreamSink never created the directory —
            # return the same empty result the memory-sink path yields
            raw = spark.createDataFrame([], OUTPUT_SCHEMA)
    else:
        name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        raw = spark.table(name)

    import json as _json

    data_batches = 0
    for p in q.recentProgress:
        prog = _json.loads(p.json) if hasattr(p, "json") else p
        if int(prog.get("numInputRows", 0)) > 0:
            data_batches += 1

    # Compact the replay log: latest emission per session key wins
    # (n_events strictly increases across re-emissions of one session).
    # Window is per (user, session) — thousands of tiny partitions, safe.
    w = Window.partitionBy("user_id", "session_idx").orderBy(
        F.desc("n_events")
    )
    out = (
        raw.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    out.num_data_batches = data_batches  # test introspection
    return out


# compacted multi-batch result == batch operator ⇒ same oracle
from ..llm.events import ORACLES as _EV_ORACLES  # noqa: E402

ORACLES: dict[str, str] = {
    "streaming_sessionize": _EV_ORACLES["events_sessionize"],
}


def streaming_session_window(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """The BUILT-IN twin of :func:`streaming_sessionize`: Spark's native
    ``session_window`` streaming aggregation (dynamic-gap session
    windows, state managed by the engine) instead of the custom
    ``applyInPandasWithState`` operator. Where the custom variant exists
    to show arbitrary stateful logic, this is the shape to PREFER when
    built-in semantics suffice: JVM-side state, no Python in the loop,
    watermark-driven state eviction for free.

    Session-break semantics match the batch/custom operators exactly —
    a new session opens when the inter-event gap is ``> gap`` (an event
    landing exactly ON ``last_ts + gap`` still merges; pinned by
    tests/test_llm_ops_r4.py's boundary test) — and the reported
    session end is ``last_ts + gap``, not ``last_ts``. (No distinct
    event-type count here: streaming aggregations do not support exact
    ``countDistinct`` — the custom-state twin is the path that carries
    the distinct set.)"""
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ..sources.registry import normalize_event_ts
    from .daily import events_stream_schema

    reader = spark.readStream.schema(events_stream_schema(spark, sf_dir)).option(
        "pathGlobFilter", "events*.parquet"
    )
    stream = normalize_event_ts(reader.parquet(sf_dir)).select(
        "user_id",
        "ts",
        F.expr("cast(round(value * 100) as bigint)").alias("value_cents"),
    )
    gap_s = SESSION_GAP_US // 1_000_000
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("session_value_cents"),
        )
    )
    name = f"stream_sw_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.expr("unix_micros(w.start)").alias("session_start_us"),
        F.expr("unix_micros(w.end)").alias("session_end_us"),
        "n_events",
        "session_value_cents",
    )


ORACLES["streaming_session_window"] = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
),
flagged AS (
    SELECT *,
           CASE WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_session
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
s AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + {SESSION_GAP_US} AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(value_cents) AS BIGINT) AS session_value_cents
FROM s GROUP BY user_id, sid
"""
