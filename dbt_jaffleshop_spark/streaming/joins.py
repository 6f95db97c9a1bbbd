"""Stream-stream interval join (beyond-reference; SURVEY §2.11 family):
click→purchase attribution over the events feed.

Shape: two filtered streams off the same parquet source, both
watermarked, inner-joined on user_id with an event-time range predicate
(click within the 30 minutes preceding the purchase) — the canonical
Structured Streaming stream-stream join. The watermarks + time-range
condition let Spark bound BOTH sides' join state: a buffered click can be
dropped once the watermark passes click_ts + 30 minutes, so state is
O(rate × window), not O(stream). Emission is append-mode (inner joins
emit exactly once per matched pair).

With an availableNow run over a static source the result equals the batch
interval join, so the operator carries an exact DuckDB oracle and its own
driver slot. Crash-restart semantics: pass ``checkpoint_dir`` +
``output_dir`` to run against a durable sink — a restart resumes from the
checkpointed offsets AND join state, emitting each matched pair exactly
once (pytest-pinned with a two-phase feed).
"""

from __future__ import annotations

import glob
import os
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import input_bytes
from .daily import events_stream_schema

ATTRIBUTION_WINDOW_MINUTES = 30

# ---------------------------------------------- state-store partitioning
#
# A stream-stream join keeps FOUR state-store instances per shuffle
# partition (keyToNumValues + keyWithIndexToValue, per side), so the
# partition count is a STATE-VOLUME knob, not a parallelism knob: sized
# to cores it gives one near-empty store per core whose per-batch
# open/commit overhead dominates at low rates — the r14 scaling block
# measured this row FASTER at 8 cores than 32 (ratio 0.35), the
# signature of partition-count overhead. Partitions are derived from
# the SOURCE'S INPUT BYTES (buffered join state is O(rate x window) and
# bounded by input): one partition per ~TARGET bytes of input, floored
# at 4 (never a single-store degenerate), capped at the session's
# shuffle partitions (at 100 TB the cap rules and the behavior is the
# session default) — scale-adaptive, no local[32]-only constant.
_STATE_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_TARGET_BYTES")
    or 32 * 1024 * 1024
)
_CONF_LOCK = threading.Lock()


def _attribution_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """ceil(input bytes / target), floored at 4, capped at the session
    shuffle-partition count. Input bytes are the source's data-file
    bytes (:func:`..sources.registry.input_bytes`), for a single-file
    and a directory-layout ``events.parquet`` alike."""
    size = input_bytes(glob.glob(os.path.join(sf_dir, "events*.parquet")))
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = -(-size // _STATE_TARGET_BYTES)
    return max(4, min(sess, want))


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Set spark.sql.shuffle.partitions for the duration of one bounded
    (availableNow) stream run, then restore. Structured Streaming
    clones the session conf when the query starts, so the narrow scope
    is sufficient; the module lock serializes the set/restore pair so
    two concurrent stream starts can't interleave their restores. (The
    stored checkpoint pins the state partition count on RESUME — this
    value only matters for a query's first run, and it is deterministic
    for a given source dir.)"""
    key = "spark.sql.shuffle.partitions"
    with _CONF_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


def streaming_attribution(
    spark: SparkSession,
    sf_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """All (purchase, click) pairs where the click is by the same user
    within the 30 minutes up to and including the purchase time.

    Gap is reported in exact integer microseconds (both engines subtract
    epoch-microsecond longs — no float time arithmetic).

    Default sink is an ephemeral memory table (the registered-query
    shape). With ``checkpoint_dir`` + ``output_dir`` the join writes to
    a durable parquet sink instead: source offsets, watermarks, and
    both sides' buffered join state live in the checkpoint, so a later
    call with the same pair RESUMES — already-emitted pairs are never
    re-emitted, and clicks buffered (within the watermark) at shutdown
    still match purchases arriving after the restart."""
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ..sources.registry import normalize_event_ts

    schema = events_stream_schema(spark, sf_dir)

    def _side(event_type: str, prefix: str) -> DataFrame:
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "events*.parquet"
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return (
            normalize_event_ts(reader.parquet(sf_dir))
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            # clicks buffer up to the attribution window past their own
            # event time; purchases match only already-seen-or-concurrent
            # clicks. 1h (> 30 min window) bounds both states safely.
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    purchases = _side("purchase", "purchase")
    clicks = _side("click", "click")
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            click_user_id = purchase_user_id AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - interval {ATTRIBUTION_WINDOW_MINUTES} minutes
            """
        ),
        "inner",
    ).select(
        F.col("purchase_id"),
        F.col("click_id"),
        F.col("purchase_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "gap_micros"
        ),
    )

    if (checkpoint_dir is None) != (output_dir is None):
        raise ValueError("checkpoint_dir and output_dir must be set together")
    n_parts = _attribution_shuffle_partitions(spark, sf_dir)
    if checkpoint_dir is not None:
        with _scoped_shuffle_partitions(spark, n_parts):
            q = (
                joined.writeStream.format("parquet")
                .option("path", output_dir)
                .option("checkpointLocation", checkpoint_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.read.parquet(output_dir)

    name = f"stream_attrib_{uuid.uuid4().hex[:8]}"
    with _scoped_shuffle_partitions(spark, n_parts):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


ORACLES: dict[str, str] = {
    "streaming_attribution": f"""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_micros
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_MINUTES} MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
}
