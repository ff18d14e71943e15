"""Streaming harvest ingest: the reference's page loop
(reference: harvest.py:405-416) as a Structured Streaming
``foreachBatch`` sink.

One drain (``_drain``) serves both state layouts: a file-source stream
of bindings parquet, ``foreachBatch`` running the harvest's one merge
per micro-batch, and an ``availableNow`` trigger that drains the
backlog and stops — the batch job IS the streaming job run to
completion.  New bindings files dropped into the source directory are
picked up by the next drain.  Each layout commits through its own
commit step:

  * ``harvest_stream`` calls ``harvest_run`` once per micro-batch — the
    batch loop's commit step itself (slot ping-pong, caches released
    after each commit, so memory stays bounded);
  * ``harvest_stream_bucketed`` calls ``BucketedHarvestState.load_batch``
    — the bucket-pruned manifest commit.

Either way the state is **exactly-once**: the per-batch commit is the
durable boundary (the reference's per-page ``conn.commit()``,
harvest.py:374), and because the merge is idempotent
(harvest.py:163-168, 292-299) a replayed micro-batch after a crash
re-inserts nothing — re-delivery collapses into the upsert, so
checkpoint replay is safe without transactional sinks.

``foreachBatch`` completes the streaming-surface matrix alongside the
windowed/stateful operators in ``streaming/events.py``: it is the
Spark idiom for merge/upsert sinks that the declarative writers can't
express.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from setup_harvest_action_spark.harvest.load import (
    HarvestState,
    LoadStats,
    harvest_run,
)
from setup_harvest_action_spark.schemas import SPARQL_BINDINGS


def _drain(
    spark: SparkSession,
    bindings_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    merge: Callable[[DataFrame, int], None],
) -> None:
    """Run ``merge(batch_df, batch_id)`` over every not-yet-processed
    bindings file in ``bindings_dir`` (``availableNow``), then stop.
    The checkpoint records processed files across restarts."""
    query = (
        spark.readStream.schema(SPARQL_BINDINGS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(bindings_dir)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def harvest_stream(
    spark: SparkSession,
    bindings_dir: str,
    state_path: str,
    checkpoint_dir: str,
    batch_ts: _dt.datetime | None = None,
    max_files_per_trigger: int = 1,
) -> tuple[HarvestState, LoadStats]:
    """Drain ``bindings_dir`` (parquet files of SPARQL_BINDINGS rows)
    into the harvest state with one ``harvest_run`` commit per
    micro-batch, then stop.  Returns the final durable state and the
    summed load statistics.

    Resume: if ``state_path`` already holds a committed slot, the
    stream continues from it (``HarvestState.latest``) — and the source
    checkpoint ensures already-processed FILES are not re-read, while
    the merge's idempotence makes any replayed in-flight batch a
    no-op."""
    state = HarvestState.latest(spark, state_path)
    totals = LoadStats(0, 0, 0)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal state, totals
        state, stats = harvest_run(
            batch_df.sparkSession, [batch_df], state_path,
            state=state, batch_ts=batch_ts,
        )
        totals += stats

    _drain(spark, bindings_dir, checkpoint_dir, max_files_per_trigger, _upsert)
    return state or HarvestState.empty(spark), totals


def harvest_stream_bucketed(
    spark: SparkSession,
    bindings_dir: str,
    state_root: str,
    checkpoint_dir: str,
    batch_ts: _dt.datetime | None = None,
    n_buckets: int = 64,
    max_files_per_trigger: int = 1,
):
    """``harvest_stream`` over the bucket-pruned state
    (harvest/bucketed.py) — the continuous-ingest form that scales:
    each micro-batch merges into ONLY the hash buckets its uris touch
    (manifest-resolved pruned read, one manifest flip per table), so
    per-trigger I/O is bounded by touched-bucket bytes, not table
    bytes.  The slot ping-pong of ``harvest_stream`` rewrites the whole
    state per batch — fine for the reference's bounded vocabularies,
    quadratic for a long stream over a large corpus.

    Returns ``(BucketedHarvestState, LoadStats totals)``; totals count
    only THIS drain's work (resume totals restart at zero, matching
    ``harvest_stream``)."""
    from setup_harvest_action_spark.harvest.bucketed import BucketedHarvestState

    state = BucketedHarvestState(spark, state_root, n_buckets)
    ts = batch_ts or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    totals = LoadStats(0, 0, 0)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal totals
        totals += state.load_batch(batch_df, ts)

    _drain(spark, bindings_dir, checkpoint_dir, max_files_per_trigger, _merge)
    return state, totals
