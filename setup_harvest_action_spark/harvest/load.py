"""The harvest load path: one keyed merge and one commit step (O13-O16, O18).

The reference's per-row SQL loop (reference: harvest.py:292-380) is an
implementation artifact — O(rows) round-trips, 2 point lookups per row
(:327, :352).  Its *semantics* are set-oriented and collapse to exactly
one keyed merge on ``terms`` plus one anti-join append on
``term_fields`` (SURVEY.md §2.1 notes):

  * ``terms`` upsert (O13): new URIs are inserted with fresh surrogate
    ids and ``created_at = updated_at = batch_ts``; existing URIs keep
    id + created_at and only advance ``updated_at`` (harvest.py:326-349);
  * ``term_fields`` insert-if-absent (O14): composite key
    ``(term_id, field_uri, original_value)`` — INSERT OR IGNORE becomes
    dropDuplicates + left_anti against existing rows (harvest.py:363-372,
    constraint at :210);
  * FK resolution (O15): the reference's 2-per-row point lookups become
    ONE equi-join against ``terms`` (:327, :352-356);
  * intra-batch dedup (O16): ``terms_processed`` set → ``distinct()``
    before the merge (:318, :326, :349);
  * load statistics (O18): inserted/updated counters observed on the
    merge branches while the commit writes them (:312-315, :377-380).

This module holds the only definition of that merge:
``_terms_merge_branches`` builds the terms branches,
``_fields_fresh_rows`` the fresh ``term_fields`` rows, and
``_observed_union`` the counted union of branches.  Both state layouts
call them — ``harvest_batch`` here and
``BucketedHarvestState.load_batch`` (``harvest/bucketed.py``) — and
differ only in the surrogate-id assigner they pass in and in how they
commit.

Ids here replicate AUTOINCREMENT (harvest.py:191, ``_dense_assign``):
stable across reruns (ids are FK targets, :204), dense, assigned as
``max(existing id) + global_rank(sort key)`` over new rows.  The rank
is computed WITHOUT a global single-task window: rows rank within
prefix-aligned partitions in parallel, and a tiny per-partition count
aggregate supplies each partition's offset (``_dense_ids``), so a
large novel batch spreads across executors.  The bucketed layout uses
``xxhash64`` of the key instead (SURVEY.md §1.3).

State is kept as plain DataFrames so the pipeline is storage-agnostic;
``HarvestState.write``/``read`` persist them as parquet.  On a Delta
deployment the same algebra is one ``MERGE INTO`` — the semantics here
are deliberately identical.  ``harvest_run`` is the one commit step for
this layout, used by the batch loop and by the streaming sink
(``streaming/ingest.py``) alike.  It rewrites the whole state per batch
(fine for bounded vocabularies, the reference's regime); for
large-state continuous ingest use the bucket-pruned form in
``harvest/bucketed.py``, which reads and rewrites only the buckets a
batch touches.
"""

from __future__ import annotations

import datetime as _dt
import functools
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from dataclasses import field as _dc_field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql.types import StringType

from setup_harvest_action_spark.harvest.normalize import clean_bindings, unpivot_bindings
from setup_harvest_action_spark.schemas import TERM_FIELDS, TERMS


@dataclass
class LoadStats:
    """The reference's printed load summary (harvest.py:312-315, 377-380)."""

    terms_inserted: int
    terms_updated: int
    fields_inserted: int

    def __add__(self, other: "LoadStats") -> "LoadStats":
        return LoadStats(
            self.terms_inserted + other.terms_inserted,
            self.terms_updated + other.terms_updated,
            self.fields_inserted + other.fields_inserted,
        )


@dataclass
class HarvestState:
    """The two tables the harvest writes (translations/appeals/users are
    downstream-only: the harvest never touches them — harvest.py:163-168).

    ``retained`` lists DataFrames cached on behalf of this state by
    ``harvest_batch``; ``release()`` unpersists them once the state has
    been durably written (or is otherwise done with).  Without this a
    multi-batch loop accumulates cached RDDs without bound.

    ``source_path`` records the parquet directory backing this state
    (set by ``read``); ``harvest_run`` consults it so it never
    overwrites the directory it is still scanning.
    """

    terms: DataFrame
    term_fields: DataFrame
    retained: list[DataFrame] = _dc_field(default_factory=list)
    source_path: str | None = None

    @classmethod
    def empty(cls, spark: SparkSession) -> "HarvestState":
        return cls(
            terms=spark.createDataFrame([], TERMS),
            term_fields=spark.createDataFrame([], TERM_FIELDS),
        )

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "HarvestState":
        return cls(
            terms=spark.read.schema(TERMS).parquet(os.path.join(path, "terms")),
            term_fields=spark.read.schema(TERM_FIELDS).parquet(
                os.path.join(path, "term_fields")
            ),
            source_path=path,
        )

    @classmethod
    def latest(cls, spark: SparkSession, state_path: str) -> "HarvestState | None":
        """The latest slot ``harvest_run`` committed under ``state_path``,
        or None on a fresh directory.  Slot recency is tracked by the
        commit marker mtime the state writer leaves (falls back to
        slot=0 when both exist without markers — the conservative
        choice, matching harvest_run's default starting slot)."""
        candidates = []
        for idx, slot in enumerate(("slot=0", "slot=1")):
            d = os.path.join(state_path, slot)
            if os.path.isdir(os.path.join(d, "terms")):
                marker = os.path.join(d, "terms", "_SUCCESS")
                mtime = os.path.getmtime(marker) if os.path.exists(marker) else 0.0
                # tie-break on EQUAL mtime (e.g. neither slot has a marker):
                # slot=0 wins, per the documented conservative fallback —
                # without the -idx key the max() would compare paths and
                # silently prefer slot=1.
                candidates.append((mtime, -idx, d))
        if not candidates:
            return None
        _, _, latest = max(candidates)
        return cls.read(spark, latest)

    def write(self, path: str) -> None:
        # Atomic-per-table directory commit — the Spark analogue of the
        # reference's per-batch transaction (harvest.py:374).
        self.terms.write.mode("overwrite").parquet(os.path.join(path, "terms"))
        self.term_fields.write.mode("overwrite").parquet(
            os.path.join(path, "term_fields")
        )

    def release(self) -> None:
        """Unpersist every frame cached on behalf of this state."""
        for df in self.retained:
            df.unpersist()
        self.retained.clear()


def _next_id_base(df: DataFrame) -> int:
    row = df.agg(F.max("id").alias("m")).first()
    return int(row["m"] or 0)


# Fixed-length character prefix used to partition dense-id assignment.
# A fixed-length prefix of the sort key is order-compatible: sorting by
# (prefix, key) equals sorting by key, so per-partition ranks + per-
# partition offsets reproduce the global rank exactly.
DENSE_ID_PREFIX_LEN = 28


def _dense_ids(df: DataFrame, part: F.Column, order: list[str], base: int) -> DataFrame:
    """Assign ``id = base + global_rank(order)`` WITHOUT a global
    window: rank within ``part`` partitions (parallel), then add each
    partition's cumulative predecessor count, computed by one tiny
    count aggregate whose single-task window runs over |distinct
    partition keys| two-column rows — not the batch itself.  ``part``
    must be a monotone function of the leading ``order`` column (a
    fixed-length prefix / the column itself) so partition boundaries
    align with the global order.  Ids are identical to the serial
    ``row_number() OVER (ORDER BY order)`` form this replaces."""
    with_p = df.withColumn("__p", part)
    offsets = (
        with_p.groupBy("__p")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__p").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__p", "__off")
    )
    within = F.row_number().over(Window.partitionBy("__p").orderBy(*order))
    return (
        with_p.join(F.broadcast(offsets), "__p")
        .withColumn("id", (within + F.col("__off") + F.lit(base)).cast("long"))
        .drop("__p", "__off")
    )


# The unique key of ``term_fields`` (reference constraint, harvest.py:210).
FIELD_KEY = ["term_id", "field_uri", "original_value"]

# Surrogate-id assignment, the one part of the merge a state layout
# passes in: ``assign(new_rows, existing, key)`` returns ``new_rows``
# with an ``id`` column, given the table ``existing`` they join and
# that table's unique ``key`` columns.
IdAssigner = Callable[[DataFrame, DataFrame, list[str]], DataFrame]


def _dense_assign(new_rows: DataFrame, existing: DataFrame, key: list[str]) -> DataFrame:
    """Dense AUTOINCREMENT ids, ``max(existing id) + rank`` in ``key``
    order, without a global single-task window (``_dense_ids``).  The
    rank partitions are a fixed-length prefix of a string leading key
    (``uri``) or the leading key itself (``term_id``) — both
    order-compatible.  Worst case (every key in one partition) degrades
    to a serial window, never worse."""
    lead = key[0]
    if isinstance(new_rows.schema[lead].dataType, StringType):
        part = F.substring(lead, 1, DENSE_ID_PREFIX_LEN)
    else:
        part = F.col(lead)
    return _dense_ids(new_rows, part, key, _next_id_base(existing))


def _terms_merge_branches(
    terms: DataFrame,
    concepts: DataFrame,
    batch_ts: _dt.datetime,
    assign_ids: IdAssigner,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three branches of the keyed merge on ``uri`` — (untouched,
    updated, inserted).  ``concepts`` holds the batch's distinct
    ``uri`` values plus any layout column (the bucketed ``bucket``),
    which the inserted rows carry through.

    ``batch_ts`` is pinned per batch — SQLite's CURRENT_TIMESTAMP is
    per-statement, Spark's current_timestamp() per-query; an explicit
    literal keeps reruns deterministic (SURVEY.md §7 risk register)."""
    ts = F.lit(batch_ts).cast("timestamp")
    uris = concepts.select("uri")

    untouched = terms.join(uris, "uri", "left_anti")
    updated = terms.join(uris, "uri", "left_semi").withColumn("updated_at", ts)
    new_uris = concepts.join(terms.select("uri"), "uri", "left_anti")
    inserted = assign_ids(new_uris, terms, ["uri"]).select(
        "id",
        "uri",
        ts.alias("created_at"),
        ts.alias("updated_at"),
        *[c for c in concepts.columns if c != "uri"],
    )
    return untouched, updated, inserted


def _fields_fresh_rows(
    term_fields: DataFrame,
    terms: DataFrame,
    batch_long: DataFrame,
    batch_ts: _dt.datetime,
    assign_ids: IdAssigner,
) -> DataFrame:
    """The insert branch of the ``term_fields`` merge — INSERT OR IGNORE
    on ``FIELD_KEY``: the batch's long rows resolve ``term_id`` by ONE
    equi-join against ``terms`` (carrying any layout column of
    ``terms`` through), rows already present drop out by left_anti,
    and the rest get ids from ``assign_ids``."""
    ts = F.lit(batch_ts).cast("timestamp")
    extra = [c for c in terms.columns if c not in TERMS.fieldNames()]

    resolved = batch_long.join(
        terms.select(
            F.col("id").alias("term_id"), F.col("uri").alias("concept"), *extra
        ),
        "concept",
    ).select("term_id", "field_uri", "field_term", "original_value", *extra)
    fresh = resolved.join(term_fields.select(*FIELD_KEY), FIELD_KEY, "left_anti")
    return assign_ids(fresh, term_fields, FIELD_KEY).select(
        "id",
        "term_id",
        "field_uri",
        "field_term",
        "original_value",
        ts.alias("created_at"),
        ts.alias("updated_at"),
        *extra,
    )


def _observed_union(**branches: DataFrame) -> tuple[DataFrame, Observation]:
    """Union the merge branches and count each one's rows DURING the
    action that later materializes the union: a transient marker column
    tags each branch, an ``Observation`` sums the markers under the
    branch's keyword name (CollectMetrics — exact, accumulated
    task-side), and the marker is dropped before anything lands on
    disk.  The load statistics thus ride the commit write instead of
    costing a count job per branch."""
    obs = Observation()
    tagged = [df.withColumn("__b", F.lit(i)) for i, df in enumerate(branches.values())]
    counts = [
        F.sum((F.col("__b") == i).cast("long")).alias(name)
        for i, name in enumerate(branches)
    ]
    union = functools.reduce(DataFrame.unionByName, tagged)
    return union.observe(obs, *counts).drop("__b"), obs


def harvest_batch(
    state: HarvestState,
    bindings: DataFrame,
    batch_ts: _dt.datetime | None = None,
) -> tuple[HarvestState, Callable[[], LoadStats]]:
    """Load one page/batch of SPARQL bindings — the set-oriented form of
    the reference's ``insert_results`` (harvest.py:292-380).

    Returns ``(state, resolve)``.  The new state's frames are lazy; call
    ``resolve()`` AFTER an action has materialized both tables
    (``state.write`` does).  It blocks until the metrics of that action
    arrive and returns the batch's LoadStats, which the reference
    prints per page (harvest.py:312-315, 377-380).  The only per-batch
    driver actions here are the two max-id scalars of the dense-id
    contract.

    Idempotence contract (harvest.py:163-168, 292-299): re-running the
    same bindings inserts 0 terms and 0 term_fields; only
    ``terms.updated_at`` advances.  Proven by the golden double-run
    test (tests/test_harvest_load.py).
    """
    batch_ts = batch_ts or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)

    # Materialize inputs once: the merge branches and the FK join reuse
    # them, and the id bases must be computed against a frozen snapshot.
    cleaned = clean_bindings(bindings).cache()
    long = unpivot_bindings(bindings).cache()
    concepts = cleaned.select(F.col("concept").alias("uri")).distinct()

    untouched, updated, inserted = _terms_merge_branches(
        state.terms, concepts, batch_ts, _dense_assign
    )
    terms, obs_terms = _observed_union(kept=untouched, upd=updated, ins=inserted)
    terms = terms.cache()
    fresh = _fields_fresh_rows(state.term_fields, terms, long, batch_ts, _dense_assign)
    term_fields, obs_fields = _observed_union(kept=state.term_fields, ins=fresh)

    # The caches are registered on the new state so a driver loop can
    # release them after it durably commits the state (see
    # ``harvest_run``).  Everything here is deterministic, so
    # re-evaluation after release is safe.
    new_state = HarvestState(
        terms=terms, term_fields=term_fields, retained=[cleaned, long, terms]
    )

    def resolve() -> LoadStats:
        t, f = obs_terms.get, obs_fields.get
        return LoadStats(
            int(t["ins"] or 0), int(t["upd"] or 0), int(f["ins"] or 0)
        )

    return new_state, resolve


def harvest_run(
    spark: SparkSession,
    batches: Iterable[DataFrame],
    state_path: str,
    state: HarvestState | None = None,
    batch_ts: _dt.datetime | None = None,
) -> tuple[HarvestState, LoadStats]:
    """The commit step: the Spark form of the reference's page loop
    (harvest.py:405-416).  Every batch is durably committed before the
    next is processed, so a mid-run crash leaves a prefix of batches
    loaded (the reference's per-page ``conn.commit()``, harvest.py:374).
    The streaming sink calls it once per micro-batch.

    State ping-pongs between two subdirectories (``slot=0``/``slot=1``)
    because Spark cannot overwrite a parquet directory it is also
    reading from.  A resumed state (``state=`` from a previous run over
    the same ``state_path``, e.g. ``HarvestState.latest``) starts the
    ping-pong on the slot it is NOT backed by, for the same reason.
    The per-batch parquet round-trip doubles as lineage truncation:
    without it the state plan grows as an unbounded chain of
    unions/joins over every batch ever loaded.  Cached batch inputs are
    released as soon as each commit lands, so executor storage stays
    O(one batch) for the whole run.  Load statistics resolve from the
    Observations AFTER each commit — no count jobs in the loop.
    """
    state = state or HarvestState.empty(spark)
    next_slot = 1 if state.source_path == os.path.join(state_path, "slot=0") else 0
    totals = LoadStats(0, 0, 0)
    for bindings in batches:
        state, resolve = harvest_batch(state, bindings, batch_ts)
        slot = os.path.join(state_path, f"slot={next_slot}")
        next_slot = 1 - next_slot
        state.write(slot)
        totals += resolve()
        state.release()
        state = HarvestState.read(spark, slot)
    return state, totals
