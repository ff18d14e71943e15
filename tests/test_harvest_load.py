"""Golden tests for the harvest load path.

The double-run test is the reference's idempotence contract
(reference: harvest.py:163-168, 292-299): re-running the same
bindings must insert nothing anywhere; only ``terms.updated_at``
advances.  Cited by harvest/load.py docstrings.
"""

from __future__ import annotations

import datetime as dt

import pytest

from setup_harvest_action_spark.harvest.constraints import (
    check_harvest_state,
    domain_violations,
    duplicate_keys,
    fk_orphans,
)
from setup_harvest_action_spark.harvest.load import (
    HarvestState,
    harvest_batch,
    harvest_run,
)
from setup_harvest_action_spark.schemas import SPARQL_BINDINGS, TRANSLATION_LANGUAGES

T1 = dt.datetime(2026, 1, 1)
T2 = dt.datetime(2026, 1, 2)

ROWS = [
    ("http://v.example/a", "A", "A-alt", "def a"),
    ("http://v.example/a", "A", "A-alt2", "def a"),  # cross-product dup
    ("http://v.example/b", "B", None, None),
    ("http://v.example/b", "B", None, None),  # exact dup
    (None, "ghost", None, None),  # skipped: null concept
    ("", "empty", None, None),  # skipped: empty concept
]


@pytest.fixture(scope="module")
def bindings(spark):
    return spark.createDataFrame(ROWS, SPARQL_BINDINGS)


def _load(state, bindings, ts):
    """``harvest_batch`` plus the actions its statistics resolve from:
    both tables are materialized, then ``resolve()`` reads the counts."""
    state, resolve = harvest_batch(state, bindings, ts)
    state.terms.collect()
    state.term_fields.collect()
    return state, resolve()


def test_first_run_inserts_everything(spark, bindings):
    state, stats = _load(HarvestState.empty(spark), bindings, T1)
    assert stats.terms_inserted == 2
    assert stats.terms_updated == 0
    # a: prefLabel + 2 altLabels + definition; b: prefLabel  -> 5 fields
    assert stats.fields_inserted == 5
    terms = {r["uri"]: r for r in state.terms.collect()}
    assert set(terms) == {"http://v.example/a", "http://v.example/b"}
    assert all(r["created_at"] == T1 and r["updated_at"] == T1 for r in terms.values())
    # dense, stable ids ordered by uri
    assert [terms[u]["id"] for u in sorted(terms)] == [1, 2]


def test_double_run_is_idempotent(spark, bindings):
    state1, _ = _load(HarvestState.empty(spark), bindings, T1)
    before_fields = sorted(
        tuple(r) for r in state1.term_fields.collect()
    )
    state2, stats2 = _load(state1, bindings, T2)

    # 0 inserts anywhere; every concept touched as an update
    assert stats2.terms_inserted == 0
    assert stats2.terms_updated == 2
    assert stats2.fields_inserted == 0

    terms = {r["uri"]: r for r in state2.terms.collect()}
    # ids and created_at survive byte-identical, updated_at advances
    assert [terms[u]["id"] for u in sorted(terms)] == [1, 2]
    assert all(r["created_at"] == T1 for r in terms.values())
    assert all(r["updated_at"] == T2 for r in terms.values())
    # term_fields untouched (append-only with composite-key dedup)
    after_fields = sorted(tuple(r) for r in state2.term_fields.collect())
    assert after_fields == before_fields


def test_incremental_batch_appends_only_new(spark, bindings):
    state, _ = _load(HarvestState.empty(spark), bindings, T1)
    extra = spark.createDataFrame(
        [
            ("http://v.example/a", "A", "A-alt", "def a"),  # fully known
            ("http://v.example/c", "C", None, None),  # new concept
        ],
        SPARQL_BINDINGS,
    )
    state2, stats2 = _load(state, extra, T2)
    assert stats2.terms_inserted == 1
    assert stats2.terms_updated == 1  # only 'a' was in this batch
    assert stats2.fields_inserted == 1  # C's prefLabel
    terms = {r["uri"]: r for r in state2.terms.collect()}
    # new id continues the dense sequence; untouched b keeps T1
    assert terms["http://v.example/c"]["id"] == 3
    assert terms["http://v.example/b"]["updated_at"] == T1
    assert terms["http://v.example/a"]["updated_at"] == T2


def test_harvest_run_commits_per_batch_and_bounds_memory(spark, bindings, tmp_path):
    rdds_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    batches = [bindings, bindings]
    state, totals = harvest_run(spark, batches, str(tmp_path), batch_ts=T1)
    assert totals.terms_inserted == 2  # second batch inserts nothing
    assert totals.fields_inserted == 5
    assert state.terms.count() == 2
    # cached inputs all released after durable commits.  Compared as
    # no-increase, not equality: the shared session may hold unrelated
    # caches AND Spark's ContextCleaner may concurrently drop entries
    # whose references were garbage-collected.
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= rdds_before
    # constraint pack holds on the durable state
    report_df = check_harvest_state(state.terms, state.term_fields)
    # one lazy unioned plan: all six checks evaluate in a single action
    # (no serial driver-side counts)
    assert report_df._jdf.queryExecution().analyzed().toString().count("Union") >= 1
    report = {r["constraint"]: r["violations"] for r in report_df.collect()}
    assert len(report) == 6
    assert set(report.values()) == {0}, report


def test_harvest_run_resume_does_not_clobber_backing_slot(spark, bindings, tmp_path):
    # A resumed run whose input state is backed by slot=0 of the SAME
    # state dir must start the ping-pong on slot=1 — otherwise the
    # first batch overwrites the parquet it is still scanning
    # (FAILED_READ_FILE mid-job).
    state1, _ = harvest_run(spark, [bindings], str(tmp_path), batch_ts=T1)
    assert state1.source_path.endswith("slot=0")
    state2, stats2 = harvest_run(
        spark, [bindings], str(tmp_path), state=state1, batch_ts=T2
    )
    assert stats2.terms_inserted == 0 and stats2.fields_inserted == 0
    assert stats2.terms_updated == 2
    assert state2.source_path.endswith("slot=1")
    assert state2.terms.count() == 2


def test_hash_id_strategy_is_stable_and_parallel(spark, bindings, tmp_path):
    """The bucketed layout's xxhash64 ids: two loads of the same
    bindings into fresh roots agree row for row, and ids are unique."""
    from setup_harvest_action_spark.harvest.bucketed import BucketedHarvestState

    loads = []
    for name in ("one", "two"):
        state = BucketedHarvestState(spark, str(tmp_path / name), n_buckets=8)
        state.load_batch(bindings, T1)
        loads.append([
            sorted(tuple(r) for r in state.terms().collect()),
            sorted(tuple(r) for r in state.term_fields().collect()),
        ])
    assert loads[0] == loads[1]
    terms, fields = loads[0]
    assert len(terms) == 2 and len(fields) == 5
    for rows in (terms, fields):
        ids = [r[0] for r in rows]
        assert len(set(ids)) == len(ids)


def test_constraint_checks_catch_violations(spark):
    terms = spark.createDataFrame(
        [(1, "u1", T1, T1), (2, "u1", T1, T1)],  # duplicate uri
        "id long, uri string, created_at timestamp, updated_at timestamp",
    )
    dups = duplicate_keys(terms, ["uri"]).collect()
    assert len(dups) == 1 and dups[0]["n_rows"] == 2

    fields = spark.createDataFrame(
        [(1, 99, "f", "t", "v", T1, T1)],  # term_id 99 has no parent
        "id long, term_id long, field_uri string, field_term string, "
        "original_value string, created_at timestamp, updated_at timestamp",
    )
    orphans = fk_orphans(fields, terms, "term_id", "id").collect()
    assert len(orphans) == 1 and orphans[0]["term_id"] == 99

    trans = spark.createDataFrame(
        [("nl",), ("xx",), (None,)], "language string"
    )
    bad = domain_violations(trans, "language", TRANSLATION_LANGUAGES).collect()
    assert {r["language"] for r in bad} == {"xx", None}


def test_dense_ids_parallel_form_matches_global_rank(spark):
    """The prefix-partitioned dense-id assignment (_dense_ids) must
    reproduce the serial ``row_number() OVER (ORDER BY uri)`` ids
    exactly on a batch whose uris span MANY distinct prefixes (multiple
    rank partitions), and the ranking window in the physical plan must
    be partitioned — not the old global single-task window."""
    import contextlib
    import io

    import pyspark.sql.functions as F

    from setup_harvest_action_spark.harvest.load import (
        DENSE_ID_PREFIX_LEN,
        _dense_ids,
    )

    uris = [f"http://v{chr(97 + i % 7)}.example/domain{i % 11}/c{i:04d}" for i in range(200)]
    assert (
        len({u[:DENSE_ID_PREFIX_LEN] for u in uris}) > 10
    ), "batch must span many prefixes or the test is vacuous"
    df = spark.createDataFrame([(u,) for u in uris], "uri string").repartition(8)
    got = {
        r["uri"]: r["id"] for r in _dense_ids(
            df, F.substring("uri", 1, DENSE_ID_PREFIX_LEN), ["uri"], 100
        ).collect()
    }
    expect = {u: 100 + i + 1 for i, u in enumerate(sorted(uris))}
    assert got == expect

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _dense_ids(
            df, F.substring("uri", 1, DENSE_ID_PREFIX_LEN), ["uri"], 100
        ).explain("formatted")
    plan = buf.getvalue()
    # every row_number window spec names __p as its partition column
    windows = [
        ln for ln in plan.splitlines() if "row_number() windowspecdefinition" in ln
    ]
    assert windows and all("__p#" in ln for ln in windows)


def test_dense_ids_multi_partition_batch_through_upsert(spark):
    """End-to-end through harvest_batch: a 150-uri novel batch spanning
    many prefixes gets ids base+1..base+150 in uri order, on top of
    existing state."""
    uris = [f"http://site{i % 13}.example/v/c{i:03d}" for i in range(150)]
    existing, _ = _load(
        HarvestState.empty(spark),
        spark.createDataFrame(
            [("http://a.example/seed", "Seed", None, None)], SPARQL_BINDINGS
        ),
        T1,
    )
    merged, stats = _load(
        existing,
        spark.createDataFrame([(u, "L", None, None) for u in uris], SPARQL_BINDINGS),
        T2,
    )
    assert (stats.terms_inserted, stats.terms_updated) == (150, 0)
    got = {r["uri"]: r["id"] for r in merged.terms.collect()}
    assert got["http://a.example/seed"] == 1
    for rank, u in enumerate(sorted(uris), start=2):
        assert got[u] == rank
    existing.release()
    merged.release()
