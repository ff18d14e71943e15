"""Bucket-pruned merge (harvest/bucketed.py): the scale contract.

Three pins:
  * correctness — the bucketed path produces the same logical state as
    the full-rewrite path (modulo the documented id strategy);
  * pruning — a second batch whose keys land in OTHER buckets leaves
    the first batch's bucket directories byte-identical (same files,
    same bytes): the merge never rewrote them;
  * idempotence — rerunning a batch inserts nothing and skips the
    ``term_fields`` commit entirely (its files stay byte-identical).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from setup_harvest_action_spark.harvest.bucketed import BucketedHarvestState
from setup_harvest_action_spark.harvest.load import HarvestState, harvest_batch
from setup_harvest_action_spark.schemas import SPARQL_BINDINGS

T1 = dt.datetime(2026, 1, 1)
T2 = dt.datetime(2026, 1, 2)

ROWS_A = [
    ("http://v.example/a", "A", "A-alt", "def a"),
    ("http://v.example/a", "A", "A-alt2", "def a"),
    ("http://v.example/b", "B", None, None),
    (None, "ghost", None, None),
]

# f/g hash to buckets {1, 2} at n_buckets=8 while a/b land in {4, 5} —
# chosen disjoint so the pruning assertion below is meaningful.
ROWS_B = [
    ("http://v.example/f", "F", None, "def f"),
    ("http://v.example/g", "G", "G-alt", None),
]


def _snapshot(root: str, table: str) -> dict[str, bytes]:
    """path → bytes for every file under every bucket dir of ``table``."""
    out: dict[str, bytes] = {}
    base = os.path.join(root, table)
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


def _buckets_of(state: BucketedHarvestState, uris: list[str]) -> set[int]:
    df = state.spark.createDataFrame([(u,) for u in uris], "uri string")
    import pyspark.sql.functions as F

    return {
        r["b"]
        for r in df.select(
            F.pmod(F.xxhash64("uri"), F.lit(state.n_buckets)).cast("int").alias("b")
        ).collect()
    }


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "state")


def test_bucketed_matches_full_rewrite_path(spark, root):
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    bucketed = BucketedHarvestState(spark, root, n_buckets=8)
    stats = bucketed.load_batch(bindings, T1)

    ref_state, ref_resolve = harvest_batch(HarvestState.empty(spark), bindings, T1)
    # same logical content (ids differ by documented strategy: hash vs dense)
    got_terms = {(r["uri"], r["created_at"], r["updated_at"])
                 for r in bucketed.terms().collect()}
    want_terms = {(r["uri"], r["created_at"], r["updated_at"])
                  for r in ref_state.terms.collect()}
    assert got_terms == want_terms

    uri_by_id = {r["id"]: r["uri"] for r in bucketed.terms().collect()}
    got_fields = {
        (uri_by_id[r["term_id"]], r["field_uri"], r["original_value"])
        for r in bucketed.term_fields().collect()
    }
    ref_uri_by_id = {r["id"]: r["uri"] for r in ref_state.terms.collect()}
    want_fields = {
        (ref_uri_by_id[r["term_id"]], r["field_uri"], r["original_value"])
        for r in ref_state.term_fields.collect()
    }
    assert got_fields == want_fields
    # the collects above materialized both reference tables
    assert stats == ref_resolve()
    ref_state.release()


def test_disjoint_batch_leaves_other_buckets_byte_identical(spark, root):
    state = BucketedHarvestState(spark, root, n_buckets=8)
    state.load_batch(spark.createDataFrame(ROWS_A, SPARQL_BINDINGS), T1)

    buckets_a = _buckets_of(state, ["http://v.example/a", "http://v.example/b"])
    buckets_b = _buckets_of(state, ["http://v.example/f", "http://v.example/g"])
    # the fixture uris are chosen to hash apart at n_buckets=8; if a
    # regeneration ever collides them, this assert names the problem
    assert buckets_a.isdisjoint(buckets_b), (buckets_a, buckets_b)

    before_terms = _snapshot(state.root, "terms")
    before_fields = _snapshot(state.root, "term_fields")

    state.load_batch(spark.createDataFrame(ROWS_B, SPARQL_BINDINGS), T2)

    after_terms = _snapshot(state.root, "terms")
    after_fields = _snapshot(state.root, "term_fields")

    def in_buckets(snapshot, buckets):
        # data files live at data/<commit>/bucket_p=K/part-*.parquet;
        # the manifest itself is excluded (it legitimately changes).
        return {
            p: b
            for p, b in snapshot.items()
            if any(
                seg.startswith("bucket_p=")
                and int(seg.split("=", 1)[1]) in buckets
                for seg in p.split(os.sep)
            )
        }

    # batch-A buckets: untouched, byte-for-byte
    assert in_buckets(after_terms, buckets_a) == in_buckets(before_terms, buckets_a)
    assert in_buckets(after_fields, buckets_a) == in_buckets(before_fields, buckets_a)
    # batch-B buckets: new
    assert in_buckets(after_terms, buckets_b)
    # and the union state is complete
    assert {r["uri"] for r in state.terms().collect()} == {
        "http://v.example/a",
        "http://v.example/b",
        "http://v.example/f",
        "http://v.example/g",
    }


def test_rerun_inserts_nothing_and_skips_fields_commit(spark, root):
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    state = BucketedHarvestState(spark, root, n_buckets=8)
    state.load_batch(bindings, T1)
    fields_before = _snapshot(state.root, "terms"), _snapshot(state.root, "term_fields")

    stats = state.load_batch(bindings, T2)
    assert stats.terms_inserted == 0
    assert stats.fields_inserted == 0
    assert stats.terms_updated == 2
    # term_fields commit skipped: files byte-identical
    assert _snapshot(state.root, "term_fields") == fields_before[1]
    # terms rewritten (updated_at advanced) in touched buckets only
    rows = {r["uri"]: r for r in state.terms().collect()}
    assert all(r["created_at"] == T1 and r["updated_at"] == T2 for r in rows.values())


def test_partition_pruned_scan(spark, root):
    """A one-bucket read touches only that bucket's manifest-named
    directory — other buckets' paths never even reach the file index
    (stronger than partition-filter pruning: they are not listed)."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    state.load_batch(spark.createDataFrame(ROWS_A, SPARQL_BINDINGS), T1)
    some_bucket = sorted(_buckets_of(state, ["http://v.example/a"]))
    files = state.terms(some_bucket).inputFiles()
    assert files, "pruned scan found no files"
    assert all(f"bucket_p={some_bucket[0]}/" in f for f in files), files
    # and the full read resolves every committed bucket
    all_files = state.terms().inputFiles()
    assert len(all_files) > len(files) or len(
        _buckets_of(state, ["http://v.example/a", "http://v.example/b"])
    ) == 1


def test_crash_before_manifest_flip_is_invisible_then_vacuumed(
    spark, root, monkeypatch
):
    """The object-store-safety contract: a commit that crashes AFTER
    writing its data directories but BEFORE the manifest flip leaves
    readers on the previous state — never a half-merged view — and
    vacuum() reclaims the orphan data.  Simulated by failing the
    atomic rename step of the SECOND batch's terms commit."""
    import setup_harvest_action_spark.harvest.bucketed as mod

    state = BucketedHarvestState(spark, root, n_buckets=8)
    state.load_batch(spark.createDataFrame(ROWS_A, SPARQL_BINDINGS), T1)
    before = {
        (r["uri"], r["created_at"], r["updated_at"])
        for r in state.terms().collect()
    }

    real_replace = os.replace

    def exploding_replace(src, dst):
        if dst.endswith(mod.MANIFEST):
            raise OSError("simulated crash before manifest flip")
        return real_replace(src, dst)

    monkeypatch.setattr(mod.os, "replace", exploding_replace)
    with pytest.raises(OSError, match="simulated crash"):
        state.load_batch(spark.createDataFrame(ROWS_B, SPARQL_BINDINGS), T2)
    monkeypatch.undo()

    # Readers see EXACTLY the pre-crash state: no f/g rows, no
    # half-updated timestamps.
    after = {
        (r["uri"], r["created_at"], r["updated_at"])
        for r in state.terms().collect()
    }
    assert after == before
    # The crashed commit's data dirs are on disk but unreferenced...
    data_root = os.path.join(root, "terms", "data")
    n_dirs_before_vacuum = sum(
        len(os.listdir(os.path.join(data_root, c)))
        for c in os.listdir(data_root)
    )
    referenced = len(state._manifest("terms")["buckets"])
    assert n_dirs_before_vacuum > referenced
    # ...and vacuum reclaims them without disturbing the live state.
    removed = state.vacuum(min_age_sec=0.0)
    assert removed
    assert {
        (r["uri"], r["created_at"], r["updated_at"])
        for r in state.terms().collect()
    } == before
    # a retry of the failed batch now succeeds and completes the merge
    stats = state.load_batch(spark.createDataFrame(ROWS_B, SPARQL_BINDINGS), T2)
    assert stats.terms_inserted == 2
    assert {r["uri"] for r in state.terms().collect()} == {
        "http://v.example/a",
        "http://v.example/b",
        "http://v.example/f",
        "http://v.example/g",
    }


def test_vacuum_reclaims_superseded_bucket_versions(spark, root):
    """A re-merged bucket's previous data directory becomes
    unreferenced after the manifest flip; vacuum removes it and leaves
    the referenced current version."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    state.load_batch(bindings, T1)
    state.load_batch(bindings, T2)  # rerun: same term buckets re-merged
    removed = state.vacuum(min_age_sec=0.0)
    assert any(r.startswith("terms/data/") for r in removed), removed
    # every manifest pointer still resolves
    for table in ("terms", "term_fields"):
        for rel in state._manifest(table)["buckets"].values():
            assert os.path.isdir(os.path.join(root, table, rel))
    rows = {r["uri"]: r for r in state.terms().collect()}
    assert all(r["updated_at"] == T2 for r in rows.values())


def test_vacuum_removes_only_stale_staging(spark, tmp_path):
    """A crash between stage and swap leaves .staging-* orphans;
    vacuum removes the old ones and leaves anything younger than the
    safety margin (a concurrent writer's live staging area)."""
    import os
    import time

    from setup_harvest_action_spark.harvest.bucketed import (
        BucketedHarvestState,
    )

    state = BucketedHarvestState(spark, str(tmp_path / "st"), n_buckets=4)
    old_dir = tmp_path / "st" / ".staging-terms-deadbeef"
    new_dir = tmp_path / "st" / ".staging-terms-cafebabe"
    old_dir.mkdir()
    new_dir.mkdir()
    past = time.time() - 3600
    os.utime(old_dir, (past, past))

    removed = state.vacuum(min_age_sec=600)
    assert removed == [".staging-terms-deadbeef"]
    assert not old_dir.exists() and new_dir.exists()


def test_vacuum_reports_only_real_deletions_and_reclaims_commit_dirs(
    spark, root
):
    """rmtree on a plain file (Spark's _SUCCESS marker) is a silent
    no-op, so vacuum must (a) never report a path it did not delete
    and (b) actually empty and remove a fully-superseded commit
    directory, marker included."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    state.load_batch(bindings, T1)
    first_commits = set(os.listdir(os.path.join(root, "terms", "data")))
    state.load_batch(bindings, T2)  # supersedes every term bucket of c1
    removed = state.vacuum(min_age_sec=0.0)
    for rel in removed:
        assert not os.path.exists(os.path.join(root, rel)), rel
    data_dir = os.path.join(root, "terms", "data")
    live = set(os.listdir(data_dir))
    # the fully superseded first commit is gone entirely (its
    # _SUCCESS marker no longer pins the directory open)
    assert first_commits.isdisjoint(live), (first_commits, live)


def test_vacuum_reclaims_crashed_temporary_dirs(spark, root):
    """A `_temporary` directory left by a killed Spark write inside a
    fully-superseded commit must be rmtree'd, not hit os.remove and be
    skipped forever (which would pin the commit dir open and leak the
    orphan indefinitely)."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    state.load_batch(bindings, T1)
    data_dir = os.path.join(root, "terms", "data")
    first = os.listdir(data_dir)[0]
    crash_dir = os.path.join(data_dir, first, "_temporary", "0")
    os.makedirs(crash_dir)
    state.load_batch(bindings, T2)  # supersedes every bucket of c1
    state.vacuum(min_age_sec=0.0)
    assert first not in os.listdir(data_dir)


def test_legacy_bucket_layout_without_manifest_raises(spark, root):
    """A state directory in the pre-manifest bucket=K layout must fail
    loudly instead of reading back as silently-empty state."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    legacy = os.path.join(root, "terms", "bucket=3")
    os.makedirs(legacy)
    with pytest.raises(ValueError, match="legacy bucket=K layout"):
        state.terms()


def test_commit_drops_pointer_for_touched_but_empty_bucket(spark, root):
    """A touched bucket whose staged output is empty must lose its
    manifest pointer — under a future delete-merge, keeping it would
    resurrect the deleted rows."""
    state = BucketedHarvestState(spark, root, n_buckets=8)
    bindings = spark.createDataFrame(ROWS_A, SPARQL_BINDINGS)
    state.load_batch(bindings, T1)
    buckets = sorted(state._manifest("terms")["buckets"], key=int)
    assert buckets
    victim = int(buckets[0])
    survivors = state.terms().filter(f"bucket <> {victim}")
    state._commit("terms", survivors, touched=[victim])
    assert str(victim) not in state._manifest("terms")["buckets"]
    assert state.terms().filter(f"bucket = {victim}").count() == 0
