"""foreachBatch streaming harvest ingest (streaming/ingest.py):
availableNow drain, cross-batch idempotent upsert, checkpointed
resume, bounded caching."""

from __future__ import annotations

import datetime as dt

from setup_harvest_action_spark.schemas import SPARQL_BINDINGS
from setup_harvest_action_spark.streaming.ingest import harvest_stream

_T = dt.datetime(2026, 4, 1)

BATCH_A = [
    ("http://v.example/c1", "One", "Uno", "first"),
    ("http://v.example/c2", "Two", None, None),
]
BATCH_B = [
    ("http://v.example/c1", "One", "Eins", "first"),  # update + new alt field
    ("http://v.example/c3", "Three", None, "third"),  # new term
]


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, SPARQL_BINDINGS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_stream_drains_backlog_and_merges(spark, tmp_path):
    # scope the cache-release assertion to this test's own caches —
    # other suite tests may legitimately hold some (see
    # test_properties.py for the same pattern)
    jsc = spark.sparkContext._jsc.sc()
    preexisting = int(jsc.getPersistentRDDs().size())
    src = str(tmp_path / "bindings")
    _write_batch(spark, BATCH_A, src + "/a")
    _write_batch(spark, BATCH_B, src + "/b")
    # file source reads subdirs only with glob; write files flat instead
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    import os

    os.makedirs(flat)
    for i, d in enumerate(("a", "b")):
        f = glob.glob(f"{src}/{d}/*.parquet")[0]
        shutil.copy(f, f"{flat}/batch_{i}.parquet")

    state, totals = harvest_stream(
        spark,
        flat,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        batch_ts=_T,
    )
    uris = {r.uri for r in state.terms.collect()}
    assert uris == {
        "http://v.example/c1",
        "http://v.example/c2",
        "http://v.example/c3",
    }
    fields = {
        (r.term_id, r.field_uri, r.original_value)
        for r in state.term_fields.collect()
    }
    # c1 carries prefLabel + two alts + definition; totals add up
    assert totals.terms_inserted == 3
    vals = {v for (_, _, v) in fields}
    assert {"One", "Uno", "Eins", "first", "Two", "Three", "third"} <= vals
    # bounded caching: every micro-batch released its caches on commit
    assert int(jsc.getPersistentRDDs().size()) == preexisting


def test_stream_totals_equal_harvest_run_totals(spark, tmp_path):
    """The stream commits each micro-batch through ``harvest_run``, so
    draining the bindings files gives the totals of one ``harvest_run``
    over the same files."""
    import glob
    import os
    import shutil

    from setup_harvest_action_spark.harvest.load import LoadStats, harvest_run

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, rows in enumerate((BATCH_A, BATCH_B)):
        src = str(tmp_path / f"src{i}")
        _write_batch(spark, rows, src)
        shutil.copy(glob.glob(src + "/*.parquet")[0], f"{flat}/batch_{i}.parquet")

    _, streamed = harvest_stream(
        spark, flat, str(tmp_path / "stream_state"), str(tmp_path / "ckpt"),
        batch_ts=_T,
    )
    pages = [
        spark.read.schema(SPARQL_BINDINGS).parquet(f)
        for f in sorted(glob.glob(flat + "/*.parquet"))
    ]
    _, run = harvest_run(spark, pages, str(tmp_path / "run_state"), batch_ts=_T)
    # c1, c2 then c3 inserted; c1 updated by the second file; fields:
    # c1 One/Uno/first + Eins, c2 Two, c3 Three/third
    assert streamed == run == LoadStats(3, 1, 7)


def test_stream_resume_skips_processed_files(spark, tmp_path):
    import glob
    import os
    import shutil

    src = str(tmp_path / "b0")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    _write_batch(spark, BATCH_A, src)
    shutil.copy(glob.glob(src + "/*.parquet")[0], flat + "/batch_0.parquet")

    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    _, t1 = harvest_stream(spark, flat, state_dir, ckpt, batch_ts=_T)
    assert t1.terms_inserted == 2

    # second drain with NO new files: checkpoint skips everything
    _, t2 = harvest_stream(spark, flat, state_dir, ckpt, batch_ts=_T)
    assert t2.terms_inserted == 0 and t2.fields_inserted == 0

    # drop batch B, drain again: only the new file is processed, and
    # the resumed state upserts instead of re-inserting
    src_b = str(tmp_path / "b1")
    _write_batch(spark, BATCH_B, src_b)
    shutil.copy(glob.glob(src_b + "/*.parquet")[0], flat + "/batch_1.parquet")
    state, t3 = harvest_stream(spark, flat, state_dir, ckpt, batch_ts=_T)
    assert t3.terms_inserted == 1  # only c3 is new
    assert state.terms.count() == 3


def test_read_latest_slot_prefers_slot0_on_tie(spark, tmp_path):
    """With neither slot carrying a commit marker (equal mtime=0.0),
    the documented conservative fallback is slot=0 — the tuple max()
    must not tie-break on the path string (which would pick slot=1)."""
    import os

    import pyspark.sql.functions as F

    from setup_harvest_action_spark.harvest.load import HarvestState

    for slot, uri in (("slot=0", "http://vocab.example/a"),
                      ("slot=1", "http://vocab.example/b")):
        d = os.path.join(str(tmp_path), slot)
        terms = spark.createDataFrame(
            [(1, uri)], "id long, uri string"
        ).withColumn("created_at", F.current_timestamp()).withColumn(
            "updated_at", F.current_timestamp()
        )
        fields = spark.createDataFrame(
            [], "id long, term_id long, field_uri string, field_term string, "
            "original_value string, created_at timestamp, updated_at timestamp"
        )
        terms.write.mode("overwrite").parquet(os.path.join(d, "terms"))
        fields.write.mode("overwrite").parquet(os.path.join(d, "term_fields"))
        os.remove(os.path.join(d, "terms", "_SUCCESS"))

    state = HarvestState.latest(spark, str(tmp_path))
    assert state is not None
    assert [r.uri for r in state.terms.collect()] == ["http://vocab.example/a"]


def test_bucketed_stream_two_tranches_with_restart(spark, tmp_path):
    """harvest_stream_bucketed: drop files in two tranches with a full
    restart between drains.  The checkpoint skips processed files, the
    bucket-pruned merge upserts instead of re-inserting, and buckets
    untouched by the second tranche keep byte-identical files."""
    import glob
    import os
    import shutil

    from setup_harvest_action_spark.streaming.ingest import (
        harvest_stream_bucketed,
    )

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    src = str(tmp_path / "a")
    _write_batch(spark, BATCH_A, src)
    shutil.copy(glob.glob(src + "/*.parquet")[0], flat + "/t0.parquet")

    root, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    state, t1 = harvest_stream_bucketed(
        spark, flat, root, ckpt, batch_ts=_T, n_buckets=8
    )
    assert t1.terms_inserted == 2 and t1.fields_inserted == 4

    snapshot = {
        p: (os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(root + "/terms/data/*/bucket_p=*/*.parquet")
    }

    # restart: fresh call, same checkpoint — nothing re-processed
    state, t2 = harvest_stream_bucketed(
        spark, flat, root, ckpt, batch_ts=_T, n_buckets=8
    )
    assert t2 == type(t2)(0, 0, 0)

    # second tranche: only the new file processed; c1 updated not
    # re-inserted, c3 inserted
    src_b = str(tmp_path / "b")
    _write_batch(spark, BATCH_B, src_b)
    shutil.copy(glob.glob(src_b + "/*.parquet")[0], flat + "/t1.parquet")
    state, t3 = harvest_stream_bucketed(
        spark, flat, root, ckpt, batch_ts=_T, n_buckets=8
    )
    assert t3.terms_inserted == 1  # only c3
    terms = {r["uri"] for r in state.terms().collect()}
    assert terms == {
        "http://v.example/c1",
        "http://v.example/c2",
        "http://v.example/c3",
    }

    # buckets the second tranche never touched are bit-for-bit intact
    from setup_harvest_action_spark.harvest.bucketed import _bucket_of
    import pyspark.sql.functions as F

    touched = {
        r["b"]
        for r in spark.createDataFrame(
            [(u,) for u, *_ in BATCH_B], "uri string"
        ).select(_bucket_of("uri", 8).alias("b")).collect()
    }
    untouched_files = [
        p for p in snapshot
        if int(p.split("bucket_p=")[1].split("/")[0]) not in touched
    ]
    assert untouched_files, "fixture must leave at least one bucket untouched"
    for p in untouched_files:
        assert os.path.exists(p)
        assert (os.path.getsize(p), os.path.getmtime(p)) == snapshot[p]
